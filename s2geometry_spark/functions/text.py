"""Portable text primitives for the training-data pipeline layer.

Design rule (mirrors functions/geo.py A36): every primitive that feeds
a correctness-gated query exists in TWO textually-distinct but
semantically-identical forms — a Spark Column expression (JVM-side,
whole-stage codegen, no Python) and a DuckDB SQL string for the oracle.
Both are built from engine-portable operations only:

* ``h60(s)`` — a 60-bit hash: first 15 hex digits of md5(utf8(s)) read
  as an integer. md5 is bit-identical everywhere; 60 bits always fit a
  *positive* int64, so no signed-order pitfalls (SURVEY §2.2 does not
  apply here). It is the MinHash operators' only hash family: an
  xxhash64 family measured 13% faster end to end but had no
  non-test caller and no DuckDB twin, so it was deleted
  (BENCH/PLAN_EVIDENCE.md keeps the A/B).

* tokenization — split on runs of ``[ \\t\\n\\r\\f\\x0b]`` (an explicit
  class, not ``\\s``: Java regex ``\\s`` includes vertical tab \\x0b
  while DuckDB/RE2 ``\\s`` does not, so the shorthand silently diverges
  between the engines on any text containing a VT), empties dropped.

* k-token shingles — ``k`` consecutive tokens joined by one space.

All Spark forms use higher-order functions (transform/filter/aggregate/
zip_with) so the hot path never leaves the JVM: no UDF, no shuffle,
scales linearly with executors.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# h60 — the portable 60-bit hash
# ---------------------------------------------------------------------------


def h60(s: Column) -> Column:
    """First 60 bits of md5(utf8(s)) as a positive int64 (JVM codegen)."""
    return F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """The identical value in DuckDB SQL."""
    return f"CAST(CONCAT('0x', SUBSTRING(md5({expr}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Tokenization / shingling
# ---------------------------------------------------------------------------

# Explicit ASCII-whitespace class, NOT \s: Java \s = [ \t\n\x0b\f\r]
# but RE2 (DuckDB) \s excludes \x0b — the explicit class pins identical
# semantics in both engines (and matches Python str.split for ASCII).
TOKEN_SPLIT_RE = r"[ \t\n\r\f\x0b]+"


def tokens(text: Column) -> Column:
    """array<string> of whitespace tokens, empties dropped."""
    return F.filter(F.split(text, TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


def tokens_sql(expr: str) -> str:
    return (f"list_filter(string_split_regex({expr}, "
            f"'[ \\t\\n\\r\\f\\x0b]+'), t -> t <> '')")


def shingles(toks: Column, k: int = 3) -> Column:
    """array<string> of k-token shingles (space-joined), [] if < k tokens.

    Built as a zip of k shifted views of the token array (k-1 zip_with
    passes) rather than per-shingle slice+join — the slice form copies
    a k-array per shingle and measured 5x slower at 50k docs. Nulls
    from the short tails propagate through every zip stage (concat_ws
    would silently SKIP nulls — the when() guards are load-bearing)
    and are filtered at the end. The `when(n >= k)` outer guard matters
    too: slice() with a negative length throws on empty token arrays,
    so lengths are clamped with greatest(0, .).
    """
    n = F.size(toks)
    z = toks
    for off in range(2, k + 1):
        shifted = F.slice(toks, off, F.greatest(F.lit(0), n - (off - 1)))
        z = F.zip_with(z, shifted,
                       lambda acc, nxt: F.when(
                           acc.isNotNull() & nxt.isNotNull(),
                           F.concat_ws(" ", acc, nxt)))
    return F.when(n >= k, F.filter(z, lambda x: x.isNotNull())) \
        .otherwise(F.array().cast("array<string>"))


def shingles_sql(toks_col: str, k: int = 3) -> str:
    """DuckDB twin. `toks_col` must be a (cheap) column name from a
    prior CTE stage — it is referenced twice (DuckDB has no multi-`for`
    comprehension to bind it once). Slice l[i:j] is inclusive;
    range(a,b) is empty when b <= a, which handles short docs."""
    return (f"[array_to_string({toks_col}[i:i+{k - 1}], ' ') "
            f"for i in range(1, len({toks_col})-{k - 2})]")


def h60_from_md5(m: Column) -> Column:
    """h60 value from an already-computed md5 hex string (bits 0..59)."""
    return F.conv(F.substring(m, 1, 15), 16, 10).cast("long")


def md5_h2(m: Column) -> Column:
    """32-bit second hash for the affine minhash family: md5 hex bits
    60..91 (the fold's h2 = conv(hex[15:23]))."""
    return F.conv(F.substring(m, 16, 8), 16, 10).cast("long")


def h60_from_md5_sql(m_expr: str) -> str:
    return f"CAST(CONCAT('0x', SUBSTRING({m_expr}, 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# MinHash signatures
# ---------------------------------------------------------------------------

N_MINHASH = 16  # 4 bands x 4 rows (LSH threshold ~ (1/4)^(1/4) ~ 0.71)
N_BANDS = 4
BAND_ROWS = N_MINHASH // N_BANDS


_MAX_LONG = (1 << 63) - 1


def shingle_md5s(shingle_strs: Column) -> Column:
    """array<string>: ONE md5 hex per shingle — the only crypto-hash
    work in the minhash pipeline; everything else is int arithmetic."""
    return F.transform(shingle_strs,
                       lambda s: F.md5(F.encode(s, "UTF-8")))


def shingle_md5s_sql(shingles_col: str) -> str:
    return f"[md5(s) for s in {shingles_col}]"


def minhash_sigs(md5s: Column, n: int = N_MINHASH) -> Column:
    """array<long> of n minhash values over per-shingle md5 hex strings.

    Hash family (Kirsch–Mitzenmacher affine): from one md5 per shingle
    take h1 = bits of hex[0:15] (60 bits, == h60 of the shingle) and
    h2 = bits of hex[15:23] (32 bits); sig_j = min over shingles of
    h1 + j*h2. All values stay < 2^60 + 16*2^32 < 2^61 — exact int64,
    no overflow, portable to the DuckDB oracle verbatim.

    Why not n independent seeded md5s: md5 inside a higher-order
    lambda runs on Spark's interpreted expression path; n=16 md5s per
    shingle measured ~20x slower at 50k docs. One-pass aggregate fold
    also prevents Catalyst's projection collapse from inlining the
    shingle pipeline into every signature slot.

    Docs with no shingles fold to [MAX_LONG; n] — callers filter short
    docs first (minhash_signatures does).
    """
    init = F.array_repeat(F.lit(_MAX_LONG), n)

    def step(acc: Column, m: Column) -> Column:
        h1 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
        h2 = F.conv(F.substring(m, 16, 8), 16, 10).cast("long")
        hashes = F.array(*[h1 + F.lit(j) * h2 for j in range(n)])
        return F.zip_with(acc, hashes, lambda a, b: F.least(a, b))

    return F.aggregate(md5s, init, step)


def affine_min_sigs(h1s: Column, h2s: Column, n: int = N_MINHASH) -> Column:
    """array<long> of n minhash values from PRE-STAGED per-shingle
    (h1, h2) array columns: sig_j = array_min(zip_with(h1s, h2s,
    a + b*j)) — one vectorized pass per signature slot.

    Value-identical to the minhash_sigs aggregate fold (min over the
    same exact-int affine family; shingle multiplicity cannot change a
    min), but measured ~7x cheaper at 50k docs (round 4): the fold
    allocates a 16-wide array per SHINGLE and runs 32 interpreted
    lambda ops per shingle, where this shape runs 16 flat
    zip_with+array_min passes over long arrays. h1s/h2s must come from
    a separate projection stage (dedup.minhash_signatures) so the 17
    references here bind to computed columns — tests/test_plans.py
    asserts the upstream crypto hash is NOT re-inlined per slot.

    Docs with no shingles yield nulls (array_min of empty) — callers
    filter short docs first, as with the fold."""
    return F.array(*[
        F.array_min(F.zip_with(h1s, h2s, lambda a, b: a + b * F.lit(j)))
        for j in range(n)])


def minhash_sigs_sql(md5s_col: str, n: int = N_MINHASH) -> str:
    """DuckDB twin over a per-shingle md5-hex list column."""
    h1 = "CAST(CONCAT('0x', SUBSTRING(m, 1, 15)) AS BIGINT)"
    h2 = "CAST(CONCAT('0x', SUBSTRING(m, 16, 8)) AS BIGINT)"
    per_seed = ", ".join(
        f"list_min([{h1} + {j} * {h2} for m in {md5s_col}])"
        for j in range(n))
    return f"[{per_seed}]"


def band_keys(sigs: Column, n_bands: int = N_BANDS,
              rows: int = BAND_ROWS) -> Column:
    """array<long> of n_bands LSH band keys: h60 of the comma-joined
    signature slice for the band."""
    return F.array(*[
        h60(F.concat_ws(",", *[
            F.element_at(sigs, b * rows + r + 1).cast("string")
            for r in range(rows)]))
        for b in range(n_bands)
    ])


def band_keys_sql(sigs_col: str, n_bands: int = N_BANDS,
                  rows: int = BAND_ROWS) -> str:
    per_band = ", ".join(
        h60_sql(f"array_to_string({sigs_col}[" + str(b * rows + 1) + ":"
                + str(b * rows + rows) + "], ',')")
        for b in range(n_bands))
    return f"[{per_band}]"


# ---------------------------------------------------------------------------
# SimHash (60-bit, from token h60 hashes with multiplicity)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4          # LSH: 4 x 15-bit chunks; hamming<=3 guarantee
SIMHASH_CHUNK_BITS = 15


def token_hashes(text: Column) -> Column:
    """array<long> h60 per token (multiplicity kept — spec choice)."""
    return F.transform(tokens(text), h60)


def token_hashes_sql(text_expr: str) -> str:
    return f"[{h60_sql('t')} for t in {tokens_sql(text_expr)}]"


def simhash_chunk(sim: Column, c: int) -> Column:
    """15-bit chunk c of a simhash — the LSH join key."""
    return F.shiftright(sim, c * SIMHASH_CHUNK_BITS).bitwiseAND(
        F.lit((1 << SIMHASH_CHUNK_BITS) - 1))


# ---------------------------------------------------------------------------
# Rolling-hash document fingerprint (char-level, window=16)
# ---------------------------------------------------------------------------

FP_WINDOW = 16


def fingerprint(text: Column, window: int = FP_WINDOW) -> Column:
    """min over all `window`-char substrings of h60 — a winnowing-style
    content fingerprint robust to token reordering at the edges.
    Docs shorter than `window` hash the whole text."""
    n = F.length(text)
    return F.when(
        n >= window,
        F.array_min(F.transform(
            F.sequence(F.lit(1), n - (window - 1)),
            lambda i: h60(F.substring(text, i, window)))),
    ).otherwise(h60(text))


def fingerprint_sql(text_col: str, window: int = FP_WINDOW) -> str:
    whole = h60_sql(text_col)
    rolled = (f"list_min([{h60_sql(f'substring({text_col}, i, {window})')} "
              f"for i in range(1, 2+len({text_col})-{window})])")
    return (f"CASE WHEN length({text_col}) >= {window} "
            f"THEN {rolled} ELSE {whole} END")
