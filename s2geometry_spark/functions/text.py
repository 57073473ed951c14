"""Portable text primitives for the training-data pipeline layer.

Every primitive that feeds a correctness-gated query has a DuckDB SQL
twin here (the ``*_sql`` functions), which the oracle replays. The
portable decisions are:

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

MinHash, SimHash and decontamination hash text through one function,
``shingle_hashes``: one Arrow pass per document in the Python worker,
one md5 per shingle, numpy after it.
"""

from __future__ import annotations

import re
from hashlib import md5

import numpy as np
import pyarrow as pa
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
# semantics in both engines. Python's str.split() is NOT this class: it
# also splits on \x1c-\x1f, U+0085, U+00A0 and U+2028.
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


# ---------------------------------------------------------------------------
# Shingle hashes: one Arrow pass per document (MinHash, SimHash,
# decontamination)
# ---------------------------------------------------------------------------

_SPLIT_BYTES = re.compile(TOKEN_SPLIT_RE.encode())


def shingle_hashes(texts: pa.Array, k: int
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lens, h1, h2) for the k-token shingles of each document of an
    Arrow text column: lens[i] is document i's shingle count (0 for
    null text or < k tokens); h1 and h2 run over all shingles in
    document and text order. One md5 per shingle: h1 = bits 0..59 (==
    h60 of the shingle), h2 = bits 60..91.

    The text is split as bytes, never decoded, on TOKEN_SPLIT_RE with
    empty tokens dropped. Its six ASCII bytes never occur inside a
    multi-byte UTF-8 sequence, so valid UTF-8 tokenizes as in the JVM
    and the DuckDB twins. Text that is not UTF-8 (a binary -> string
    cast) hashes its raw bytes, split at the same six bytes; it never
    fails the task.
    """
    lens = np.zeros(len(texts), dtype=np.int64)
    digests = []
    for i, text in enumerate(texts.cast(pa.large_binary()).to_pylist()):
        if text:
            toks = [t for t in _SPLIT_BYTES.split(text) if t]
            shingles = map(b" ".join, zip(*[toks[o:] for o in range(k)]))
            digest = b"".join([md5(s).digest() for s in shingles])
            lens[i] = len(digest) // 16
            digests.append(digest)
    # each digest as two big-endian words: bits 0..63 and 64..127
    words = np.frombuffer(b"".join(digests), dtype=">u8").reshape(-1, 2)
    hi, lo = words[:, 0], words[:, 1]
    h1 = (hi >> 4).astype(np.int64)
    h2 = (((hi & 0xF) << 28) | (lo >> 36)).astype(np.int64)
    return lens, h1, h2


def first_distinct(lens: np.ndarray, vals: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Per document (lens as in shingle_hashes), the distinct values in
    first-occurrence order — Spark's array_distinct — as (lens, vals)."""
    doc = np.repeat(np.arange(len(lens)), lens)
    order = np.lexsort((vals, doc))        # stable: ties keep text order
    d, v = doc[order], vals[order]
    first = np.ones(len(order), dtype=bool)
    first[1:] = (d[1:] != d[:-1]) | (v[1:] != v[:-1])
    keep = np.zeros(len(vals), dtype=bool)
    keep[order[first]] = True
    return np.bincount(doc[keep], minlength=len(lens)), vals[keep]


def h60_from_md5_sql(m_expr: str) -> str:
    return f"CAST(CONCAT('0x', SUBSTRING({m_expr}, 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# MinHash signatures
# ---------------------------------------------------------------------------

N_MINHASH = 16  # 4 bands x 4 rows (LSH threshold ~ (1/4)^(1/4) ~ 0.71)
N_BANDS = 4
BAND_ROWS = N_MINHASH // N_BANDS


_MAX_LONG = (1 << 63) - 1


def shingle_md5s_sql(shingles_col: str) -> str:
    return f"[md5(s) for s in {shingles_col}]"


def minhash_sigs(md5s: Column, n: int = N_MINHASH) -> Column:
    """array<long> of n minhash values over per-shingle md5 hex strings
    — the JVM reference fold that tests compare
    dedup.minhash_signatures against.

    Hash family (Kirsch–Mitzenmacher affine): from one md5 per shingle
    take h1 = bits of hex[0:15] (60 bits, == h60 of the shingle) and
    h2 = bits of hex[15:23] (32 bits); sig_j = min over shingles of
    h1 + j*h2. All values stay < 2^60 + 16*2^32 < 2^61 — exact int64,
    no overflow, portable to the DuckDB oracle verbatim. One md5 per
    shingle, not n seeded ones: n=16 md5s per shingle measured ~20x
    slower at 50k docs.

    Docs with no shingles fold to [MAX_LONG; n] — filter them first.
    """
    init = F.array_repeat(F.lit(_MAX_LONG), n)

    def step(acc: Column, m: Column) -> Column:
        h1 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
        h2 = F.conv(F.substring(m, 16, 8), 16, 10).cast("long")
        hashes = F.array(*[h1 + F.lit(j) * h2 for j in range(n)])
        return F.zip_with(acc, hashes, lambda a, b: F.least(a, b))

    return F.aggregate(md5s, init, step)


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
