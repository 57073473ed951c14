"""Text-analysis operators: quality scoring, token counting, language
identification, document fingerprinting.

All scoring arithmetic is written with an exact, fixed operation order
(ints until a final division/multiply chain) so the DuckDB oracle
reproduces results bit-for-bit — same rule as functions/geo.py A36.

``lang_id`` is the one genuinely two-pass distributed operator here:
pass 1 aggregates per-language letter-count centroids over the corpus
(exact integer sums — order-free, so cross-engine safe), pass 2
classifies every document against the broadcast centroids with a
fixed-order cosine. No shuffle in pass 2: the argmax is a per-row
array_sort over 5 structs, not a window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType

from ..functions import text as T

STOPWORDS = ("a", "the", "of", "to", "and", "in", "is", "it", "for", "on")
SUBTOKEN_RE = "[a-z0-9]+"
# punctuation = anything that is not alphanumeric or ASCII whitespace
# (explicit class — same Java-vs-RE2 \s/\x0b pitfall as functions/text.py)
PUNCT_RE = r"[^a-zA-Z0-9 \t\n\r\f\x0b]"
# the engine counts punct chars by DELETING the allowed set with
# translate() (a per-char table lookup) instead of matching PUNCT_RE —
# the negated-class regex was the round-2 text_quality 4.2x regression
# (1.6s of the query's 1.8s at bench scale; translate: 0.23s). Any char
# outside this 68-char ASCII set — including every non-ASCII char —
# survives translate and matches PUNCT_RE, so the counts are identical.
_NON_PUNCT_CHARS = ("abcdefghijklmnopqrstuvwxyz"
                    "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 \t\n\r\f\x0b")
N_LETTERS = 26


# ---------------------------------------------------------------------------
# Quality / token stats (pure JVM column math)
# ---------------------------------------------------------------------------

def text_quality(pages: DataFrame, id_col: str = "url",
                 text_col: str = "text") -> DataFrame:
    """(url, n_tokens, n_distinct, n_subtokens, mean_token_len,
    stopword_ratio, punct_ratio, quality_score).

    quality_score is a deterministic combination of length/stopword
    signals in [0, ~1]; the exact formula is the spec (mirrored in the
    oracle), not a claim about linguistics.
    """
    toks = T.tokens(F.col(text_col))
    df = pages.select(F.col(id_col), F.col(text_col).alias("_t"),
                      toks.alias("_toks"))
    n_tokens = F.size("_toks")
    n_distinct = F.size(F.array_distinct("_toks"))
    # regexp_count, not size(regexp_extract_all): same value, but no
    # per-row match array is materialized (matters at 100 TB of text)
    n_sub = F.regexp_count(F.col("_t"), F.lit(SUBTOKEN_RE))
    total_chars = F.aggregate("_toks", F.lit(0),
                              lambda acc, t: acc + F.length(t))
    n_stop = F.size(F.filter("_toks", lambda t: t.isin(*STOPWORDS)))
    # punct chars = what's left after deleting the allowed ASCII set
    # (see _NON_PUNCT_CHARS — 7x faster than the PUNCT_RE regex)
    n_punct = F.length(F.translate(F.col("_t"), _NON_PUNCT_CHARS, ""))

    mean_len = total_chars.cast("double") / n_tokens.cast("double")
    stop_ratio = n_stop.cast("double") / n_tokens.cast("double")
    punct_ratio = n_punct.cast("double") / F.length("_t").cast("double")
    distinct_ratio = n_distinct.cast("double") / n_tokens.cast("double")
    # fixed-order float chain — mirrored verbatim in the oracle SQL
    score = (stop_ratio * F.lit(0.5)
             + distinct_ratio * F.lit(0.3)
             + F.least(F.lit(1.0), n_tokens.cast("double") / F.lit(64.0))
             * F.lit(0.2))
    return (df.filter(n_tokens > 0)
            .select(id_col,
                    n_tokens.alias("n_tokens"),
                    n_distinct.alias("n_distinct"),
                    n_sub.alias("n_subtokens"),
                    mean_len.alias("mean_token_len"),
                    stop_ratio.alias("stopword_ratio"),
                    punct_ratio.alias("punct_ratio"),
                    score.alias("quality_score")))


def quality_sql_exprs(text_col: str) -> dict[str, str]:
    """The DuckDB twins, keyed by output column. `text_col`/`toks` must
    be columns of a prior CTE stage providing toks = tokens_sql."""
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_tokens = "len(toks)"
    n_stop = f"len(list_filter(toks, t -> t IN ({stop_list})))"
    return {
        "n_tokens": f"CAST({n_tokens} AS INT)",
        "n_distinct": "CAST(len(list_distinct(toks)) AS INT)",
        "n_subtokens": (f"CAST(len(regexp_extract_all({text_col},"
                        f" '{SUBTOKEN_RE}')) AS INT)"),
        "mean_token_len": ("CAST(list_sum([length(t) for t in toks]) AS DOUBLE)"
                           f" / CAST({n_tokens} AS DOUBLE)"),
        "stopword_ratio": (f"CAST({n_stop} AS DOUBLE)"
                           f" / CAST({n_tokens} AS DOUBLE)"),
        "punct_ratio": (
            f"CAST(length({text_col}) - length(regexp_replace({text_col},"
            f" '[^a-zA-Z0-9 \\t\\n\\r\\f\\x0b]', '', 'g')) AS DOUBLE)"
            f" / CAST(length({text_col}) AS DOUBLE)"),
        "quality_score": (
            f"(CAST({n_stop} AS DOUBLE) / CAST({n_tokens} AS DOUBLE)) * 0.5"
            " + (CAST(len(list_distinct(toks)) AS DOUBLE)"
            f" / CAST({n_tokens} AS DOUBLE)) * 0.3"
            f" + least(1.0, CAST({n_tokens} AS DOUBLE) / 64.0) * 0.2"),
    }


# ---------------------------------------------------------------------------
# Token counting — whitespace + BPE-ish pretokenizer (GPT-2-style)
# ---------------------------------------------------------------------------

# GPT-2-ish pretokenizer, restricted to engine-portable constructs:
# contractions | optionally-space-prefixed letter runs | digit runs |
# punctuation runs | whitespace runs. The upstream pattern's
# `\s+(?!\S)` lookahead is NOT RE2-expressible (DuckDB), and \s itself
# diverges between Java and RE2 on \x0b (functions/text.py note), so
# both are replaced with explicit classes. Java and RE2 share
# leftmost-first alternation semantics, so counts are identical —
# verified by the token_counts gate.
BPE_RE = (r"'s|'t|'re|'ve|'m|'ll|'d"
          r"| ?[a-zA-Z]+| ?[0-9]+"
          r"| ?[^ a-zA-Z0-9\t\n\r\f\x0b]+"
          r"|[ \t\n\r\f\x0b]+")
_WS_ONLY_RE = r"^[ \t\n\r\f\x0b]+$"


def token_counts(pages: DataFrame, id_col: str = "url",
                 text_col: str = "text") -> DataFrame:
    """(url, n_ws_tokens, n_bpe_tokens, n_bytes, bytes_per_bpe_token):
    the two token-count spec variants for training-data budgeting —
    whitespace tokens and BPE-ish pretokenizer segments (whitespace
    runs excluded from the BPE count; a real BPE would merge within
    segments, so this upper-bounds tokens per segment boundary). All
    JVM higher-order/regex functions, no UDF."""
    toks = T.tokens(F.col(text_col))
    bpe = F.regexp_extract_all(F.col(text_col), F.lit(BPE_RE), 0)
    n_bpe = F.size(F.filter(bpe, lambda t: ~t.rlike(_WS_ONLY_RE)))
    n_bytes = F.length(F.encode(F.col(text_col), "UTF-8")).cast("long")
    return pages.select(
        F.col(id_col),
        F.size(toks).alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        n_bytes.alias("n_bytes"),
        (n_bytes.cast("double")
         / F.greatest(n_bpe, F.lit(1)).cast("double"))
        .alias("bytes_per_bpe_token"))


def token_counts_sql(docs_sql: str, id_col: str = "url",
                     text_col: str = "text") -> str:
    """DuckDB twin of token_counts over `docs_sql` (a relation
    providing id_col + text_col)."""
    bpe_sql = BPE_RE.replace("'", "''")
    bpe = f"regexp_extract_all({text_col}, '{bpe_sql}')"
    n_bpe = (f"len(list_filter({bpe},"
             f" t -> NOT regexp_matches(t, '^[ \\t\\n\\r\\f\\x0b]+$')))")
    n_ws = f"len({T.tokens_sql(text_col)})"
    n_bytes = f"octet_length(encode({text_col}))"  # BYTE length, not chars
    return f"""
        SELECT {id_col} AS url,
               CAST({n_ws} AS INT) AS n_ws_tokens,
               CAST({n_bpe} AS INT) AS n_bpe_tokens,
               CAST({n_bytes} AS BIGINT) AS n_bytes,
               CAST({n_bytes} AS DOUBLE)
                   / CAST(greatest({n_bpe}, 1) AS DOUBLE)
                   AS bytes_per_bpe_token
        FROM {docs_sql}
    """


# ---------------------------------------------------------------------------
# Document fingerprint (rolling hash, functions/text.py::fingerprint)
# ---------------------------------------------------------------------------

def fingerprints(pages: DataFrame, id_col: str = "url",
                 text_col: str = "text") -> DataFrame:
    return pages.select(
        F.col(id_col), T.fingerprint(F.col(text_col)).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Language ID — nearest-centroid over letter-frequency vectors
# ---------------------------------------------------------------------------

@pandas_udf(ArrayType(IntegerType()))
def letter_counts_udf(text: pd.Series) -> pd.Series:
    """26-dim count vector of [a-z] occurrences in lower(text).

    Byte-level counting: a-z never appear as UTF-8 continuation bytes,
    so byte counts equal char counts on any input. Vectorized: one
    flat byte array, one bincount over row*27+code.
    """
    lowered = text.str.lower()
    lens = lowered.str.len().to_numpy(dtype=np.int64)  # char counts
    n = len(lens)
    joined = "".join(lowered.tolist())
    flat = np.frombuffer(joined.encode("utf-8"), dtype=np.uint8)
    code = flat.astype(np.int64) - ord("a")
    code[(code < 0) | (code >= N_LETTERS)] = N_LETTERS
    if flat.size == lens.sum():
        # pure-ASCII batch: bytes == chars, rows repeat directly
        row = np.repeat(np.arange(n), lens)
    else:
        # mixed batch: map each byte to its row fully vectorized — a
        # byte starts a char iff it is not a UTF-8 continuation byte
        # (0b10xxxxxx); its char index then buckets into rows by the
        # cumulative char lengths. (The round-1 version fell back to a
        # per-row encode loop here.)
        starts = (flat & 0xC0) != 0x80
        char_idx = np.cumsum(starts) - 1
        row = np.searchsorted(np.cumsum(lens), char_idx, side="right")
    counts = np.bincount(row * (N_LETTERS + 1) + code,
                         minlength=n * (N_LETTERS + 1))
    mat = counts.reshape(n, N_LETTERS + 1)[:, :N_LETTERS]
    return pd.Series(list(mat.astype(np.int32)))


def lang_centroids(pages: DataFrame, lang_col: str = "lang",
                   text_col: str = "text") -> list[tuple[str, list[int]]]:
    """Pass 1: exact integer letter-count sums per language (order-free
    aggregation — safe to compare cross-engine). Returns driver-side
    [(lang, [26 ints])] sorted by lang."""
    cnt = pages.select(F.col(lang_col),
                       letter_counts_udf(F.col(text_col)).alias("c"))
    aggs = [F.sum(F.element_at("c", i + 1)).alias(f"s{i}")
            for i in range(N_LETTERS)]
    rows = cnt.groupBy(lang_col).agg(*aggs).collect()
    return sorted((r[lang_col], [int(r[f"s{i}"]) for i in range(N_LETTERS)])
                  for r in rows)


def lang_id(pages: DataFrame, id_col: str = "url", lang_col: str = "lang",
            text_col: str = "text") -> DataFrame:
    """(url, lang, lang_pred): nearest centroid by fixed-order dot/|c|.

    The per-document norm is a common positive factor across languages
    and is dropped from the argmax — fewer float ops, same winner.
    Ties break on lang ascending (array_sort on (score desc, lang)).

    The letter-count UDF output is persisted across the two passes:
    the centroid aggregation (an eager collect) materializes it, and
    the classification pass then reads the cache instead of re-running
    the Arrow UDF over the full corpus — one text pass, not two. The
    cache is released once the returned frame is localCheckpoint'ed
    (the result is at most one row per input row; the operator is
    eager anyway because pass 1 collects).
    """
    cnt = pages.select(F.col(id_col), F.col(lang_col),
                       letter_counts_udf(F.col(text_col)).alias("_c")) \
        .persist()
    aggs = [F.sum(F.element_at("_c", i + 1)).alias(f"s{i}")
            for i in range(N_LETTERS)]
    rows = cnt.groupBy(lang_col).agg(*aggs).collect()
    cents = sorted((r[lang_col], [int(r[f"s{i}"]) for i in range(N_LETTERS)])
                   for r in rows)
    best = lang_best_expr(cents, F.col("_c"))
    out = cnt.select(id_col, lang_col, best.alias("lang_pred")) \
        .localCheckpoint(eager=True)
    cnt.unpersist()
    return out


def lang_best_expr(cents: list, lc_col) -> "F.Column":
    """Nearest-centroid language from a 26-int letter-count column —
    the classification half of lang_id as a reusable pure expression
    (r5: pipeline.corpus_pipeline inlines it so language id rides the
    single corpus scan instead of joining a second one). Ties break on
    lang ascending; the 26-term dot chain is built left-to-right so
    the op order is textually identical to the DuckDB oracle's."""
    entries = []
    for lang, vec in cents:
        norm = float(np.sqrt(float(sum(v * v for v in vec))))
        dot = F.lit(0.0)
        # all 26 terms, ascending — zero-weight terms add exact 0.0
        # (harmless, kept for symmetry of the expression tree)
        for i, v in enumerate(vec):
            dot = dot + F.element_at(lc_col, i + 1).cast("double") \
                * F.lit(float(v))
        score = dot / F.lit(norm)
        entries.append(F.struct((-score).alias("ns"),
                                F.lit(lang).alias("lang")))
    return F.array_sort(F.array(*entries))[0]["lang"]


def lang_id_oracle_sql(docs_cte: str) -> str:
    """Fully self-contained DuckDB twin of lang_id (both passes — an
    independent dual implementation, no engine state passed in).
    `docs_cte` must provide (url, lang, lc) with lc = 26-int letter
    counts (letter_counts_sql).

    Pass 1 centroid sums are exact BIGINT aggregates (order-free); the
    pass 2 dot is the same left-to-right 26-term chain the engine
    builds, and sum-of-squares norms stay in exact integer arithmetic
    until one final sqrt.
    """
    cent_cols = ", ".join(
        f"CAST(SUM(lc[{i + 1}]) AS BIGINT) AS s{i}" for i in range(N_LETTERS))
    dot = " + ".join(
        f"CAST(d.lc[{i + 1}] AS DOUBLE) * CAST(c.s{i} AS DOUBLE)"
        for i in range(N_LETTERS))
    sumsq = " + ".join(f"c.s{i} * c.s{i}" for i in range(N_LETTERS))
    return f"""
        , cents AS (SELECT lang AS cand, {cent_cols}
                    FROM {docs_cte} GROUP BY lang)
        SELECT url, lang, cand AS lang_pred
        FROM (SELECT d.url, d.lang, c.cand,
                     (0.0 + {dot}) / sqrt(CAST({sumsq} AS DOUBLE)) AS score
              FROM {docs_cte} d CROSS JOIN cents c)
        QUALIFY row_number() OVER (PARTITION BY url
                                   ORDER BY score DESC, cand ASC) = 1
    """


def letter_counts_sql(text_col: str) -> str:
    """26-int letter-count list in DuckDB (replace-length trick)."""
    parts = ", ".join(
        f"CAST(length(lower({text_col})) - "
        f"length(replace(lower({text_col}), '{chr(ord('a') + i)}', ''))"
        " AS INT)"
        for i in range(N_LETTERS))
    return f"[{parts}]"


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021, public) — all-integer
# arithmetic so every flag is bit-portable to the DuckDB oracle (ratio
# thresholds become cross-multiplied integer comparisons; no floats).
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3    # mean word length in [3, 10]
GOPHER_MAX_MEAN_LEN = 10
GOPHER_HASH_PCT = 10       # '#' chars <= 10% of words
GOPHER_ELLIPSIS_PCT = 30   # lines ending '...' <= 30% of lines
GOPHER_BULLET_PCT = 90     # lines starting '- '/'* ' <= 90% of lines
GOPHER_MIN_STOPWORDS = 2   # >= 2 distinct stopwords present
GOPHER_ALPHA_PCT = 80      # >= 80% of words contain a letter


def gopher_flags(pages: DataFrame, id_col: str = "url",
                 text_col: str = "text",
                 extra_cols: tuple = ()) -> DataFrame:
    """(url, n_words, n_chars, n_lines, flag_*, keep) — the Gopher
    document-quality rules as one JVM-only pass (no UDF, no shuffle:
    a pure per-row projection that whole-stage-codegens).

    Every ratio rule r <= p% is evaluated as 100*count <= p*total in
    int64 — exact, order-free, and identical in DuckDB — so the gate
    hash-compares without any float-portability caveat.

    extra_cols: input columns to pass through untouched (r5 — lets
    pipeline.corpus_pipeline chain the per-row filter stages into ONE
    scan instead of re-reading the corpus per stage and joining).
    """
    toks = T.tokens(F.col(text_col))
    lines = F.split(F.col(text_col), "\n", -1)
    df = pages.select(F.col(id_col), *[F.col(c) for c in extra_cols],
                      F.col(text_col).alias("_t"),
                      toks.alias("_toks"), lines.alias("_lines"))
    n_words = F.size("_toks").cast("long")
    n_chars = F.length("_t").cast("long")
    n_lines = F.size("_lines").cast("long")
    sum_tok_chars = F.aggregate(
        "_toks", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    n_hash = (F.length("_t")
              - F.length(F.translate(F.col("_t"), "#", ""))).cast("long")
    n_ell = F.size(F.filter("_lines",
                            lambda l: l.endswith("..."))).cast("long")
    n_bullet = F.size(F.filter(
        "_lines",
        lambda l: l.startswith("- ") | l.startswith("* "))).cast("long")
    n_alpha = F.size(F.filter(
        "_toks", lambda t: t.rlike("[a-zA-Z]"))).cast("long")
    n_stop = F.size(F.array_intersect(
        F.array_distinct("_toks"),
        F.array(*[F.lit(s) for s in STOPWORDS]))).cast("long")

    f_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    f_mean = ((sum_tok_chars >= F.lit(GOPHER_MIN_MEAN_LEN) * n_words)
              & (sum_tok_chars <= F.lit(GOPHER_MAX_MEAN_LEN) * n_words))
    f_hash = F.lit(100) * n_hash <= F.lit(GOPHER_HASH_PCT) * n_words
    f_ell = F.lit(100) * n_ell <= F.lit(GOPHER_ELLIPSIS_PCT) * n_lines
    f_bullet = F.lit(100) * n_bullet <= F.lit(GOPHER_BULLET_PCT) * n_lines
    f_stop = n_stop >= GOPHER_MIN_STOPWORDS
    f_alpha = F.lit(100) * n_alpha >= F.lit(GOPHER_ALPHA_PCT) * n_words
    keep = (f_words & f_mean & f_hash & f_ell & f_bullet & f_stop & f_alpha)
    return df.select(
        id_col, *[F.col(c) for c in extra_cols],
        n_words.alias("n_words"), n_chars.alias("n_chars"),
        n_lines.alias("n_lines"),
        f_words.alias("flag_word_count"), f_mean.alias("flag_mean_len"),
        f_hash.alias("flag_hash_ratio"), f_ell.alias("flag_ellipsis"),
        f_bullet.alias("flag_bullet"), f_stop.alias("flag_stopwords"),
        f_alpha.alias("flag_alpha_words"), keep.alias("keep"))


def gopher_sql(docs_cte: str, text_col: str = "text") -> str:
    """The DuckDB twin of gopher_flags over a CTE named in docs_cte
    providing (url, text)."""
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    toks = T.tokens_sql(text_col)
    return f"""
        , gtok AS (SELECT url, {text_col} AS t, {toks} AS toks,
                          string_split({text_col}, chr(10)) AS ls
                   FROM {docs_cte})
        , gcnt AS (SELECT url,
                CAST(len(toks) AS BIGINT) AS n_words,
                CAST(length(t) AS BIGINT) AS n_chars,
                CAST(len(ls) AS BIGINT) AS n_lines,
                CAST(list_sum([length(x) for x in toks]) AS BIGINT)
                    AS sum_tc,
                CAST(length(t) - length(replace(t, '#', '')) AS BIGINT)
                    AS n_hash,
                CAST(len(list_filter(ls, l -> l LIKE '%...')) AS BIGINT)
                    AS n_ell,
                CAST(len(list_filter(ls, l -> l LIKE '- %'
                                             OR l LIKE '* %')) AS BIGINT)
                    AS n_bullet,
                CAST(len(list_filter(toks,
                         x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
                    AS n_alpha,
                CAST(len(list_intersect(list_distinct(toks),
                                        [{stop_list}])) AS BIGINT) AS n_stop
            FROM gtok)
        SELECT url, n_words, n_chars, n_lines,
            (n_words >= {GOPHER_MIN_WORDS}
             AND n_words <= {GOPHER_MAX_WORDS}) AS flag_word_count,
            (sum_tc >= {GOPHER_MIN_MEAN_LEN} * n_words
             AND sum_tc <= {GOPHER_MAX_MEAN_LEN} * n_words) AS flag_mean_len,
            (100 * n_hash <= {GOPHER_HASH_PCT} * n_words) AS flag_hash_ratio,
            (100 * n_ell <= {GOPHER_ELLIPSIS_PCT} * n_lines) AS flag_ellipsis,
            (100 * n_bullet <= {GOPHER_BULLET_PCT} * n_lines) AS flag_bullet,
            (n_stop >= {GOPHER_MIN_STOPWORDS}) AS flag_stopwords,
            (100 * n_alpha >= {GOPHER_ALPHA_PCT} * n_words) AS flag_alpha_words,
            ((n_words >= {GOPHER_MIN_WORDS}
              AND n_words <= {GOPHER_MAX_WORDS})
             AND (sum_tc >= {GOPHER_MIN_MEAN_LEN} * n_words
                  AND sum_tc <= {GOPHER_MAX_MEAN_LEN} * n_words)
             AND (100 * n_hash <= {GOPHER_HASH_PCT} * n_words)
             AND (100 * n_ell <= {GOPHER_ELLIPSIS_PCT} * n_lines)
             AND (100 * n_bullet <= {GOPHER_BULLET_PCT} * n_lines)
             AND (n_stop >= {GOPHER_MIN_STOPWORDS})
             AND (100 * n_alpha >= {GOPHER_ALPHA_PCT} * n_words)) AS keep
        FROM gcnt
    """


# ---------------------------------------------------------------------------
# Gopher repetition rules (Rae et al. 2021 Table A1, public) — the
# within-document repetition half of the quality filter: duplicate-line
# fractions and top-n-gram character coverage. Complements gopher_flags
# (which covers the length/symbol/stopword rules).
# ---------------------------------------------------------------------------

GOPHER_DUP_LINE_PCT = 30        # duplicate lines <= 30% of lines
GOPHER_DUP_LINE_CHAR_PCT = 20   # chars in duplicate lines <= 20%
GOPHER_TOP_NGRAM_PCT = {2: 20, 3: 18, 4: 16}   # top-n-gram char cover


def gopher_rep(pages: DataFrame, id_col: str = "url",
               text_col: str = "text", extra_cols: tuple = (),
               include_empty: bool = False) -> DataFrame:
    """(url, n_lines, n_dup_lines, line_chars, dup_line_chars,
    token_chars, top{2,3,4}_chars, flag_*, keep_rep) — the Gopher
    repetition rules, exact-integer throughout so every value and flag
    hash-compares against the DuckDB twin (gopher_rep_sql).

    Definitions (documented adaptations of Rae et al., self-contained
    so the operator needs NO second pass over the raw text):
    - a "duplicate line" is any non-empty '\\n'-line whose exact bytes
      occur >= 2 times in the SAME document; n_dup_lines counts every
      occurrence. Denominators: n_lines (non-empty lines) for the count
      rule, line_chars (sum of their lengths) for the char rule.
    - top{n}_chars = occurrences x length of the document's most
      frequent n-token shingle (space-joined, so the length includes
      the n-1 joining spaces), ties broken toward the lexicographically
      GREATEST shingle (max-struct — deterministic). Denominator is
      token_chars (total token occurrences x their lengths), the
      content-char count, not raw text length.
    - docs with no tokens AND no non-empty lines are excluded from the
      output, matching minhash_signatures' posture: an empty doc has
      no repetition to measure.

    Scale shape (10^12 rows): every count here groups WITHIN one
    document, so the operator is a pure per-row projection — NO
    shuffle, no window, no join (the r4 first cut exploded a tagged
    item stream through two hash aggregations; its 10^8-row item
    shuffle benched 22.6s at sf0.1 — 40x this formulation).

    r5 restaging (measured stage-by-stage in BENCH/profile_gopher.py;
    6.53s → see BENCH_r05 at sf0.1/local[32]):
    - line_chars/token_chars come from translate()-delete-and-length
      over the raw text (sum of split-part lengths == length minus
      separator count), not an aggregate fold per array — the r4
      profile showed three plain length-folds costing more than the
      array SORTS.
    - the three shingle arrays are built as one chained zip (z3 reuses
      z2's concatenated prefixes, z4 reuses z3's): 3 concat passes
      instead of the 1+2+3 = 6 of three independent shingles() calls.
    - the longest-run fold packs (cur, best) into ONE LONG
      (cur | best<<32) — the r4 accumulator allocated a 4-field struct
      per element and dominated the whole operator.
    - the winning gram is recovered AFTER the fold by an endpoint-equal
      window zip: every gram with count == best (necessarily the max)
      satisfies sg[i] == sg[i+best-1] for exactly one i, because a
      sorted array groups equal grams, so endpoint equality implies the
      whole window is one run. array_max over the matches is
      max(struct(cnt, gram)) — ties to the GREATEST gram, exactly the
      oracle's tie-break. (The r4 shape tracked the best run's end
      index inside the fold instead; correct, but paid the struct
      accumulator.)
    The DuckDB oracle keeps the independent unnest/GROUP BY
    formulation — the gate proves sort-runs ≡ group-counts.

    extra_cols passes input columns through untouched (the r5 pipeline
    chaining hook — see gopher_flags). include_empty=True keeps docs
    with no tokens AND no non-empty lines in the output instead of
    excluding them: their repetition rules are vacuously satisfied
    (every counter is 0 and 100*0 <= p*0), so keep_rep is true — a
    composed pipeline needs a verdict row for EVERY document, and an
    empty doc's fate is decided by the word-count quality rule, not by
    repetition.
    """
    toks = T.tokens(F.col(text_col))
    lines = F.filter(F.split(F.col(text_col), "\n", -1),
                     lambda l: l != F.lit(""))
    zero = F.lit(0).cast("long")
    ws = " \t\n\r\f\x0b"  # must match T.TOKEN_SPLIT_RE's class

    # stage 1: raw arrays + empty-doc exclusion via explode-of-
    # conditionally-empty-array, NOT a Filter: PushDownPredicates
    # substitutes a plain size() filter below this projection, which
    # re-tokenizes every row a second time inside the Filter node
    # (verified in the plan: split(text) appeared twice per column —
    # the CLAUDE.md null-intolerant-predicate trap's cousin). A
    # Generate node cannot be pushed through, and the lambda filter
    # reads the already-built struct, so tokenization runs ONCE.
    # line_chars = Σ len(non-empty line) = len(text) - #'\n' (empty
    # parts contribute 0); token_chars = Σ len(token) = len(text minus
    # every whitespace char). Both are translate()-deletes on the raw
    # text — O(len) JVM scans instead of per-element folds.
    packed = F.array(F.struct(toks.alias("t"), lines.alias("l")))
    if not include_empty:
        packed = F.filter(
            packed, lambda s: (F.size(s["t"]) > 0) | (F.size(s["l"]) > 0))
    ex = [F.col(c) for c in extra_cols]
    df = (pages.select(
            F.col(id_col), *ex,
            F.length(F.translate(F.col(text_col), "\n", ""))
            .cast("long").alias("line_chars"),
            F.length(F.translate(F.col(text_col), ws, ""))
            .cast("long").alias("token_chars"),
            F.explode(packed).alias("_p"))
          .select(id_col, *ex, "line_chars", "token_chars",
                  F.col("_p.t").alias("_toks"),
                  F.col("_p.l").alias("_lines")))

    # stage 2: chained shingle construction (each _z referenced twice —
    # by its filter and by the next chain link — so CollapseProject
    # cannot re-inline it) + one sort per gram size + sorted lines
    n_t = F.size("_toks")

    def shift(off):
        return F.slice("_toks", off, F.greatest(F.lit(0), n_t - (off - 1)))

    def chain(prev, off):
        # nulls from the short tails propagate (concat_ws would
        # silently SKIP nulls — the when() guards are load-bearing)
        return F.zip_with(prev, shift(off),
                          lambda a, b: F.when(
                              a.isNotNull() & b.isNotNull(),
                              F.concat_ws(" ", a, b)))

    df = (df.withColumn("_z2", chain(F.col("_toks"), 2))
          .withColumn("_z3", chain(F.col("_z2"), 3))
          .withColumn("_z4", chain(F.col("_z3"), 4)))
    df = df.select(
        id_col, *ex, "line_chars", "token_chars",
        F.array_sort("_lines").alias("_sl"),
        *[F.array_sort(
            F.when(n_t >= k, F.filter(F.col(f"_z{k}"),
                                      lambda x: x.isNotNull()))
            .otherwise(F.array().cast("array<string>"))).alias(f"_sg{k}")
          for k in (2, 3, 4)])

    # stage 3: adjacent-equality arrays over the sorted arrays — the
    # only full string-compare passes. _eq[i] (0-based) == (x[i] ==
    # x[i+1]); slice lengths clamped so n <= 1 yields [].
    def eq_arr(col, as_long):
        nn = F.size(col)
        return F.zip_with(
            F.slice(col, 1, F.greatest(F.lit(0), nn - 1)),
            F.slice(col, 2, F.greatest(F.lit(0), nn - 1)),
            lambda a, b: (a == b).cast("long") if as_long else (a == b))

    df = df.select(
        id_col, *ex, "line_chars", "token_chars", "_sl",
        "_sg2", "_sg3", "_sg4",
        eq_arr(F.col("_sl"), False).alias("_leq"),
        *[eq_arr(F.col(f"_sg{k}"), True).alias(f"_eq{k}")
          for k in (2, 3, 4)])

    # a line occurrence is a duplicate iff it equals its sorted prev OR
    # next neighbor (F.get is 0-based and null-safe out of bounds —
    # element_at would throw under ANSI)
    df = df.withColumn("_dup", F.transform(
        "_sl", lambda x, i: (F.coalesce(F.get("_leq", i - 1), F.lit(False))
                             | F.coalesce(F.get("_leq", i), F.lit(False)))))

    # stage 4: longest-run counts — packed-long fold, all-integer steps
    def best_cnt(eq_name):
        init = F.lit((1 << 32) | 1).cast("long")

        def step(acc, e):
            newcur = F.when(e == 1, acc.bitwiseAND(F.lit(0xFFFFFFFF)) + 1) \
                .otherwise(F.lit(1).cast("long"))
            return newcur + F.shiftleft(
                F.greatest(F.shiftright(acc, 32), newcur), 32)

        return F.aggregate(F.col(eq_name), init, step,
                           lambda acc: F.shiftright(acc, 32))

    df = df.select(
        id_col, *ex, "line_chars", "token_chars", "_sl", "_dup",
        "_sg2", "_sg3", "_sg4",
        *[best_cnt(f"_eq{k}").alias(f"_b{k}") for k in (2, 3, 4)])

    # stage 5: numeric outputs; the winning gram per k via the
    # endpoint-equal window over the sorted array
    def top_chars(k):
        sg, b = F.col(f"_sg{k}"), F.col(f"_b{k}")
        nn = F.size(sg)
        w = F.greatest(F.lit(0), nn - b.cast("int") + 1)
        cand = F.zip_with(
            F.slice(sg, 1, w), F.slice(sg, b.cast("int"), w),
            lambda a, c: F.when(a == c, c))
        return F.when(
            nn > 0, b * F.length(F.array_max(cand)).cast("long")) \
            .otherwise(zero).alias(f"top{k}_chars")

    df = df.select(
        id_col, *ex,
        F.size("_sl").cast("long").alias("n_lines"),
        F.size(F.filter("_dup", lambda d: d)).cast("long")
        .alias("n_dup_lines"),
        "line_chars",
        F.aggregate(F.zip_with("_sl", "_dup",
                               lambda l, d: F.when(d, F.length(l)
                                                   .cast("long"))
                               .otherwise(zero)),
                    zero, lambda acc, x: acc + x).alias("dup_line_chars"),
        "token_chars",
        *[top_chars(k) for k in (2, 3, 4)])

    f_dl = (F.lit(100) * F.col("n_dup_lines")
            <= F.lit(GOPHER_DUP_LINE_PCT) * F.col("n_lines"))
    f_dlc = (F.lit(100) * F.col("dup_line_chars")
             <= F.lit(GOPHER_DUP_LINE_CHAR_PCT) * F.col("line_chars"))
    f_top = {n: (F.lit(100) * F.col(f"top{n}_chars")
                 <= F.lit(GOPHER_TOP_NGRAM_PCT[n]) * F.col("token_chars"))
             for n in (2, 3, 4)}
    return df.select(
        id_col, *ex,
        "n_lines", "n_dup_lines", "line_chars", "dup_line_chars",
        "token_chars", "top2_chars", "top3_chars", "top4_chars",
        f_dl.alias("flag_dup_lines"), f_dlc.alias("flag_dup_line_chars"),
        f_top[2].alias("flag_top2"), f_top[3].alias("flag_top3"),
        f_top[4].alias("flag_top4"),
        (f_dl & f_dlc & f_top[2] & f_top[3] & f_top[4]).alias("keep_rep"))


def gopher_rep_sql(docs_cte: str, text_col: str = "text") -> str:
    """DuckDB twin of gopher_rep over a CTE named in docs_cte providing
    (url, <text_col>). Same tagged-union item stream, same two-level
    aggregation; struct max in DuckDB compares lexicographically by
    field order, matching Spark's max-of-struct."""
    toks = T.tokens_sql(text_col)
    g = {n: T.shingles_sql("toks", n) for n in (2, 3, 4)}
    tops = {n: f"max(struct_pack(cnt := cnt, item := item)) "
               f"FILTER (kind = '{n}')" for n in (2, 3, 4)}
    return f"""
        , rtok AS (SELECT url, {text_col} AS t, {toks} AS toks
                   FROM {docs_cte})
        , rit AS (
            SELECT url, 'L' AS kind, unnest(list_filter(
                string_split(t, chr(10)), x -> x <> '')) AS item FROM rtok
            UNION ALL
            SELECT url, 'T', unnest(toks) FROM rtok
            UNION ALL SELECT url, '2', unnest({g[2]}) FROM rtok
            UNION ALL SELECT url, '3', unnest({g[3]}) FROM rtok
            UNION ALL SELECT url, '4', unnest({g[4]}) FROM rtok)
        , rcnt AS (SELECT url, kind, item, COUNT(*) AS cnt
                   FROM rit GROUP BY url, kind, item)
        , rag AS (SELECT url,
            CAST(COALESCE(SUM(cnt) FILTER (kind = 'L'), 0) AS BIGINT)
                AS n_lines,
            CAST(COALESCE(SUM(cnt) FILTER (kind = 'L' AND cnt > 1), 0)
                AS BIGINT) AS n_dup_lines,
            CAST(COALESCE(SUM(cnt * length(item)) FILTER (kind = 'L'), 0)
                AS BIGINT) AS line_chars,
            CAST(COALESCE(SUM(cnt * length(item))
                FILTER (kind = 'L' AND cnt > 1), 0) AS BIGINT)
                AS dup_line_chars,
            CAST(COALESCE(SUM(cnt * length(item)) FILTER (kind = 'T'), 0)
                AS BIGINT) AS token_chars,
            {tops[2]} AS t2, {tops[3]} AS t3, {tops[4]} AS t4
            FROM rcnt GROUP BY url)
        SELECT url, n_lines, n_dup_lines, line_chars, dup_line_chars,
            token_chars,
            CAST(COALESCE((t2).cnt * length((t2).item), 0) AS BIGINT)
                AS top2_chars,
            CAST(COALESCE((t3).cnt * length((t3).item), 0) AS BIGINT)
                AS top3_chars,
            CAST(COALESCE((t4).cnt * length((t4).item), 0) AS BIGINT)
                AS top4_chars,
            (100 * n_dup_lines <= {GOPHER_DUP_LINE_PCT} * n_lines)
                AS flag_dup_lines,
            (100 * dup_line_chars
             <= {GOPHER_DUP_LINE_CHAR_PCT} * line_chars)
                AS flag_dup_line_chars,
            (100 * COALESCE((t2).cnt * length((t2).item), 0)
             <= {GOPHER_TOP_NGRAM_PCT[2]} * token_chars) AS flag_top2,
            (100 * COALESCE((t3).cnt * length((t3).item), 0)
             <= {GOPHER_TOP_NGRAM_PCT[3]} * token_chars) AS flag_top3,
            (100 * COALESCE((t4).cnt * length((t4).item), 0)
             <= {GOPHER_TOP_NGRAM_PCT[4]} * token_chars) AS flag_top4,
            ((100 * n_dup_lines <= {GOPHER_DUP_LINE_PCT} * n_lines)
             AND (100 * dup_line_chars
                  <= {GOPHER_DUP_LINE_CHAR_PCT} * line_chars)
             AND (100 * COALESCE((t2).cnt * length((t2).item), 0)
                  <= {GOPHER_TOP_NGRAM_PCT[2]} * token_chars)
             AND (100 * COALESCE((t3).cnt * length((t3).item), 0)
                  <= {GOPHER_TOP_NGRAM_PCT[3]} * token_chars)
             AND (100 * COALESCE((t4).cnt * length((t4).item), 0)
                  <= {GOPHER_TOP_NGRAM_PCT[4]} * token_chars)) AS keep_rep
        FROM rag
    """


# ---------------------------------------------------------------------------
# Deterministic corpus split (train/valid/test assignment)
# ---------------------------------------------------------------------------

SPLIT_BUCKETS = 1000
SPLIT_TRAIN_LT = 980   # buckets [0, 980) -> train
SPLIT_VALID_LT = 990   # [980, 990) -> valid; [990, 1000) -> test


def split_cols(id_col: str = "url") -> tuple:
    """(bucket, split) columns: the md5-hash bucket of the id in
    [0, 1000) and its 98/1/1 train/valid/test label."""
    bucket = T.h60(F.col(id_col)) % SPLIT_BUCKETS
    split = (F.when(bucket < SPLIT_TRAIN_LT, "train")
             .when(bucket < SPLIT_VALID_LT, "valid")
             .otherwise("test"))
    return bucket.alias("bucket"), split.alias("split")


def corpus_split(pages: DataFrame, id_col: str = "url") -> DataFrame:
    """(url, bucket, split) from `split_cols`. Pure JVM projection — the
    assignment is a function of the id alone, so it is stable across
    reshards, reruns, and engines (the property a training pipeline
    needs: a doc never migrates between splits)."""
    return pages.select(id_col, *split_cols(id_col))
