"""Corpus-shaping operators: per-domain capping and vocabulary stats.

Training-data pipelines cap how many documents any one domain may
contribute (the C4/Gopher de-domination rule) and extract global token
vocabularies. Both are classic one-shuffle aggregations; the work here
is making them deterministic (hash-order priorities, total tie-breaks)
so they gate bit-for-bit against DuckDB, and keeping the expensive
sort off the cold path at scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ..functions import text as T


def domain_of(url_col) -> "F.Column":
    """Everything before the first '/' — the pages url shape is
    domain/doc_id (sources/pages.py adaptation rule)."""
    return F.substring_index(url_col, "/", 1)


def domain_cap(pages: DataFrame, max_per_domain: int,
               id_col: str = "url") -> DataFrame:
    """(url, domain, kept): kept=false for rows past the per-domain cap.

    Priority inside a domain is (h60(url), url) — a stable hash order,
    so the surviving subset is a uniform deterministic sample that
    never migrates across reshards or engines (same property as
    corpus_split).

    Scale shape (10^12 rows, zipf domains): the rank sort runs ONLY on
    over-cap domains. One cheap count aggregation finds them; rows of
    under-cap domains are kept via a broadcast anti-join with NO sort
    and NO window (at web scale that is almost every row — the window
    would otherwise shuffle-sort the entire corpus). Over-cap rows
    (bounded by n_hot_domains × domain size) go through the
    partitioned rank window. Only (url) ever shuffles.
    """
    dom = domain_of(F.col(id_col))
    keyed = pages.select(F.col(id_col), dom.alias("domain"))
    hot = (keyed.groupBy("domain").agg(F.count("*").alias("_n"))
           .filter(F.col("_n") > max_per_domain)
           .select("domain", F.lit(True).alias("_hot")))
    tagged = keyed.join(F.broadcast(hot), "domain", "left")
    cool = (tagged.filter(F.col("_hot").isNull())
            .select(id_col, "domain", F.lit(True).alias("kept")))
    w = Window.partitionBy("domain").orderBy(T.h60(F.col(id_col)),
                                             F.col(id_col))
    hot_rows = (tagged.filter(F.col("_hot").isNotNull())
                .withColumn("_rn", F.row_number().over(w))
                .select(id_col, "domain",
                        (F.col("_rn") <= max_per_domain).alias("kept")))
    return cool.unionByName(hot_rows)


def stratified_sample(pages: DataFrame, strata_col: str,
                      rates: dict[str, tuple[int, int]],
                      default_rate: tuple[int, int] = (1, 1),
                      id_col: str = "url") -> DataFrame:
    """(url, stratum, kept): deterministic per-stratum downsampling —
    keep iff h60(id) % den < num for the stratum's (num, den) rate
    (e.g. {"en": (1, 1), "zh": (1, 4)} keeps all English and a stable
    quarter of Chinese). The decision is a pure function of the id, so
    it never migrates across reshards, reruns, or engines, and
    DIFFERENT dens nest: a doc kept at 1/4 is also kept at 1/2 when
    both dens divide the modulus chain (the corpus_split property,
    generalized per stratum).

    Rebalancing corpora by language / quality tier / source is the
    standard last step before tokenization; at 10^12 rows this is a
    zero-shuffle whole-stage-codegen projection — the rate table
    compiles to a CASE chain, no join (rates are config, not data).
    """
    h = T.h60(F.col(id_col))
    kept = None
    for stratum, (num, den) in sorted(rates.items()):
        cond = F.col(strata_col) == stratum
        keep_s = (h % den) < num
        kept = F.when(cond, keep_s) if kept is None \
            else kept.when(cond, keep_s)
    dnum, dden = default_rate
    default = (h % dden) < dnum
    kept = default if kept is None else kept.otherwise(default)
    return pages.select(F.col(id_col),
                        F.col(strata_col).alias("stratum"),
                        kept.alias("kept"))


def stratified_sample_sql(docs_cte: str, strata_col: str,
                          rates: dict[str, tuple[int, int]],
                          default_rate: tuple[int, int] = (1, 1),
                          id_col: str = "url") -> str:
    """DuckDB twin of stratified_sample over a CTE providing
    (id_col, strata_col)."""
    h = T.h60_sql(id_col)
    whens = "\n".join(
        f"WHEN {strata_col} = '{s}' THEN ({h}) % {den} < {num}"
        for s, (num, den) in sorted(rates.items()))
    dnum, dden = default_rate
    return f"""
        SELECT {id_col}, {strata_col} AS stratum,
               CASE {whens}
                    ELSE ({h}) % {dden} < {dnum} END AS kept
        FROM {docs_cte}
    """


TFIDF_SCALE = 1_000_000_000   # fixed-point tf/df ratio: tf*1e9 div df


def tfidf_topk(pages: DataFrame, k: int, text_col: str = "text",
               broadcast_df: bool = True) -> DataFrame:
    """(url, rank, token, tf, df): each document's top-k keywords by a
    tf-idf-style score, exact-integer throughout so the gate
    hash-compares with no float/libm caveat.

    Score = (tf * TFIDF_SCALE) div df — tf x a RECIPROCAL idf
    (idf = 1/df), the exact-arithmetic tf-idf variant: log-idf would
    drag in libm, whose last-ulp can differ between the JVM and the
    oracle, so the damping choice here is linear by spec (it weights
    rare terms more aggressively than log does — a documented scoring
    difference, not an approximation error). Integer div is identical
    in both engines; ties break by token text — a total order, so rank
    is deterministic. tf*SCALE stays in int64 for tf up to ~9.2e9
    occurrences of one token in one doc.

    Scale shape (10^12 rows): tf = explode + one (url, token) hash agg;
    df = one token-keyed agg over tf (NOT over raw tokens — tf already
    collapsed multiplicity, so df's shuffle carries one row per
    distinct (url, token)). The df relation is vocab-sized: broadcast
    it (default) when the corpus vocabulary is bounded (post quality
    filtering it is); pass broadcast_df=False for an unfiltered-web
    vocabulary and Catalyst plans a shuffle join on token. The top-k
    itself is an in-array sort_array+slice per doc — NO window, no
    extra shuffle beyond the url re-agg.
    """
    toks = pages.select(
        F.col("url"), F.explode(T.tokens(F.col(text_col))).alias("token"))
    tf = toks.groupBy("url", "token").agg(F.count("*").alias("tf"))
    df_rel = tf.groupBy("token").agg(F.count("*").alias("df"))
    if broadcast_df:
        df_rel = F.broadcast(df_rel)
    scored = tf.join(df_rel, "token").select(
        "url", "token", "tf", "df",
        F.expr(f"tf * {TFIDF_SCALE} div df").alias("_key"))
    # sort_array ascending on struct(-key, token) == key desc, token asc
    ranked = (scored.groupBy("url")
              .agg(F.slice(F.sort_array(F.collect_list(F.struct(
                  (-F.col("_key")).alias("nk"),
                  F.col("token").alias("token"),
                  F.col("tf").alias("tf"),
                  F.col("df").alias("df")))), 1, k).alias("_top")))
    return (ranked.select("url", F.posexplode("_top").alias("_r", "_s"))
            .select("url", (F.col("_r") + 1).alias("rank"),
                    F.col("_s.token").alias("token"),
                    F.col("_s.tf").alias("tf"),
                    F.col("_s.df").alias("df")))


def tfidf_topk_sql(docs_cte: str, k: int, text_col: str = "text") -> str:
    """DuckDB twin of tfidf_topk over a CTE providing (url, text_col):
    same exact-int score, expressed with a row_number window (DuckDB
    has no struct sort_array slice; the orderings are identical total
    orders so the results match row-for-row)."""
    toks = T.tokens_sql(text_col)
    return f"""
        , ttok AS (SELECT url, unnest({toks}) AS token FROM {docs_cte})
        , ttf AS (SELECT url, token, COUNT(*) AS tf
                  FROM ttok GROUP BY url, token)
        , tdf AS (SELECT token, COUNT(*) AS df FROM ttf GROUP BY token)
        , tsc AS (SELECT url, t.token, tf, df,
                         (tf * {TFIDF_SCALE}) // df AS key
                  FROM ttf t JOIN tdf d ON t.token = d.token)
        SELECT url, CAST(rn AS BIGINT) AS rank, token,
               CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY url ORDER BY key DESC, token) AS rn
              FROM tsc)
        WHERE rn <= {k}
    """


def vocab_topn(pages: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """(token, n_occurrences, n_docs) for the corpus's top-n tokens by
    total occurrences, ties broken by token text — a total order, so
    the result is deterministic and engine-portable.

    Scale: the canonical word count — explode + partial map-side
    aggregation, ONE shuffle of (token, partial counts); the global
    sort+limit compiles to TakeOrderedAndProject (per-partition top-n
    + driver merge of n×P rows — no full sort materializes;
    plan-asserted in tests/test_plans.py).
    """
    toks = pages.select(
        F.col("url"),
        F.explode(T.tokens(F.col(text_col))).alias("token"))
    return (toks.groupBy("token")
            .agg(F.count("*").alias("n_occurrences"),
                 F.count_distinct("url").alias("n_docs"))
            .orderBy(F.col("n_occurrences").desc(), F.col("token"))
            .limit(n))


def gram_hashes(text_col, k: int = 5) -> "F.Column":
    """array<long> of DISTINCT k-token shingle h60 hashes of a text
    column — the decontamination unit (hashing first means only 8-byte
    grams ever shuffle or broadcast, never shingle strings)."""
    return F.array_distinct(
        F.transform(T.shingles(T.tokens(text_col), k), T.h60))


def n_hit_probe(bench_grams):
    """Column builder for n_hit = |distinct doc grams ∩ benchmark
    grams|, the one decontamination membership count (decontaminate
    and pipeline.corpus_pipeline both call it). Apply it to a
    gram_hashes column.

    The sorted int64 gram set ships once per executor in the UDF
    closure (the same premise as a broadcast); per Arrow batch the
    flattened grams make ONE searchsorted pass + a reduceat segment
    sum (the simhash_udf pattern). Exact: it compares the same int64
    hashes the DuckDB twin joins on.

    Shapes it replaced, at 50k docs x 36.5k grams: array_intersect
    against a literal rebuilds its lookup set per row (21 s vs ~1 s at
    local[32]); isin inside a lambda never converts to InSet and scans
    the literals per element (23 s); a broadcast join of (url, gram)
    pairs needs a groupBy and a left join back to keep every doc, and
    was no faster (BENCH/PLAN_EVIDENCE.md).
    """
    bset = np.asarray(sorted(set(bench_grams)), dtype=np.int64)

    @pandas_udf(LongType())
    def n_hit_udf(grams: pd.Series) -> pd.Series:
        lens = grams.str.len().to_numpy(dtype=np.int64)
        out = np.zeros(len(lens), dtype=np.int64)
        total = int(lens.sum())
        if total and bset.size:
            arrs = [np.asarray(g, dtype=np.int64)
                    for g in grams if len(g)]
            flat = arrs[0] if len(arrs) == 1 else np.concatenate(arrs)
            idx = np.searchsorted(bset, flat)
            hit = np.where(idx < bset.size, bset[np.minimum(
                idx, bset.size - 1)] == flat, False).astype(np.int64)
            nonempty = lens > 0
            ne_lens = lens[nonempty]
            ne_off = np.zeros(len(ne_lens), dtype=np.int64)
            np.cumsum(ne_lens[:-1], out=ne_off[1:])
            out[nonempty] = np.add.reduceat(hit, ne_off)
        return pd.Series(out)

    return n_hit_udf


def decontaminate(docs: DataFrame, bench_grams, k: int = 5,
                  id_col: str = "url", text_col: str = "text") -> DataFrame:
    """(url, n_hit, contaminated): flag corpus documents sharing any
    k-token shingle with a benchmark/eval set — the standard
    pre-training decontamination pass (n-gram overlap against held-out
    benchmarks). `bench_grams` is the benchmark's gram-hash set
    (collect_bench_grams).

    n_hit counts the doc's DISTINCT grams that appear anywhere in the
    benchmark set (n_hit_probe). Docs with < k tokens, or null text,
    have no grams and are clean by definition (n_hit 0) but keep their
    output row — a decontamination verdict must cover every document.

    Scale shape (10^12 docs vs a benchmark of ~10^6 grams): a lazy,
    map-only projection — no Exchange, no join, one ArrowEvalPython;
    the corpus text never shuffles. The same projection runs unchanged
    on a streaming DataFrame (stateless, append mode).
    """
    n_hit = n_hit_probe(bench_grams)(gram_hashes(F.col(text_col), k))
    return (docs.select(F.col(id_col), n_hit.alias("n_hit"))
            .withColumn("contaminated", F.col("n_hit") > 0))


def decontaminate_sql(tok_cte: str, bench_pred: str, k: int = 5) -> str:
    """DuckDB twin over a CTE chain providing tok(url, toks) and docs;
    `bench_pred` selects the benchmark subset of tok by url."""
    h = T.h60_sql("s")
    return f"""{tok_cte},
        g AS (SELECT url,
                     list_distinct([{h} for s in {T.shingles_sql('toks', k)}])
                         AS grams
              FROM tok),
        bg AS (SELECT DISTINCT unnest(grams) AS gram
               FROM g WHERE {bench_pred}),
        dg AS (SELECT url, unnest(grams) AS gram FROM g),
        hits AS (SELECT url, CAST(COUNT(*) AS BIGINT) AS n_hit
                 FROM dg JOIN bg USING (gram) GROUP BY url)
        SELECT d.url, COALESCE(h.n_hit, 0::BIGINT) AS n_hit,
               COALESCE(h.n_hit, 0::BIGINT) > 0 AS contaminated
        FROM docs d LEFT JOIN hits h USING (url)
    """


def collect_bench_grams(benchmark: DataFrame, k: int = 5,
                        text_col: str = "text") -> list[int]:
    """Driver-side sorted distinct gram-hash list of a benchmark set —
    the `bench_grams` input of decontaminate and
    pipeline.corpus_pipeline (benchmarks are dimension-sized: one
    collect, then shipped once per executor like a broadcast)."""
    rows = (benchmark
            .select(F.explode(gram_hashes(F.col(text_col), k))
                    .alias("gram"))
            .distinct().collect())
    return sorted(r["gram"] for r in rows)
