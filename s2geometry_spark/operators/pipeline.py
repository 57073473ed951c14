"""End-to-end training-corpus filter pipeline — the composed verdict a
pre-training data pipeline actually runs (C4/Gopher-style): document
quality (gopher_flags), within-document repetition (gopher_rep),
language identification (nearest letter-frequency centroid), benchmark
decontamination, and the deterministic train/valid/test split, fused
into ONE map-only plan.

Scale shape (the whole point of fusing): every stage is a per-row
projection, so the composed pipeline is a SINGLE scan of the corpus
with ZERO shuffles, ZERO joins, and exactly ONE Arrow hop (the
letter-count UDF language id rides the same scan) — at 10^12 rows the
plan is embarrassingly parallel and its cost is the scan itself. The
naive composition (run each operator separately, join five verdict
relations on url) pays four corpus-sized shuffles and five scans; the
fused plan pays none (tests/test_pipeline.py asserts no Exchange/Join
and a single ArrowEvalPython in the physical plan).

The two dimension-sized inputs arrive as driver-side lists — the same
premise as a broadcast, shipped once in the plan:
- `centroids`: per-language letter-count sums. A production pipeline
  classifies with FIXED pre-trained centroids; computing them from the
  corpus itself (`centroids=None`) is the bootstrap path and costs one
  extra aggregate pass (textstats.lang_centroids).
- `bench_grams`: the benchmark k-token gram-hash set
  (corpus.collect_bench_grams). The verdict is corpus.n_hit_probe, the
  same Arrow probe corpus.decontaminate projects; it rides the SAME
  ArrowEvalPython as the letter-count UDF (independent UDFs in one
  projection batch into one Arrow hop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import corpus, textstats


def corpus_pipeline(pages: DataFrame, bench_grams,
                    centroids: list | None = None,
                    allowed_langs: tuple = ("en",),
                    id_col: str = "url", text_col: str = "text",
                    lang_col: str = "lang", k: int = 5) -> DataFrame:
    """One verdict row PER input document:

    (url, keep_quality, keep_rep, lang_pred, lang_ok, n_hit,
     contaminated, bucket, split, keep)

    keep = keep_quality AND keep_rep AND lang_ok AND NOT contaminated.
    The split label is informational (a downstream trainer filters on
    it); it does not participate in keep.

    Verdict-coverage contract: gopher_rep runs with include_empty=True
    so documents with no tokens and no non-empty lines still get a row
    — their repetition rules are vacuously true and their fate is
    decided by the word-count quality rule (keep_quality false).

    Every flag is exact-integer or exact-string arithmetic; the only
    float is the language-score dot product, built with the same fixed
    op order as lang_id's oracle — so the whole row hash-compares
    against the composed DuckDB twin (__spark_entry__ corpus_pipeline).
    """
    if centroids is None:
        centroids = textstats.lang_centroids(pages, lang_col, text_col)

    # stage 1+2: quality then repetition flags, chained through the
    # passthrough hooks — one scan, text flows down the same projection
    df = textstats.gopher_flags(pages, id_col, text_col,
                                extra_cols=(text_col,))
    df = df.select(id_col, F.col("keep").alias("keep_quality"), text_col)
    df = textstats.gopher_rep(df, id_col, text_col,
                              extra_cols=("keep_quality", text_col),
                              include_empty=True)
    # stage 3: letter counts + benchmark-gram probe staged in their own
    # projection — independent UDFs in one projection batch into ONE
    # ArrowEvalPython (plan-asserted). The next projection references
    # _lc 26*n_langs times; CollapseProject leaves multiply-referenced
    # non-cheap aliases staged (same contract gopher_rep's chained
    # shingles rely on), so each UDF evaluates once per row.
    df = df.select(id_col, "keep_quality", "keep_rep",
                   textstats.letter_counts_udf(F.col(text_col))
                   .alias("_lc"),
                   corpus.n_hit_probe(bench_grams)(
                       corpus.gram_hashes(F.col(text_col), k))
                   .alias("n_hit"))

    # stage 4: the remaining verdicts are pure expressions on (url,
    # _lc, n_hit) — language id, contamination flag, split label
    lang_pred = textstats.lang_best_expr(centroids, F.col("_lc"))
    df = df.select(id_col, "keep_quality", "keep_rep",
                   lang_pred.alias("lang_pred"), "n_hit",
                   *textstats.split_cols(id_col))

    lang_ok = F.col("lang_pred").isin(*allowed_langs)
    contaminated = F.col("n_hit") > 0
    return df.select(
        id_col, "keep_quality", "keep_rep", "lang_pred",
        lang_ok.alias("lang_ok"), "n_hit",
        contaminated.alias("contaminated"), "bucket", "split",
        (F.col("keep_quality") & F.col("keep_rep") & lang_ok
         & ~contaminated).alias("keep"))
