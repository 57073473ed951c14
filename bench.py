"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: every CPU this process may use) and
prints ONE JSON line.

Each query is forced end-to-end with a noop-sink write (full column
materialization — a bare count() would let Catalyst prune the very
kernels being measured).

Scale realism: the sf0.1 documents table is only 5k rows — pure fixed
overhead at 32 cores — so the spatial/text inputs are deterministically
multiplied (url gets a '#i' suffix; text gets a per-copy marker token,
turning the corpus into a near-dup-rich dedup workload). Multipliers
via $SPARK_GRAFT_PAGES_MULT / $SPARK_GRAFT_TEXT_MULT. Reported rows/s
are against the multiplied row counts.

Scaling evidence (BASELINE.md #5) is produced by BENCH/run_scaling.py,
which invokes this file at two parallelism levels.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from s2geometry_spark.session import default_cores
    cpus = default_cores()
    pages_mult = int(os.environ.get("SPARK_GRAFT_PAGES_MULT", "100"))
    text_mult = int(os.environ.get("SPARK_GRAFT_TEXT_MULT", "10"))
    # fixed partitioning makes the 8-vs-32-core comparison controlled:
    # identical task decomposition, only executor-thread count varies
    n_parts = int(os.environ.get("SPARK_GRAFT_PARTS", str(cpus * 2)))
    shuffle_parts = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus)))
    # optional comma-separated query subset (BENCH/run_data_scaling.py
    # runs just the spatial set at three data scales); empty = all
    only = {s for s in os.environ.get("SPARK_GRAFT_ONLY", "").split(",")
            if s}

    from pyspark.sql import functions as F

    from s2geometry_spark.demo_regions import demo_regions
    from s2geometry_spark.operators import (ann, corpus as corpus_ops,
                                            dedup, sketches as SK,
                                            textstats, urls as urls_ops)
    from s2geometry_spark.operators.distjoin import distance_join
    from s2geometry_spark.operators.knn import demo_knn_queries, knn_join
    from s2geometry_spark.operators.pip_join import pip_join
    from s2geometry_spark.session import get_spark
    from s2geometry_spark.sources.pages import (documents_to_pages,
                                                geocode_pages,
                                                load_documents)

    spark = get_spark("bench", cores=cpus, shuffle_partitions=shuffle_parts)

    def multiply(df, mult, mutate_text=False):
        """Deterministic row multiplication: url#i; optionally a
        per-copy marker token so copies are near- (not exact-) dups.
        Repartitions first: the sf parquet is a single split, and a
        1-partition input would serialize every downstream operator
        onto one core (real inputs arrive in many splits)."""
        if mult <= 1:
            return df
        out = (df.repartition(n_parts)
               .withColumn("_i", F.explode(
                   F.sequence(F.lit(0), F.lit(mult - 1))))
            .withColumn("url", F.concat_ws("#", F.col("url"),
                                           F.col("_i").cast("string"))))
        if mutate_text:
            out = out.withColumn(
                "text", F.concat_ws(" ", F.col("text"),
                                    F.concat(F.lit("v"),
                                             F.col("_i").cast("string"))))
        return out.drop("_i")

    docs = documents_to_pages(load_documents(spark, sf_dir))
    n_docs = docs.count()
    pages_base = multiply(docs, pages_mult)
    n_pages = n_docs * pages_mult
    text_docs = multiply(docs, text_mult, mutate_text=True)
    n_text = n_docs * text_mult

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .repartition(n_parts)  # single-split parquet would serialize ANN
    n_embs = embs.count()

    timings: dict[str, float] = {}

    def bench(name, fn, repeat=2):
        """min-of-N: the first run pays Python-worker/codegen warmup
        (measured 5-10x inflation); the min is the steady-state cost.
        Cache is cleared between runs so operators that persist
        intermediates (minhash signatures) recompute honestly.

        Queries whose best exceeds 2s get ONE extra repetition: r4's
        driver run recorded simhash_pairs at 4.33s where identical
        code measures 2.4-2.6s on an idle host (r5 bisect) — a single
        contended sample can poison min-of-2 on heavy queries, and a
        third sample costs little relative to their runtime."""
        if only and name not in only:
            return None
        best = None
        runs = 0
        while runs < repeat or (best > 2.0 and runs < repeat + 1):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            runs += 1
        timings[name] = round(best, 4)
        # progress to stderr (stdout carries only the final JSON line):
        # lets the scaling harness's captured log show WHERE a long
        # local[2] run is, instead of a silent hour
        print(f"[bench] {name}: {best:.2f}s", file=sys.stderr, flush=True)
        return best

    # warm the JVM + Python workers once (excluded from timings): the
    # geocode kernel AND the containment UDF — the first plan touching
    # a fresh pickled UDF pays ~15s of per-worker import/codegen warmup
    # at 32 cores, which would otherwise dominate min-of-2 samples
    force(geocode_pages(docs).select("cell_id"))
    force(pip_join(geocode_pages(docs), spark, demo_regions(),
                   strategy="equi", level=4).select("url", "region_id"))

    pages = geocode_pages(pages_base)
    regs = demo_regions()

    # -- spatial (multiplied pages) --
    bench("geocode", lambda: force(
        geocode_pages(pages_base).select("url", "lat", "lng", "cell_id",
                                         "cell_l4", "cell_l8", "cell_l12")))
    bench("pip_equi", lambda: force(
        pip_join(pages, spark, regs, strategy="equi", level=4)
        .select("url", "region_id")))
    bench("pip_range", lambda: force(
        pip_join(pages, spark, regs, strategy="range", max_cells=64)
        .select("url", "region_id")))
    # non-broadcast scale path: shuffle-hash covering join, skew left
    # to AQE (row name kept so the history stays comparable)
    bench("pip_salted", lambda: force(
        pip_join(pages, spark, regs, strategy="shuffle", level=4)
        .select("url", "region_id")))
    bench("tile_counts", lambda: force(
        pages.groupBy("cell_l8").count()))
    bench("knn", lambda: force(
        knn_join(geocode_pages(docs), spark, demo_knn_queries())))

    # within-distance self-join. The OUTPUT of a fixed-radius distance
    # join grows ~theta^2/4 * n^2/2 — quadratic in density, a property
    # of the QUERY, not the operator. To bench the operator across
    # scales, hold expected pairs-per-point constant: r^2*n = const,
    # anchored at r=0.002 for the 500k-row sf0.1 shape (r3 r4: the
    # unscaled radius at 10M rows meant ~225 candidates/point and blew
    # the local[2] scaling leg past the 1h subprocess timeout).
    dist_r = 0.002 * (500_000 / max(n_pages, 1)) ** 0.5

    def _dist():
        reg: list = []
        force(distance_join(pages, dist_r, cache_registry=reg)
              .select("url_a", "url_b"))
        dedup.release_caches(reg)
    bench("dist_join", _dist)

    # -- training-data pipeline (multiplied text corpus) --
    bench("exact_dedup", lambda: force(dedup.exact_dedup(text_docs)))
    bench("minhash_pairs", lambda: force(
        dedup.minhash_lsh_pairs(text_docs, threshold=0.5)))
    bench("simhash_pairs", lambda: force(
        dedup.simhash_pairs(text_docs, max_hamming=3)))
    bench("text_quality", lambda: force(textstats.text_quality(text_docs)))
    bench("lang_id", lambda: force(textstats.lang_id(text_docs)))
    # boilerplate-line removal over the shingle-lineified corpus (the
    # multiplied near-dup copies share most shingle lines — the
    # worst-case boilerplate-heavy regime for the anti-join)
    from s2geometry_spark.functions import text as T2
    nl_docs = text_docs.select(
        "url", F.array_join(T2.shingles(T2.tokens(F.col("text")), k=5),
                            "\n").alias("text_nl"))
    bench("line_dedup", lambda: force(
        dedup.line_dedup(nl_docs, min_docs=2, text_col="text_nl")))
    bench("gopher_quality", lambda: force(textstats.gopher_flags(text_docs)))
    # gopher_rep runs on the GATE's input shape (2-token-shingle lines,
    # REP_LINE_K) — the k=5 nl_docs above would inflate tokens 5x and
    # measure the lineify artifact, not the operator (tokens of k=2
    # lineified text ~= 2x the raw doc, the op's realistic regime)
    rep_docs = text_docs.select(
        "url", F.array_join(T2.shingles(T2.tokens(F.col("text")), k=2),
                            "\n").alias("text_nl"))
    bench("gopher_rep", lambda: force(
        textstats.gopher_rep(rep_docs, text_col="text_nl")))
    # per-domain cap: multiplied corpus has 10x docs/domain -> every
    # domain is over-cap, the windowed hot path carries the full load
    bench("domain_cap", lambda: force(corpus_ops.domain_cap(text_docs, 100)))
    bench("vocab_topn", lambda: force(corpus_ops.vocab_topn(text_docs, 100)))
    bench("tfidf_topk", lambda: force(corpus_ops.tfidf_topk(text_docs, 3)))
    # decontamination: benchmark = a deterministic ~1/7 of the BASE
    # corpus (unmultiplied — benchmarks don't grow with the crawl)
    bench_docs = docs.filter(
        F.pmod(F.xxhash64(F.concat(F.lit("bm:"), F.col("url"))), F.lit(7))
        == 0)
    bench("decontaminate", lambda: force(corpus_ops.decontaminate(
        text_docs, corpus_ops.collect_bench_grams(bench_docs, k=5), k=5)))
    # the FUSED filter pipeline (r5): quality + repetition + language
    # id + decontamination + split verdicts in ONE map-only scan.
    # Centroids and benchmark grams are fixed inputs (production
    # classifies with pretrained centroids), so the timed cost is the
    # single corpus pass — the number to compare against the SUM of
    # the five per-operator rows above.
    if not only or "corpus_pipeline" in only:
        # the two dimension-sized collects are eager — skip the staging
        # cost entirely when the query is filtered out
        from s2geometry_spark.operators import pipeline as pipe_ops
        pipe_cents = textstats.lang_centroids(docs)
        pipe_grams = corpus_ops.collect_bench_grams(bench_docs, k=5)
        bench("corpus_pipeline", lambda: force(pipe_ops.corpus_pipeline(
            text_docs, pipe_grams, centroids=pipe_cents)))
    # sketches over the MULTIPLIED corpora: fixed-size state per group
    bench("hll_tile_distinct", lambda: force(
        SK.hll_sketch(pages.select("url", "cell_l4"), "cell_l4")))
    bench("cm_token_sketch", lambda: force(SK.cm_sketch_tokens(text_docs)))
    # url canonicalization + dedup over TWO decorated variants per row;
    # the multiplied copies' '#i' suffixes also strip as fragments, so
    # all 2 x text_mult spellings of a base doc collapse to ONE
    # canonical group — the groupBy does real collapsing work
    deco = text_docs.select(F.concat(
        F.lit("https://"), F.upper(F.substring_index("url", "/", 1)),
        F.lit(":443/"), F.substring_index("url", "/", -1),
        F.lit("?utm_source=a")).alias("url")).unionByName(
        text_docs.select(F.concat(
            F.lit("https://"), F.substring_index("url", "/", 1),
            F.lit("/"), F.substring_index("url", "/", -1),
            F.lit("/#frag")).alias("url")))
    bench("url_dedup", lambda: force(urls_ops.url_dedup(deco)))

    # -- sessionization (events x10 along the USER dimension: per-user
    # history stays sf-sized, user count scales — the axis that grows
    # at web scale) --
    from s2geometry_spark.operators import sessions
    ev10 = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .repartition(n_parts)
            .withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(9))))
            .withColumn("user_id",
                        F.col("user_id") + F.col("_i") * 1_000_000)
            .withColumn("event_id",
                        F.col("event_id") + F.col("_i") * 10_000_000)
            .drop("_i"))
    session_gap = 4 * 3600 * 1_000_000
    bench("sessionize", lambda: force(sessions.sessionize(ev10, session_gap)))
    bench("session_stats", lambda: force(
        sessions.session_stats(ev10, session_gap)))

    # -- similarity search --
    q = embs.filter(F.col("vec_id") < 16) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    bench("ann_brute", lambda: force(ann.ann_brute_topk(embs, q, k=10)))
    bench("emb_near_dup_lsh", lambda: force(
        ann.emb_near_dup_lsh(embs, tau=0.4)))

    total = round(sum(timings.values()), 4)
    flagship_rows_per_sec = (round(n_pages / timings["pip_equi"], 1)
                             if "pip_equi" in timings else None)
    geocode_rows_per_sec = (round(n_pages / timings["geocode"], 1)
                            if "geocode" in timings else None)
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").split("/")[-1],
        "rows": n_pages,
        "rows_text": n_text,
        "rows_embs": n_embs,
        "cpus": cpus,
        "flagship_rows_per_sec": flagship_rows_per_sec,
        "geocode_rows_per_sec": geocode_rows_per_sec,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
