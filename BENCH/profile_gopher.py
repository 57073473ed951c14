"""Stage-isolated profile of gopher_rep (VERDICT r4 #5): where do the
6.5s go at bench scale?  Reuses bench.py's text_docs staging (50k docs
at sf0.1 x TEXT_MULT=10) and times cumulative prefixes of the operator
pipeline, min-of-2 with cache cleared, so (stage_k - stage_{k-1}) is
the marginal cost of stage k.

Run alone (no concurrent Spark work).  Usage:
    python BENCH/profile_gopher.py
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from s2geometry_spark.functions import text as T
from s2geometry_spark.operators import textstats
from s2geometry_spark.session import default_cores, get_spark
from s2geometry_spark.sources.pages import documents_to_pages, load_documents


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cores()
    text_mult = int(os.environ.get("SPARK_GRAFT_TEXT_MULT", "10"))
    n_parts = cpus * 2
    spark = get_spark("profile-gopher", cores=cpus, shuffle_partitions=cpus)

    docs = documents_to_pages(load_documents(spark, sf_dir))
    td = (docs.repartition(n_parts)
          .withColumn("_i", F.explode(F.sequence(F.lit(0),
                                                 F.lit(text_mult - 1))))
          .withColumn("url", F.concat_ws("#", F.col("url"),
                                         F.col("_i").cast("string")))
          .withColumn("text", F.concat_ws(
              " ", F.col("text"),
              F.concat(F.lit("v"), F.col("_i").cast("string"))))
          .drop("_i"))

    def bench(name, fn, repeat=2):
        best = None
        for _ in range(repeat):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn()
            best = min(best or 1e9, time.perf_counter() - t0)
        print(f"[profile] {name}: {best:.2f}s", flush=True)
        return best

    toks = T.tokens(F.col("text"))
    lines = F.filter(F.split(F.col("text"), "\n", -1),
                     lambda l: l != F.lit(""))
    packed = F.filter(
        F.array(F.struct(toks.alias("t"), lines.alias("l"))),
        lambda s: (F.size(s["t"]) > 0) | (F.size(s["l"]) > 0))
    base = (td.select(F.col("url"), F.explode(packed).alias("_p"))
            .select("url", F.col("_p.t").alias("_toks"),
                    F.col("_p.l").alias("_lines")))

    # warmup
    force(base.select("url", F.size("_toks").alias("n")))

    bench("s1_tokenize", lambda: force(
        base.select("url", F.size("_toks").cast("long").alias("nt"),
                    F.size("_lines").cast("long").alias("nl"))))

    bench("s2_lines_sorted", lambda: force(
        base.select("url", F.array_sort("_lines").alias("_sl"),
                    F.size("_toks").cast("long").alias("nt"))
        .select("url", F.size("_sl").alias("n"),
                F.get("_sl", 0).alias("first"), "nt")))

    # shingle construction only (no sort): force via total length
    def sh_only():
        df = base.select(
            "url",
            *[T.shingles(F.col("_toks"), n).alias(f"_g{n}")
              for n in (2, 3, 4)])
        agg = [F.aggregate(F.col(f"_g{n}"), F.lit(0).cast("long"),
                           lambda a, x: a + F.length(x).cast("long"))
               .alias(f"c{n}") for n in (2, 3, 4)]
        force(df.select("url", *agg))
    bench("s3_shingles_concat", sh_only)

    # shingles + sort (no fold)
    def sh_sort():
        df = base.select(
            "url",
            *[F.array_sort(T.shingles(F.col("_toks"), n)).alias(f"_g{n}")
              for n in (2, 3, 4)])
        force(df.select("url", *[F.get(F.col(f"_g{n}"), 0).alias(f"f{n}")
                                 for n in (2, 3, 4)]))
    bench("s4_shingles_sorted", sh_sort)

    bench("s5_full_gopher_rep", lambda: force(
        textstats.gopher_rep(td)))

    spark.stop()


if __name__ == "__main__" and not os.environ.get("GOPHER_VARIANTS"):
    main()


def variants():
    """Marginal-cost variants for the run_top rewrite (r5)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cores()
    text_mult = int(os.environ.get("SPARK_GRAFT_TEXT_MULT", "10"))
    n_parts = cpus * 2
    spark = get_spark("profile-gopher-v", cores=cpus,
                      shuffle_partitions=cpus)
    docs = documents_to_pages(load_documents(spark, sf_dir))
    td = (docs.repartition(n_parts)
          .withColumn("_i", F.explode(F.sequence(F.lit(0),
                                                 F.lit(text_mult - 1))))
          .withColumn("url", F.concat_ws("#", F.col("url"),
                                         F.col("_i").cast("string")))
          .withColumn("text", F.concat_ws(
              " ", F.col("text"),
              F.concat(F.lit("v"), F.col("_i").cast("string"))))
          .drop("_i"))

    def bench(name, fn, repeat=2):
        best = None
        for _ in range(repeat):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn()
            best = min(best or 1e9, time.perf_counter() - t0)
        print(f"[profile] {name}: {best:.2f}s", flush=True)
        return best

    toks = T.tokens(F.col("text"))
    base = (td.select(F.col("url"), toks.alias("_toks"))
            .filter(F.size("_toks") > 0))
    force(base.select("url", F.size("_toks").alias("n")))  # warm

    zero = F.lit(0).cast("long")

    # chained shingles: z2/z3/z4 share concat prefixes (null-propagating)
    def chain_cols(tcol):
        n = F.size(tcol)
        def shift(off):
            return F.slice(tcol, off, F.greatest(F.lit(0), n - (off - 1)))
        z2 = F.zip_with(tcol, shift(2),
                        lambda a, b: F.when(a.isNotNull() & b.isNotNull(),
                                            F.concat_ws(" ", a, b)))
        return z2

    def stage_chain(df):
        n = F.size("_toks")
        def shift(off):
            return F.slice("_toks", off,
                           F.greatest(F.lit(0), n - (off - 1)))
        df = df.withColumn("_z2", chain_cols(F.col("_toks")))
        df = df.withColumn(
            "_z3", F.zip_with(F.col("_z2"), shift(3),
                              lambda a, b: F.when(
                                  a.isNotNull() & b.isNotNull(),
                                  F.concat_ws(" ", a, b))))
        df = df.withColumn(
            "_z4", F.zip_with(F.col("_z3"), shift(4),
                              lambda a, b: F.when(
                                  a.isNotNull() & b.isNotNull(),
                                  F.concat_ws(" ", a, b))))
        outs = []
        for k in (2, 3, 4):
            g = F.when(n >= k,
                       F.filter(F.col(f"_z{k}"), lambda x: x.isNotNull())) \
                .otherwise(F.array().cast("array<string>"))
            outs.append(F.array_sort(g).alias(f"_sg{k}"))
        return df.select("url", "_toks", *outs)

    # v1: chained shingles + sort only (vs s4's 1.90 independent)
    bench("v1_chained_sorted", lambda: force(
        stage_chain(base).select(
            "url", *[F.get(F.col(f"_sg{k}"), 0).alias(f"f{k}")
                     for k in (2, 3, 4)])))

    # v2: chained + eq zips staged, count only (no fold)
    def eq_col(sg):
        nn = F.size(sg)
        return F.zip_with(
            F.slice(sg, 1, F.greatest(F.lit(0), nn - 1)),
            F.slice(sg, 2, F.greatest(F.lit(0), nn - 1)),
            lambda a, b: (a == b).cast("long"))

    def v2():
        df = stage_chain(base)
        df = df.select("url", *[eq_col(F.col(f"_sg{k}")).alias(f"_eq{k}")
                                for k in (2, 3, 4)])
        force(df.select("url", *[F.size(f"_eq{k}").alias(f"c{k}")
                                 for k in (2, 3, 4)]))
    bench("v2_eq_staged", v2)

    # v3: + packed-long fold for best count (no item)
    def best_fold(eqc):
        init = F.lit((1 << 32) | 1).cast("long")
        def step(acc, e):
            newcur = F.when(e == 1, acc.bitwiseAND(F.lit(0xFFFFFFFF)) + 1) \
                .otherwise(F.lit(1).cast("long"))
            best = F.greatest(F.shiftright(acc, 32), newcur)
            return newcur + F.shiftleft(best, 32)
        return F.aggregate(eqc, init, step,
                           lambda acc: F.shiftright(acc, 32))

    def v3():
        df = stage_chain(base)
        df = df.select(
            "url", *[F.col(f"_sg{k}") for k in (2, 3, 4)],
            *[eq_col(F.col(f"_sg{k}")).alias(f"_eq{k}")
              for k in (2, 3, 4)])
        force(df.select("url",
                        *[best_fold(F.col(f"_eq{k}")).alias(f"b{k}")
                          for k in (2, 3, 4)]))
    bench("v3_packed_fold", v3)

    # v4: + candidate-window item via array_max
    def v4():
        df = stage_chain(base)
        df = df.select(
            "url", *[F.col(f"_sg{k}") for k in (2, 3, 4)],
            *[eq_col(F.col(f"_sg{k}")).alias(f"_eq{k}")
              for k in (2, 3, 4)])
        df = df.select(
            "url", *[F.col(f"_sg{k}") for k in (2, 3, 4)],
            *[best_fold(F.col(f"_eq{k}")).alias(f"_b{k}")
              for k in (2, 3, 4)])
        items = []
        for k in (2, 3, 4):
            sg, b = F.col(f"_sg{k}"), F.col(f"_b{k}")
            nn = F.size(sg)
            w = F.greatest(F.lit(0), nn - b + 1)
            cand = F.zip_with(
                F.slice(sg, 1, w), F.slice(sg, b.cast("int"), w),
                lambda a, c: F.when(a == c, c))
            item = F.when(nn > 0, F.array_max(cand)).otherwise(F.lit(""))
            items.append((F.when(nn > 0, b).otherwise(zero)
                          * F.length(item).cast("long")).alias(f"tc{k}"))
        force(df.select("url", *items))
    bench("v4_cand_item", v4)

    spark.stop()


if __name__ == "__main__" and os.environ.get("GOPHER_VARIANTS"):
    variants()
