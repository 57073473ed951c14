"""The production dedup-curation job: resumable near-dup removal over
the pages corpus on the batch skeleton it shares with geocode_job
(jobs/batches.py). Three stages, each durable:

1. **signatures** — minhash signatures in N_BATCHES url-hash batches:
   ONE write computes every pending batch, ``partitionBy`` a copy of
   ``batch``, and each batch dir commits by rename. The files keep
   ``batch`` (lineage from row-group stats; snapshots that earlier
   versions wrote one batch per write union with them). Filtering the
   docs to the pending batches before the minhash UDF, so a resume
   hashes only its pending docs, is safe here, unlike geocode_job's
   batch filter: the key hashes the input ``url``, not a UDF output.
2. **pairs** — banded-LSH candidates + exact Jaccard over the committed
   signatures (dedup.pairs_from_signatures), one snapshot.
3. **keep list** — a url is DROPPED iff it has a verified near-dup with
   a smaller url ("keep-min-neighbor": one anti-join, every cluster
   keeps its minimum, order-free so re-runs are byte-stable); one
   snapshot, which records ``n_dropped``.

``n_pairs`` and ``n_kept`` come from the committed files' footers, so a
re-run with every stage committed starts no Spark job. A stage that
dies before its manifest swap is invisible, and a re-run recomputes
only what is missing
(tests/test_scale_ops.py::test_dedup_job_fresh_resume_and_equivalence).
A run killed mid-write loses all of its pending batches, not one;
``max_batches_this_run`` bounds that loss.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s2geometry_spark.io.table_io import ParquetTableIO
from s2geometry_spark.jobs.batches import (BATCH_COL, commit_batches,
                                           pending_batches, staging_dir)
from s2geometry_spark.operators import dedup
from s2geometry_spark.session import job_session
from s2geometry_spark.sources.pages import documents_to_pages, load_documents

N_BATCHES = 4
THRESHOLD = 0.5


def _batch_of(id_col: str, n_batches: int):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_batches)).cast("int")


def _documents(spark: SparkSession, sf_dir: str,
               docs_mult: int) -> DataFrame:
    # single-split testdata parquet: repartition BEFORE the shingle/md5
    # fan-out or the expensive signature stage serializes on one core
    # (repo perf-trap list; geocode_job repartitions by tile likewise)
    docs = documents_to_pages(load_documents(spark, sf_dir)) \
        .repartition(spark.sparkContext.defaultParallelism)
    if docs_mult > 1:
        docs = (docs.withColumn("_i", F.explode(
                    F.sequence(F.lit(0), F.lit(docs_mult - 1))))
                .withColumn("url", F.concat_ws(
                    "#", F.col("url"), F.col("_i").cast("string")))
                .withColumn("text", F.concat_ws(
                    " ", F.col("text"),
                    F.concat(F.lit("v"), F.col("_i").cast("string"))))
                .drop("_i"))
    return docs


def _dropped(spark: SparkSession, io: ParquetTableIO,
             pairs_table: str) -> DataFrame:
    """keep-min-neighbor drops the GREATER side of every verified pair
    (url_b > url_a by construction)."""
    if not io.n_rows(pairs_table):  # no near-dups at this threshold
        return spark.createDataFrame([], "url string")
    return (io.read(spark, pairs_table)
            .select(F.col("url_b").alias("url")).distinct())


def run_dedup_job(spark: SparkSession, sf_dir: str, io: ParquetTableIO,
                  prefix: str = "dedup",
                  n_batches: int = N_BATCHES,
                  threshold: float = THRESHOLD,
                  max_bucket: int | None = dedup.DEFAULT_MAX_BUCKET,
                  max_batches_this_run: int | None = None,
                  docs_mult: int = 1) -> dict:
    """Returns {"committed": [...], "skipped": [...], "n_pairs": int,
    "n_kept": int, "n_dropped": int} (pair/keep counts are -1 when the
    run stopped early before the pair stage).

    docs_mult > 1 multiplies the corpus deterministically (url#i
    suffix, per-copy marker token — bench.py's near-dup-rich staging)
    so the kill/resume smoke can run at 10M-row scale on the sandbox
    testdata; the expansion is a pure function of (url, i), so batch
    membership and results are stable across interrupted re-runs."""
    sigs_table = f"{prefix}_sigs"
    pairs_table = f"{prefix}_pairs"
    keep_table = f"{prefix}_keep"

    # Resume is only valid against snapshots produced with the SAME
    # parameters (pending_batches checks the signatures'): a different
    # threshold would silently return the old pairs labeled as the new
    # run's result.
    io.assert_meta(pairs_table, threshold=threshold, max_bucket=max_bucket)
    run, skipped = pending_batches(io, sigs_table, n_batches,
                                   max_batches_this_run, sf_dir=sf_dir,
                                   docs_mult=docs_mult)
    if run:
        batch = _batch_of("url", n_batches)
        docs = _documents(spark, sf_dir, docs_mult).filter(batch.isin(run))
        with staging_dir(io, sigs_table) as staging:
            (dedup.minhash_signatures(docs).withColumn("batch", batch)
             .withColumn(BATCH_COL, F.col("batch"))
             .write.partitionBy(BATCH_COL).parquet(staging))
            commit_batches(io, sigs_table, staging, run,
                           {"sf_dir": sf_dir, "n_batches": n_batches,
                            "docs_mult": docs_mult},
                           lineage_col="batch")

    if len(run) + len(skipped) < n_batches:
        return {"committed": run, "skipped": skipped,
                "n_pairs": -1, "n_kept": -1, "n_dropped": -1}

    # pair + keep stages are cheap relative to signatures; recompute
    # them whenever the signature set is complete and they are absent
    if "final" not in io.done_keys(pairs_table):
        sigs_all = io.read(spark, sigs_table).drop("batch")
        pairs = dedup.pairs_from_signatures(
            sigs_all, threshold=threshold, max_bucket=max_bucket)
        io.append(pairs, pairs_table, meta={"batch_key": ["final"],
                                            "threshold": threshold,
                                            "max_bucket": max_bucket})

    if "final" not in io.done_keys(keep_table):
        dropped = _dropped(spark, io, pairs_table)
        keep = (_documents(spark, sf_dir, docs_mult).select("url")
                .distinct().join(dropped, "url", "left_anti"))
        io.append(keep, keep_table, meta={"batch_key": ["final"],
                                          "n_dropped": dropped.count()})
    keep_meta = io.history(keep_table)[-1]["meta"]
    # a keep snapshot written by an earlier version has no n_dropped
    n_dropped = keep_meta["n_dropped"] if "n_dropped" in keep_meta \
        else _dropped(spark, io, pairs_table).count()
    return {"committed": run, "skipped": skipped,
            "n_pairs": io.n_rows(pairs_table),
            "n_kept": io.n_rows(keep_table), "n_dropped": n_dropped}


def main() -> None:  # pragma: no cover — exercised via spark-submit
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_root = os.environ.get("SPARK_GRAFT_OUT", "/tmp/s2geometry_dedup")
    docs_mult = int(os.environ.get("SPARK_GRAFT_DOCS_MULT", "1"))
    spark = job_session("dedup-job")
    print(run_dedup_job(spark, sf_dir, ParquetTableIO(out_root),
                        docs_mult=docs_mult))
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
