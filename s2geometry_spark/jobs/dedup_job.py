"""The production dedup-curation job: resumable near-dup removal over
the pages corpus, same checkpoint discipline as geocode_job (north_rule:
per-partition lineage + metrics, resume from the last committed
snapshot).

Three stages, each durable:

1. **signatures** — minhash signatures per document, computed in
   N_BATCHES url-hash batches; each batch commits as one snapshot with
   its batch id in the manifest (re-runs skip committed batches). At
   10^12 rows this is the expensive stage (one md5 per shingle), so it
   runs exactly once per corpus; every downstream pairing/threshold
   experiment reads the table.
2. **pairs** — banded-LSH candidate join + exact Jaccard verify over
   the committed signatures table (operators/dedup.py::
   pairs_from_signatures), committed as one snapshot.
3. **keep list** — deterministic survivor set: a url is DROPPED iff it
   has at least one verified near-dup with a lexicographically smaller
   url ("keep-min-neighbor": one anti-join, no iteration; every dup
   cluster keeps >= 1 representative — its global minimum — and the
   rule is order-free so re-runs are byte-stable). Production systems
   wanting exactly-one-per-cluster run connected components on the
   pairs table instead; the pairs snapshot is the input either way.

Crash safety: a batch/stage that dies before its manifest swap is
invisible; re-running the job recomputes only the missing pieces
(tests/test_scale_ops.py::test_dedup_job_resume).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s2geometry_spark.io.table_io import ParquetTableIO
from s2geometry_spark.operators import dedup
from s2geometry_spark.sources.pages import documents_to_pages, load_documents

N_BATCHES = 4
THRESHOLD = 0.5


def _batch_of(id_col: str, n_batches: int):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_batches)).cast("int")


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
    # parameters: different n_batches changes batch membership
    # (pmod(xxhash64, n)) so mixing old and new batches double-counts
    # or drops documents, and a different threshold would silently
    # return the old pairs labeled as the new run's result.
    io.assert_meta(sigs_table, n_batches=n_batches, sf_dir=sf_dir,
                   docs_mult=docs_mult)
    io.assert_meta(pairs_table, threshold=threshold, max_bucket=max_bucket)

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

    done = io.done_keys(sigs_table)
    committed, skipped = [], []
    for b in range(n_batches):
        if b in done:
            skipped.append(b)
            continue
        if (max_batches_this_run is not None
                and len(committed) >= max_batches_this_run):
            break
        batch = docs.filter(_batch_of("url", n_batches) == b)
        sigs = dedup.minhash_signatures(batch) \
            .withColumn("batch", F.lit(b))
        io.append(sigs, sigs_table, lineage_col="batch",
                  meta={"batch_key": [b], "sf_dir": sf_dir,
                        "n_batches": n_batches, "docs_mult": docs_mult})
        committed.append(b)

    if len(committed) + len(skipped) < n_batches:
        return {"committed": committed, "skipped": skipped,
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

    try:
        pairs = io.read(spark, pairs_table)
    except FileNotFoundError:
        # a committed-but-empty pairs snapshot (no near-dups at this
        # threshold) has no parquet files to read — nothing to drop
        pairs = None
    # keep-min-neighbor: drop urls appearing as the GREATER side of any
    # verified pair (url_b > url_a by construction)
    if pairs is None:
        dropped = docs.select("url").limit(0)
    else:
        dropped = pairs.select(F.col("url_b").alias("url")).distinct()
    keep = docs.select("url").distinct() \
        .join(dropped, "url", "left_anti")
    if "final" not in io.done_keys(keep_table):
        io.append(keep, keep_table, meta={"batch_key": ["final"]})

    n_pairs = 0 if pairs is None else pairs.count()
    n_dropped = dropped.count()
    n_kept = io.read(spark, keep_table).count()
    return {"committed": committed, "skipped": skipped,
            "n_pairs": n_pairs, "n_kept": n_kept, "n_dropped": n_dropped}


def main() -> None:  # pragma: no cover — exercised via spark-submit
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_root = os.environ.get("SPARK_GRAFT_OUT", "/tmp/s2geometry_dedup")
    docs_mult = int(os.environ.get("SPARK_GRAFT_DOCS_MULT", "1"))
    spark = (SparkSession.builder.appName("dedup-job")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    io = ParquetTableIO(out_root)
    print(run_dedup_job(spark, sf_dir, io, docs_mult=docs_mult))
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
