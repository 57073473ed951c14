"""The production geocode-and-tile job: resumable, skew-aware,
spark-submit-deployable (north_rule: "runs via spark-submit --py-files
with per-partition lineage + metrics checkpointed ... so any stage
resumes from the last committed snapshot").

    spark-submit --py-files s2geometry_spark.zip \\
        -m s2geometry_spark.jobs.geocode_job  # or path to this file

Work decomposition: tiles at TILE_LEVEL L go to N_BATCHES work units by
face + Hilbert position, pmod(tile >> (2*(30-L)+1), n) — deterministic,
independent of data order (the bits below are the constant lsb pattern).
Each batch commits as ONE snapshot with its batch id in the manifest
metadata and per-file lineage in the metrics table. A re-run reads
``done_keys`` and processes only missing batches — crash-safe at batch
granularity because TableIO's manifest swap is atomic and data written
without a manifest entry is invisible. It refuses to resume snapshots
recorded with another ``n_batches`` or ``sf_dir``.

Geocode once, write once: the run writes every input row, tagged with
its batch id, in ONE write ``partitionBy(_batch, tile)`` into a
run-scoped dir ``<root>/<table>/_staging-<uuid>``. The rows per tile
come from the part files' Parquet footers (each file sits in one
``cell_l4=<t>`` dir and each tile in one batch, so the counts are exact
and take no Spark job); the hot-tile list is the tiles above the
threshold. Each pending batch is then committed in batch order by
``io.append`` of its ``_batch=b`` dir, which renames it into
``snap-<id>`` (layout ``cell_l4=<t>/part-*``) and swaps the manifest;
the lineage rows come from the same footers, so a commit starts no
Spark job (a Spark job per commit was the fixed cost that set this
job's time: a batch holds a few hundred rows). The input is scanned
once per run.

(Filtering the geocoded pages by batch instead pushes the batch
predicate below the geocode projection and re-runs the UDF over the
whole input once per batch; a filter on ``_batch`` before the write
does the same, so the write is unfiltered — a resume run writes all
rows and commits only its pending batches.) The staging dir, with any
batch not yet committed, is removed when the run ends, by success or
by error; a killed run's leftover is never read, because readers and
``done_keys`` see only manifest entries — the same contract as an
orphan ``snap-*`` dir. ``IcebergTableIO`` has no ``root``: its swap
point needs a staging location (e.g. a scratch table or path) for this
step.

At 10^12 rows this shape holds: the write is one pass over the input
(tile is the Iceberg identity-partition column), the hot-tile list is
read from file footers, and the write rebalances on the tile, so AQE
(``optimizeSkewsInRebalancePartitions``) splits a partition above
``advisoryPartitionSizeInBytes`` across the map tasks that wrote it
and no straggler task owns a mega-tile (it cannot split what one map
task wrote).
"""

from __future__ import annotations

import os
import shutil
import uuid
import zipfile
from collections import Counter

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# absolute imports: this file doubles as a spark-submit entry script
# (`spark-submit --py-files s2geometry_spark.zip .../geocode_job.py`),
# where it runs as __main__ with the package provided by the zip
from s2geometry_spark.io.table_io import ParquetTableIO
from s2geometry_spark.operators import tiles as TL
from s2geometry_spark.sources.pages import load_pages

TILE_LEVEL = 4
N_BATCHES = 8
HOT_THRESHOLD_ROWS = 50_000
OUT_COLS = ("url", "warc_ts", "text", "lang", "h", "lat", "lng",
            "cell_id", "cell_l4", "cell_l8", "cell_l12")
BATCH_COL = "_batch"


def batch_of(tile_col: str, n_batches: int = N_BATCHES):
    pos = F.shiftright(F.col(tile_col), 2 * (30 - TILE_LEVEL) + 1)
    return F.pmod(pos, F.lit(n_batches)).cast("int")


def keyed_pages(spark: SparkSession, sf_dir: str,
                n_batches: int = N_BATCHES) -> DataFrame:
    """The job's output rows plus their batch id in BATCH_COL."""
    return (load_pages(spark, sf_dir).select(*OUT_COLS)
            .withColumn(BATCH_COL,
                        batch_of(TL.tile_col(TILE_LEVEL), n_batches)))


def tile_counts(root: str, tcol: str) -> Counter:
    """Rows per tile under `root`, from the footers of the part files
    in its ``<tcol>=<t>`` dirs (no Spark job)."""
    counts: Counter = Counter()
    for dirpath, _dirs, files in os.walk(root):
        name, _, tile = os.path.basename(dirpath).partition("=")
        if name != tcol:
            continue
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                counts[int(tile)] += pq.read_metadata(
                    os.path.join(dirpath, f)).num_rows
    return counts


def run_geocode_job(spark: SparkSession, sf_dir: str, io: ParquetTableIO,
                    table: str = "pages_tiled",
                    n_batches: int = N_BATCHES,
                    hot_threshold: int = HOT_THRESHOLD_ROWS,
                    max_batches_this_run: int | None = None) -> dict:
    """Returns {"committed": [...], "skipped": [...], "hot_tiles": [...]}.

    `max_batches_this_run` exists for crash-injection tests and for
    bounded incremental runs — production leaves it None.
    """
    # batch membership is pmod(tile position, n_batches): a resume with
    # another n_batches (or input) would leave rows in no batch
    io.assert_meta(table, n_batches=n_batches, sf_dir=sf_dir)
    done = io.done_keys(table)
    if done >= set(range(n_batches)):
        # nothing left to run: return before the write, so an
        # idempotent re-run starts no job
        return {"committed": [], "skipped": list(range(n_batches)),
                "hot_tiles": []}
    committed, skipped, run = [], [], []
    for b in range(n_batches):
        if b in done:
            skipped.append(b)
        elif (max_batches_this_run is not None
                and len(run) >= max_batches_this_run):
            break
        else:
            run.append(b)
    tcol = TL.tile_col(TILE_LEVEL)
    staging = os.path.join(io.root, table, f"_staging-{uuid.uuid4().hex}")
    try:
        (keyed_pages(spark, sf_dir, n_batches).hint("rebalance", tcol)
         .write.partitionBy(BATCH_COL, tcol).parquet(staging))
        counts = tile_counts(staging, tcol)
        hot = sorted(t for t, n in counts.items() if n > hot_threshold)
        for b in run:
            files = os.path.join(staging, f"{BATCH_COL}={b}")
            # a batch with no rows has no dir: commit an empty snapshot
            os.makedirs(files, exist_ok=True)
            io.append(files, table, partition_by=tcol, lineage_col=tcol,
                      meta={"batch_key": [b], "sf_dir": sf_dir,
                            "n_batches": n_batches, "hot_tiles": hot})
            committed.append(b)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return {"committed": committed, "skipped": skipped, "hot_tiles": hot}


def package_pyfiles(dest: str = "/tmp/s2geometry_spark.zip") -> str:
    """Build the --py-files zip of the package (deploy artifact)."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.dirname(pkg_root)
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, base))
    return dest


def main() -> None:  # pragma: no cover — exercised via spark-submit
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_root = os.environ.get("SPARK_GRAFT_OUT", "/tmp/s2geometry_out")
    spark = (SparkSession.builder.appName("geocode-job")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    io = ParquetTableIO(out_root)
    result = run_geocode_job(spark, sf_dir, io)
    print(result)
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
