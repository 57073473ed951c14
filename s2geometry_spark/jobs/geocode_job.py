"""The production geocode-and-tile job: resumable, skew-aware,
spark-submit-deployable.

    spark-submit --py-files s2geometry_spark.zip \\
        -m s2geometry_spark.jobs.geocode_job  # or path to this file

Work decomposition: tiles at TILE_LEVEL L go to N_BATCHES work units by
face + Hilbert position, pmod(tile >> (2*(30-L)+1), n) — deterministic,
independent of data order (the bits below are the constant lsb pattern).
Resume, staging and commits are the skeleton shared with dedup_job
(jobs/batches.py): a run killed mid-write loses all of its pending
batches, not one; ``max_batches_this_run`` bounds that loss.

Geocode once, write once: every input row, tagged with its batch id,
goes into ONE write ``partitionBy(_batch, tile)``, rebalanced on the
tile so AQE splits a hot tile's partition across the map tasks that
wrote it. The write is unfiltered — a resume writes all rows and
commits only its pending batches — because a filter on the batch is
pushed below the geocode projection and re-runs the UDF over the whole
input once per batch. The rows per tile come from the part files'
footers (each file sits in one ``cell_l4=<t>`` dir, each tile in one
batch), so the hot-tile list takes no Spark job; each pending
``_batch=b`` dir (layout ``cell_l4=<t>/part-*``) is then committed by
rename. ``IcebergTableIO`` has no ``root``: its swap point needs a
staging location for this step.
"""

from __future__ import annotations

import os
import zipfile
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# absolute imports: this file doubles as a spark-submit entry script
# (`spark-submit --py-files s2geometry_spark.zip .../geocode_job.py`),
# where it runs as __main__ with the package provided by the zip
from s2geometry_spark.io.table_io import ParquetTableIO, footer_lineage
from s2geometry_spark.jobs.batches import (BATCH_COL, commit_batches,
                                           pending_batches, staging_dir)
from s2geometry_spark.operators import tiles as TL
from s2geometry_spark.session import job_session
from s2geometry_spark.sources.pages import load_pages

TILE_LEVEL = 4
N_BATCHES = 8
HOT_THRESHOLD_ROWS = 50_000
OUT_COLS = ("url", "warc_ts", "text", "lang", "h", "lat", "lng",
            "cell_id", "cell_l4", "cell_l8", "cell_l12")


def batch_of(tile_col: str, n_batches: int = N_BATCHES):
    pos = F.shiftright(F.col(tile_col), 2 * (30 - TILE_LEVEL) + 1)
    return F.pmod(pos, F.lit(n_batches)).cast("int")


def keyed_pages(spark: SparkSession, sf_dir: str,
                n_batches: int = N_BATCHES) -> DataFrame:
    """The job's output rows plus their batch id in BATCH_COL."""
    return (load_pages(spark, sf_dir).select(*OUT_COLS)
            .withColumn(BATCH_COL,
                        batch_of(TL.tile_col(TILE_LEVEL), n_batches)))


def run_geocode_job(spark: SparkSession, sf_dir: str, io: ParquetTableIO,
                    table: str = "pages_tiled",
                    n_batches: int = N_BATCHES,
                    hot_threshold: int = HOT_THRESHOLD_ROWS,
                    max_batches_this_run: int | None = None) -> dict:
    """Returns {"committed": [...], "skipped": [...], "hot_tiles": [...]}.

    `max_batches_this_run` exists for crash-injection tests and for
    bounded incremental runs — production leaves it None.
    """
    run, skipped = pending_batches(io, table, n_batches,
                                   max_batches_this_run, sf_dir=sf_dir)
    if not run:
        # return before the write: an idempotent re-run starts no job
        return {"committed": [], "skipped": skipped, "hot_tiles": []}
    tcol = TL.tile_col(TILE_LEVEL)
    with staging_dir(io, table) as staging:
        (keyed_pages(spark, sf_dir, n_batches).hint("rebalance", tcol)
         .write.partitionBy(BATCH_COL, tcol).parquet(staging))
        counts: Counter = Counter()
        for n, tile, _ in footer_lineage(staging, tcol):
            counts[tile] += n
        # the null tile (rows without a point) is never hot
        hot = sorted(t for t, n in counts.items()
                     if t is not None and n > hot_threshold)
        commit_batches(
            io, table, staging, run,
            {"sf_dir": sf_dir, "n_batches": n_batches, "hot_tiles": hot},
            partition_by=tcol, lineage_col=tcol)
    return {"committed": run, "skipped": skipped, "hot_tiles": hot}


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
    spark = job_session("geocode-job")
    print(run_geocode_job(spark, sf_dir, ParquetTableIO(out_root)))
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
