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
metadata and per-file-split lineage in the metrics table. A re-run
reads ``done_keys`` and processes only missing batches — crash-safe at
batch granularity because TableIO's manifest swap is atomic and data
written without a manifest entry is invisible.

At 10^12 rows this shape holds: each batch is a partition-pruned scan
(tile is the Iceberg identity-partition column), the hot-tile histogram
is a counts-only aggregate, and the per-batch write is salted so no
straggler task owns a mega-tile.
"""

from __future__ import annotations

import os
import zipfile

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
N_SALT = 8
OUT_COLS = ("url", "warc_ts", "text", "lang", "h", "lat", "lng",
            "cell_id", "cell_l4", "cell_l8", "cell_l12")


def batch_of(tile_col: str, n_batches: int = N_BATCHES):
    pos = F.shiftright(F.col(tile_col), 2 * (30 - TILE_LEVEL) + 1)
    return F.pmod(pos, F.lit(n_batches)).cast("int")


def run_geocode_job(spark: SparkSession, sf_dir: str, io: ParquetTableIO,
                    table: str = "pages_tiled",
                    n_batches: int = N_BATCHES,
                    hot_threshold: int = HOT_THRESHOLD_ROWS,
                    max_batches_this_run: int | None = None) -> dict:
    """Returns {"committed": [...], "skipped": [...], "hot_tiles": [...]}.

    `max_batches_this_run` exists for crash-injection tests and for
    bounded incremental runs — production leaves it None.
    """
    tcol = TL.tile_col(TILE_LEVEL)
    pages = load_pages(spark, sf_dir).select(*OUT_COLS)

    hot = TL.hot_tiles(pages, TILE_LEVEL, hot_threshold)
    done = io.done_keys(table)
    committed, skipped = [], []
    for b in range(n_batches):
        if b in done:
            skipped.append(b)
            continue
        if (max_batches_this_run is not None
                and len(committed) >= max_batches_this_run):
            break
        batch = pages.filter(batch_of(tcol, n_batches) == b)
        out = TL.repartition_by_tile(batch, TILE_LEVEL, hot, N_SALT) \
            .drop(TL.SALT_COL)
        io.append(out, table, partition_by=tcol, lineage_col=tcol,
                  meta={"batch_key": [b], "sf_dir": sf_dir,
                        "hot_tiles": hot})
        committed.append(b)
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
