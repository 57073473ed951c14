"""Skew evidence for the salted covering join (round-4 verdict #1).

Builds a deliberately skewed pages table — SKEW_FRAC of all rows land
in ONE level-4 tile (the "popular host" shape real web corpora have;
the testdata geocode is hash-uniform, so skew must be planted) — and
times the SAME covering shuffle-join three ways:

  1. unsalted, AQE skew-join OFF  — the naive plan: one straggler task
     owns the hot (tile, salt=0) bucket.
  2. unsalted, AQE skew-join ON   — Spark's runtime backstop splits
     the oversized shuffle partition (threshold lowered to 32m so the
     sandbox-sized partition actually trips it; the default is 256m).
  3. salted (n_salt=8), AQE ON    — the engine's explicit path
     (tiles.salted_equi_join): hot covering rows replicate 8 ways,
     pages hash into 8 sub-buckets, no oversized partition EXISTS.

Why explicit salting when AQE can split skewed JOIN partitions:
AQE's skew-join handling fires only inside join stages it can re-plan.
Tile-partitioned WRITES (write_tiled, geocode_job) no longer salt: they
rebalance on the tile and AQE's rebalance split
(optimizeSkewsInRebalancePartitions) breaks an oversized partition up
across the map tasks that wrote it. This bench pins the join case; the
numbers land in BENCH/BASELINE.md.

Run: python BENCH/salted_skew_bench.py   (~3 min, exclusive host).
Env: SKEW_ROWS (default 8_000_000), SKEW_FRAC (default 0.3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from pyspark.sql import functions as F

from s2geometry_spark import kernels as K
from s2geometry_spark.operators import tiles as TL
from s2geometry_spark.session import get_spark

N_ROWS = int(os.environ.get("SKEW_ROWS", "8000000"))
SKEW_FRAC = float(os.environ.get("SKEW_FRAC", "0.3"))
N_SALT = int(os.environ.get("SKEW_SALT", "8"))
LEVEL = 4


def main() -> None:
    spark = get_spark("salted-skew", cores=32, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")

    # ~390 real level-4 cells: geocode a deterministic lat/lng spread
    lat = np.linspace(-80, 80, 400)
    lng = np.linspace(-170, 170, 400)
    cells = np.unique(K.parent(K.latlng_degrees_to_cell_id(lat, lng), LEVEL))
    cells_signed = [int(v) for v in K.uint64_to_signed(cells)]
    hot_cell = cells_signed[len(cells_signed) // 2]
    cold = [c for c in cells_signed if c != hot_cell]

    # pages: SKEW_FRAC of rows in hot_cell, rest uniform over cold cells
    pages = (spark.range(N_ROWS).repartition(64)
             .select(F.col("id").cast("string").alias("url"),
                     F.when(F.pmod("id", F.lit(1000))
                            < F.lit(int(1000 * SKEW_FRAC)),
                            F.lit(hot_cell))
                     .otherwise(F.element_at(
                         F.array(*[F.lit(c) for c in cold]),
                         (F.pmod("id", F.lit(len(cold))) + 1).cast("int")))
                     .alias(TL.tile_col(LEVEL))))
    pages = pages.persist()
    pages.count()  # materialize input so runs time the JOIN, not range()

    cov = spark.createDataFrame(
        [(1, c, True) for c in cells_signed],
        "region_id long, cell_id long, is_interior boolean")

    def run(name, hot, skew_join):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                       str(skew_join).lower())
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            TL.salted_equi_join(pages, cov, LEVEL, hot, n_salt=N_SALT) \
                .select("url", "region_id") \
                .write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2)

    out = {
        "rows": N_ROWS, "skew_frac": SKEW_FRAC, "n_salt": N_SALT,
        "hot_rows": int(N_ROWS * SKEW_FRAC),
        "unsalted_no_aqe_skew_sec": run("unsalted_noaqe", [], False),
        "unsalted_aqe_skew_sec": run("unsalted_aqe", [], True),
        "salted_sec": run("salted", [hot_cell], True),
    }
    out["salted_speedup_vs_naive"] = round(
        out["unsalted_no_aqe_skew_sec"] / out["salted_sec"], 2)
    print(json.dumps(out))
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "skew.json"), "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
