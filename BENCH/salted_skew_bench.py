"""Skew evidence for the shuffle covering join (B20).

Builds a deliberately skewed pages table — SKEW_FRAC of all rows land
in ONE level-4 tile (the "popular host" shape real web corpora have;
the testdata geocode is hash-uniform, so skew must be planted) — and
times ``pip_join(strategy="shuffle")``'s join, ``covering_join`` with
the covering side hinted ``shuffle_hash``, with AQE's skew-join split
off (one straggler task owns the hot tile's partition) and on (the
engine's default: the oversized partition is split at run time;
threshold lowered to 32m so the sandbox-sized partition trips it, the
default is 256m). AQE's split is the engine's one skew mechanism: it
beat explicit salting plus its hot-tile histogram in 10 of 10 pairs
(BENCH/PLAN_EVIDENCE.md). The numbers land in BENCH/skew.json and
BENCH/BASELINE.md.

Run: python BENCH/salted_skew_bench.py   (~2 min at the defaults).
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
from s2geometry_spark.operators.pip_join import covering_join
from s2geometry_spark.regions import Rect
from s2geometry_spark.session import get_spark

N_ROWS = int(os.environ.get("SKEW_ROWS", "8000000"))
SKEW_FRAC = float(os.environ.get("SKEW_FRAC", "0.3"))
LEVEL = 4


def main() -> None:
    spark = get_spark("skew-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")

    # ~390 real level-4 cells, one leaf in each: geocode a deterministic
    # lat/lng spread
    leaves = K.latlng_degrees_to_cell_id(np.linspace(-80, 80, 400),
                                         np.linspace(-170, 170, 400))
    _, first = np.unique(K.parent(leaves, LEVEL), return_index=True)
    leaf_ids = [int(v) for v in K.uint64_to_signed(leaves[first])]
    hot_leaf = leaf_ids[len(leaf_ids) // 2]
    cold = [c for c in leaf_ids if c != hot_leaf]

    # pages: SKEW_FRAC of rows in hot_leaf's tile, rest over cold tiles
    pages = (spark.range(N_ROWS).repartition(64)
             .select(F.col("id").cast("string").alias("url"),
                     F.when(F.pmod("id", F.lit(1000))
                            < F.lit(int(1000 * SKEW_FRAC)),
                            F.lit(hot_leaf))
                     .otherwise(F.element_at(
                         F.array(*[F.lit(c) for c in cold]),
                         (F.pmod("id", F.lit(len(cold))) + 1).cast("int")))
                     .alias("cell_id")))
    pages = pages.persist()
    pages.count()  # materialize input so runs time the JOIN, not range()

    def run(skew_join):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                       str(skew_join).lower())
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            covering_join(pages, spark, [Rect.full(1)], uniform_level=LEVEL,
                          hint="shuffle_hash") \
                .select("url", "region_id") \
                .write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2)

    out = {
        "rows": N_ROWS, "skew_frac": SKEW_FRAC,
        "hot_rows": int(N_ROWS * SKEW_FRAC),
        "cores": spark.sparkContext.defaultParallelism,
        "aqe_skew_off_sec": run(False),
        "aqe_skew_on_sec": run(True),
    }
    out["aqe_speedup"] = round(
        out["aqe_skew_off_sec"] / out["aqe_skew_on_sec"], 2)
    print(json.dumps(out))
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "skew.json"), "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
