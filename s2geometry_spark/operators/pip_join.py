"""Covering-based containment joins — the flagship operators (E3′).

Two physical strategies over the same logical query
"pages whose point lies inside region R":

* ``equi``  (SURVEY B6): uniform-level covering; broadcast hash join
  ``pages.cell_l{K} == coverings.cell_id``. **No shuffle of pages** —
  the central performance property at 10^12 rows (asserted via
  plans/explain.py in benches). Each page has exactly one level-K cell
  and covering cells are distinct, so no dedup is needed.

* ``range`` (SURVEY B8): hierarchical best-first covering (max_cells
  bound); broadcast range join ``cell_key BETWEEN range_min_key AND
  range_max_key`` (BroadcastNestedLoopJoin — fine because coverings are
  tiny). Covering cells are mutually disjoint by construction
  (tests/test_coverer.py), so again no dedup.

Both then apply the exact vectorized containment test ONLY to
non-interior candidate rows (the coverer's interior short-circuit,
SURVEY §4.1) inside one Arrow-batched pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                               StructField, StructType)

from .. import kernels as K
from ..coverer import covering_rows
from ..functions import geo

COVERINGS_SCHEMA = StructType([
    StructField("region_id", LongType(), False),
    StructField("cell_id", LongType(), False),
    StructField("level", IntegerType(), False),
    StructField("range_min_key", LongType(), False),
    StructField("range_max_key", LongType(), False),
    StructField("is_interior", BooleanType(), False),
])


def coverings_df(spark: SparkSession, regions, uniform_level: int | None = None,
                 max_cells: int = 64, max_level: int = 30,
                 mode: str = "level_sync") -> DataFrame:
    """The `coverings` dimension table (SURVEY §1.2) — always
    broadcastable. mode: "level_sync" | "best_first" (tighter covering
    per cell budget — see coverer.covering_best_first)."""
    rows = []
    for reg in regions:
        rows.extend(covering_rows(reg, max_cells=max_cells, max_level=max_level,
                                  uniform_level=uniform_level, mode=mode))
    return spark.createDataFrame(rows, COVERINGS_SCHEMA)


def make_contains_udf(regions):
    """Vectorized exact containment predicate, dispatched by region_id.

    The (tiny) region list is captured in the closure and shipped once
    per executor. Runs numpy kernels per Arrow batch; polygon rows get
    the exact-arithmetic fallback for near-degenerate points.
    """
    from ..regions import Cap, Polygon, Polyline, Rect, RegionUnion

    by_id = {r.region_id: r for r in regions}

    @pandas_udf(BooleanType())
    def contains_udf(region_id: pd.Series, lat_deg: pd.Series,
                     lng_deg: pd.Series,
                     is_interior: pd.Series) -> pd.Series:
        rid = region_id.to_numpy("int64")
        interior = is_interior.to_numpy("bool")
        lat = np.radians(lat_deg.to_numpy("float64"))
        lng = np.radians(lng_deg.to_numpy("float64"))
        out = interior.copy()  # interior-cell rows are contained a priori
        x = y = z = None
        for r_id in np.unique(rid[~interior]):
            reg = by_id[int(r_id)]
            m = (rid == r_id) & ~interior
            if isinstance(reg, Rect):
                out[m] = reg.contains_points_np(lat[m], lng[m])
                continue
            if x is None:
                x, y, z = K.latlng_to_xyz(lat, lng)
            if isinstance(reg, RegionUnion):
                # pass the original radians through so Rect members
                # test on them, not a xyz round-trip (regions.py note)
                out[m] = reg.contains_points_np(x[m], y[m], z[m],
                                                lat=lat[m], lng=lng[m])
            elif isinstance(reg, (Cap, Polygon, Polyline)):
                out[m] = reg.contains_points_np(x[m], y[m], z[m])
            else:  # pragma: no cover
                raise TypeError(f"unknown region type {type(reg)}")
        return pd.Series(out)

    return contains_udf


def covering_range_join(pages: DataFrame, cov: DataFrame) -> DataFrame:
    """pages ⋈ broadcast(cov) on ``order_key(cell_id) BETWEEN
    range_min_key AND range_max_key``, no exact filter.

    coalesce(cond, false) keeps the condition null-tolerant: a plain
    BETWEEN lets Catalyst infer ``isnotnull(cell_key)`` and re-inline the
    cell_id_udf chain into a second ArrowEvalPython (the eqNullSafe trap
    below; asserted in tests/test_plans.py). A null never matched anyway.
    """
    keyed = pages.withColumn("cell_key", geo.order_key_col(F.col("cell_id")))
    cov = F.broadcast(cov.select("region_id", "range_min_key",
                                 "range_max_key", "is_interior"))
    return keyed.join(
        cov,
        F.coalesce((F.col("cell_key") >= cov["range_min_key"])
                   & (F.col("cell_key") <= cov["range_max_key"]),
                   F.lit(False)), "inner")


def pip_join(pages: DataFrame, spark: SparkSession, regions,
             strategy: str = "equi", level: int = 8,
             max_cells: int = 64,
             cover_mode: str = "level_sync",
             hot_threshold: int | None = None,
             n_salt: int = 8) -> DataFrame:
    """pages ⋈ regions containment join → (url, region_id, ...pages cols).

    `pages` must carry lat, lng and (for equi) cell_l{level} or (for
    range) cell_id — i.e. anything from sources.pages.geocode_pages.

    Strategies (all verified row-identical):
    * "equi"  — broadcast hash join on the uniform-level covering +
      exact post-filter UDF. Two Python hops (geocode upstream +
      containment) — the general shape; coverings can be any size.
      Also the streaming path: Structured Streaming runs it as an
      inner stream-static broadcast join
      (streaming.tile_stream.streaming_pip_counts).
    * "range" — hierarchical covering, broadcast BETWEEN join.
    * "salted" — the NON-broadcast scale path (tiles.salted_equi_join):
      shuffle-hash join on (tile, salt) with hot tiles fanned out
      n_salt ways, for region catalogs too big to broadcast (10^6+
      covering rows at 100 TB). `hot_threshold` picks the hot tiles
      from one histogram pass over pages (rows-per-tile > threshold;
      the pass costs one extra job — production caches/persists the
      histogram alongside the tile layout). Row-identical to "equi"
      (same uniform-level covering + exact filter; asserted in
      tests/test_scale_ops.py, oracle-gated as pip_salted_shuffle).
    """
    contains_udf = make_contains_udf(regions)
    if strategy == "salted":
        from .tiles import hot_tiles, salted_equi_join
        cov = coverings_df(spark, regions, uniform_level=level)
        cov_sel = cov.select("region_id", "cell_id", "is_interior")
        hot = hot_tiles(pages, level,
                        hot_threshold if hot_threshold is not None else 0)
        joined = salted_equi_join(pages, cov_sel, level, hot,
                                  n_salt=n_salt).drop("cell_id")
    elif strategy == "equi":
        cov = coverings_df(spark, regions, uniform_level=level)
        cov_sel = cov.select("region_id",
                             F.col("cell_id").alias("_cov_cell"),
                             "is_interior")
        # Null-safe equality (<=>) instead of `=`: with a plain equality
        # key Catalyst infers `isnotnull(cell_l{K})` for the join, pushes
        # it through the geocode projection, and re-inlines the ENTIRE
        # cell_id_udf chain into a second ArrowEvalPython over every scan
        # row — doubling the Python-kernel bill (the dominant per-row
        # cost) at 10^12 rows. `<=>` is not null-intolerant, so no
        # isnotnull constraint is generated and the kernel runs exactly
        # once (asserted in tests/test_plans.py). Row-identical to `=`
        # here: COVERINGS_SCHEMA declares cell_id non-nullable, so
        # null<=>null matches cannot occur; BroadcastHashJoin supports
        # null-safe keys natively.
        joined = pages.join(
            F.broadcast(cov_sel),
            pages[f"cell_l{level}"].eqNullSafe(cov_sel["_cov_cell"]),
            "inner").drop("_cov_cell")
    elif strategy == "range":
        # cover_mode="best_first" trades more covering cells (more
        # BETWEEN probes per row in the broadcast nested-loop join —
        # cheap JVM comparisons) for a 2-30x tighter covered area, i.e.
        # proportionally fewer candidate rows entering the Python exact
        # containment UDF (the expensive per-row step). Results are
        # identical either way (superset covering + exact filter).
        cov = coverings_df(spark, regions, max_cells=max_cells,
                           mode=cover_mode)
        joined = covering_range_join(pages, cov)
    else:
        raise ValueError(strategy)
    # One pass with the interior flag pushed INTO the UDF. Two rejected
    # alternatives, measured at 10M rows: (a) `is_interior | udf(...)`
    # — Spark extracts the UDF into ArrowEvalPython and runs the
    # geometry for every row including interior ones; (b) splitting
    # into interior/boundary streams and unioning — Spark does not
    # share the common subplan, so the scan+geocode+join upstream runs
    # TWICE (8.7s → 11.5s). Passing the flag lets numpy skip the
    # geometry for interior rows while keeping a single pipeline.
    return joined.filter(
        contains_udf(F.col("region_id"), F.col("lat"), F.col("lng"),
                     F.col("is_interior")))


def region_overlap_candidates(cov_a: DataFrame, cov_b: DataFrame,
                              broadcast_b: bool = True,
                              same_collection: bool = True) -> DataFrame:
    """(region_a, region_b) distinct may-intersect candidate pairs
    between two region collections, from their coverings alone — the
    polygon x polygon analogue of the point-in-region covering join.

    Correctness lever: S2 cell ranges NEST OR ARE DISJOINT (SURVEY
    §2.2), so two covering cells share area iff their leaf ranges
    overlap as intervals, i.e. one is an ancestor-or-equal of the
    other. Coverings are supersets of their regions, so the pair set
    is a guaranteed SUPERSET of truly-intersecting pairs (tested via
    shared-point witnesses in tests/test_scale_ops.py) — feed an exact
    geometry predicate downstream to confirm, exactly like pip_join's
    candidates->verify split.

    Scale shape: region catalogs are dimension-sized next to a page
    corpus; the smaller side broadcasts and only (region_a, region_b)
    id pairs survive to the distinct. For two HUGE catalogs, swap the
    broadcast range join for the equi path both sides already carry:
    re-tile both coverings to a common level (kernels.parent) and
    equi-join on the tile, the same trick salted_equi_join uses.
    `same_collection=True` (the self-join case): `region_a < region_b`
    drops self-pairs and mirror duplicates. For TWO DISTINCT catalogs
    pass `same_collection=False` — the ids live in different
    namespaces, so the `<` filter would silently drop every pair whose
    a-side id happens to be >= the b-side id (review finding r4) and
    there are no mirrors to dedup in the first place.
    """
    a = cov_a.select(F.col("region_id").alias("region_a"),
                     F.col("range_min_key").alias("_amin"),
                     F.col("range_max_key").alias("_amax"))
    b = cov_b.select(F.col("region_id").alias("region_b"),
                     F.col("range_min_key").alias("_bmin"),
                     F.col("range_max_key").alias("_bmax"))
    if broadcast_b:
        b = F.broadcast(b)
    cond = (F.col("_amin") <= F.col("_bmax")) \
        & (F.col("_bmin") <= F.col("_amax"))
    if same_collection:
        cond = cond & (F.col("region_a") < F.col("region_b"))
    return (a.join(b, cond)
            .select("region_a", "region_b")
            .distinct())
