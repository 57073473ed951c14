"""Covering-based containment joins — the flagship operators (E3′).

One physical join, ``covering_join``, serves every strategy of "pages
whose point lies inside region R" (SURVEY B6 ``equi``: the
uniform-level covering; B8 ``range``: the level-synchronous
``max_cells`` covering; B20 ``shuffle``: the uniform covering again,
shuffled instead of broadcast). Covering cells are mutually disjoint
(tests/test_coverer.py), so "leaf in the cell's leaf range" is the
equality ``parent(leaf, level(cell)) == cell`` and no dedup is needed:
each page is exploded into its ancestors at the covering's distinct
levels (JVM bit algebra), which meet the cells in ONE hash join. The
broadcast strategies do **no shuffle of pages** — the central
performance property at 10^12 rows (asserted in tests/test_plans.py).
``shuffle`` is the path for catalogs too big to broadcast; a hot tile
there is split by AQE's skew-join handling, as tile writes are by its
rebalance split (operators/tiles.py).

All then apply the exact vectorized containment test ONLY to
non-interior candidate rows (the coverer's interior short-circuit,
SURVEY §4.1) inside one Arrow-batched pandas UDF.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                               StructField, StructType)

from .. import kernels as K
from ..coverer import covering_table
from ..functions import geo

COVERINGS_SCHEMA = StructType([
    StructField("region_id", LongType(), False),
    StructField("cell_id", LongType(), False),
    StructField("level", IntegerType(), False),
    StructField("range_min_key", LongType(), False),
    StructField("range_max_key", LongType(), False),
    StructField("is_interior", BooleanType(), False),
])


def _coverings_df(spark: SparkSession, frames) -> DataFrame:
    return spark.createDataFrame(
        pd.concat(frames, ignore_index=True) if frames else [],
        COVERINGS_SCHEMA)


def coverings_df(spark: SparkSession, regions, uniform_level: int | None = None,
                 max_cells: int = 64) -> DataFrame:
    """The `coverings` dimension table (SURVEY §1.2), built on the
    driver — always broadcastable. One columnar frame per region
    (coverer.covering_table), handed to Spark as one pandas frame over
    Arrow; an empty catalog gives 0 rows with the same schema."""
    return _coverings_df(spark, [
        covering_table(reg, max_cells=max_cells, uniform_level=uniform_level)
        for reg in regions])


def make_contains_udf(regions):
    """Vectorized exact containment predicate, dispatched by region_id.

    The (tiny) region list is captured in the closure and shipped once
    per executor. Runs numpy kernels per Arrow batch; polygon rows get
    the exact-arithmetic fallback for near-degenerate points. Raises
    ValueError when two regions share a region_id: rows are dispatched
    by id, so one of them would be tested against the other's geometry.
    """
    from ..regions import Cap, Polygon, Polyline, Rect, RegionUnion

    by_id = {r.region_id: r for r in regions}
    if len(by_id) != len(regions):
        counts = Counter(r.region_id for r in regions)
        raise ValueError("duplicate region ids: "
                         f"{sorted(i for i, n in counts.items() if n > 1)}")

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


def covering_join(pages: DataFrame, spark: SparkSession, regions,
                  uniform_level: int | None = None,
                  max_cells: int = 64, hint: str = "broadcast") -> DataFrame:
    """pages ⋈ coverings_df(...) where the covering cell is an ancestor
    of, or equal to, the page's leaf ``cell_id``; no exact filter; adds
    region_id and is_interior. `hint` goes on the covering side:
    "broadcast" (map-only probe) or "shuffle_hash" (both sides shuffle
    on the key and the covering is the build side, so the pages are
    never sorted). The levels come from the driver-side frames (no
    Spark job). The key is the ancestor id alone: an S2 cell id encodes
    its level. Null-safe key: a plain `=` makes Catalyst infer
    ``isnotnull``, push it through the geocode projection and re-inline
    the cell_id_udf chain into a second ArrowEvalPython
    (tests/test_plans.py). The covering's keys are non-nullable, so <=>
    matches what `=` would; a NULL cell_id (no point) matches nothing.
    """
    frames = [covering_table(reg, max_cells=max_cells,
                             uniform_level=uniform_level) for reg in regions]
    levels = sorted({int(lvl) for f in frames for lvl in f["level"].unique()})
    # no level (empty covering): any one level's key matches nothing;
    # one level (equi) skips the per-row Generate of an explode
    keys = [geo.parent_col(F.col("cell_id"), lvl) for lvl in levels or [0]]
    anc = keys[0] if len(keys) == 1 else F.explode(F.array(*keys))
    cov = _coverings_df(spark, frames).select(
        F.col("cell_id").alias("_cov_cell"), "region_id",
        "is_interior").hint(hint)
    probe = pages.select("*", anc.alias("_anc"))
    return (probe.join(cov, probe["_anc"].eqNullSafe(cov["_cov_cell"]))
            .drop("_anc", "_cov_cell"))


def pip_join(pages: DataFrame, spark: SparkSession, regions,
             strategy: str = "equi", level: int = 8,
             max_cells: int = 64) -> DataFrame:
    """pages ⋈ regions containment join → (url, region_id, ...pages cols).

    `pages` must carry lat, lng and a leaf cell_id — i.e. anything from
    sources.pages.geocode_pages.

    Strategies (all verified row-identical), each `covering_join` plus
    the exact post-filter UDF:
    * "equi"  — the uniform covering at `level`, broadcast. Two Python
      hops (geocode upstream + containment). Also the streaming path:
      Structured Streaming runs it as an inner stream-static broadcast
      join (streaming.tile_stream.streaming_pip_counts).
    * "range" — the `max_cells` hierarchical covering, broadcast.
    * "shuffle" — the uniform covering at `level` in a shuffle-hash
      join: the NON-broadcast path for region catalogs too big to
      broadcast (10^6+ covering rows at 100 TB). A hot tile makes one
      oversized shuffle partition, which AQE's skew-join handling
      splits at run time (`session.get_spark` turns it on); the call
      runs no Spark job (tests/test_plans.py). Row-identical to
      "equi" (tests/test_scale_ops.py, oracle-gated as
      pip_salted_shuffle).
    """
    if strategy not in ("equi", "range", "shuffle"):
        raise ValueError(strategy)
    contains_udf = make_contains_udf(regions)
    joined = covering_join(
        pages, spark, regions, max_cells=max_cells,
        uniform_level=None if strategy == "range" else level,
        hint="shuffle_hash" if strategy == "shuffle" else "broadcast")
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
    corpus; the b side broadcasts and only (region_a, region_b) id
    pairs survive to the distinct.
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
    b = F.broadcast(cov_b.select(F.col("region_id").alias("region_b"),
                                 F.col("range_min_key").alias("_bmin"),
                                 F.col("range_max_key").alias("_bmax")))
    cond = (F.col("_amin") <= F.col("_bmax")) \
        & (F.col("_bmin") <= F.col("_amax"))
    if same_collection:
        cond = cond & (F.col("region_a") < F.col("region_b"))
    return (a.join(b, cond)
            .select("region_a", "region_b")
            .distinct())
