"""Within-distance spatial self-join (S2ClosestPointQuery / spatial
"distance join" family — public S2 spec; no reference checkout exists,
SURVEY §0).

Query: all unordered page pairs whose points lie within angular
distance ``radius`` of each other — the batch twin of running
S2ClosestPointQuery(max_distance=radius) from every point at once.

Physical shape (SURVEY B6/B10 discipline — grid + stencil, never
all-pairs):

1. pick the COARSEST level L whose min cell width >= radius
   (kernels.min_width_max_level, A32 metric). Guarantee: a geodesic
   between two points within ``radius`` cannot fully cross any
   intermediate level-L cell (each is >= one min width wide), so the
   two cells are identical or Chebyshev-adjacent — the 3x3 stencil is
   a certified superset of all qualifying pairs.
2. project each point once to (url, px, py, pz, cell, stencil[9]) and
   persist — the self-join would otherwise re-run the geocode + xyz
   kernel chain on BOTH sides (CLAUDE.md: persist self-joined
   intermediates), and the stencil array (all_neighbors_udf + own
   cell) is computed in the same single pass.
3. left side explodes the stencil (9 rows/point), right side keeps the
   center cell (1 row/point); shuffle equi-join on the cell key with
   ``url_a < url_b``. Each qualifying pair is produced EXACTLY once:
   cell(b) is unique, stencil(a) has distinct members, and the
   symmetric orientation (b's stencil hitting a's cell) is cut by the
   url ordering — no distinct needed.
4. exact post-filter on squared chord distance d2 = ||p_a - p_b||^2
   (monotone with angle), pure JVM whole-stage codegen, the same
   fixed-order expression as the kNN oracle.

Scale notes (10^12 rows): only (url, xyz, cell) ever shuffles — 9x
fan-out on one side, text/html never move; both sides partition on the
same cell key (AQE handles skewed cells; tiles.salted_equi_join is the
explicit-salt variant if a histogram pass is warranted). No driver
loop, no collect, no broadcast of anything data-sized.

Catalyst traps (CLAUDE.md): the join key is UDF-derived, so the
eqNullSafe key + coalesce()-wrapped filters guard against the
inferred-isnotnull pushdown re-inlining the kernel chain — and the
persist barrier makes re-inlining impossible even where Catalyst
tries. Single-evaluation asserted in tests/test_plans.py.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StructField,
                               StructType)

from .. import kernels as K


def chord2_of_angle(radius_rad: float) -> float:
    """Squared chord length of an angle (the d2 threshold): monotone,
    exact in the regime used (radius << pi)."""
    return (2.0 * math.sin(radius_rad / 2.0)) ** 2


_PROJ_SCHEMA = StructType([
    StructField("px", DoubleType()), StructField("py", DoubleType()),
    StructField("pz", DoubleType()),
    StructField("cell", LongType()),
    StructField("nbrs", ArrayType(LongType())),
])


def _make_proj_udf(level: int):
    """ONE Arrow hop for the whole per-point projection: xyz + level-L
    cell + its 8 neighbors. The separate xyz_udf / all_neighbors_udf
    composition costs three Arrow round-trips over the full table
    (cell_id_udf upstream included); re-deriving the cell from lat/lng
    here duplicates ~ms of numpy Hilbert encoding to save two
    full-table serialization passes (measured 5.8s -> ~3s projection
    at 500k rows). Values are identical to the kernel composition —
    same K.* calls."""
    @pandas_udf(_PROJ_SCHEMA)
    def proj_udf(lat_deg: pd.Series, lng_deg: pd.Series) -> pd.DataFrame:
        lat = np.radians(lat_deg.to_numpy("float64"))
        lng = np.radians(lng_deg.to_numpy("float64"))
        x, y, z = K.latlng_to_xyz(lat, lng)
        cells = K.parent(
            K.latlng_degrees_to_cell_id(lat_deg.to_numpy("float64"),
                                        lng_deg.to_numpy("float64")),
            level)
        nbrs = np.stack(K.all_neighbors(cells), axis=1)  # (n, 8) uint64
        signed = K.uint64_to_signed(nbrs.reshape(-1)).reshape(nbrs.shape)
        return pd.DataFrame({
            "px": x, "py": y, "pz": z,
            "cell": K.uint64_to_signed(cells),
            "nbrs": list(signed),
        })

    return proj_udf


def distance_join(pages: DataFrame, radius_rad: float,
                  level: int | None = None,
                  cache_registry: list | None = None) -> DataFrame:
    """All unordered pairs (url_a < url_b) within ``radius_rad``.

    Returns (url_a, url_b, cell) where cell is the level-L key the
    pair met on (the partition provenance — useful for skew audits;
    unique per pair, see module docstring). ``pages`` needs only
    url/lat/lng — the level-L cell is re-derived inside the fused
    projection UDF and any cell_id/cell_l* columns are pruned away.

    ``cache_registry``: the dedup.py contract — the persisted points
    projection is appended so callers release it after materializing
    (dedup.release_caches); without a registry it is left persisted
    for the session.
    """
    if level is None:
        level = K.min_width_max_level(radius_rad)
        if level <= 0 and K.K_MIN_WIDTH_DERIV < radius_rad:
            raise ValueError(
                f"radius {radius_rad} exceeds the level-0 min cell width "
                f"({K.K_MIN_WIDTH_DERIV:.4f} rad); the 3x3 stencil bound "
                "needs radius <= min_width(0) — shard the query or add a "
                "wider Chebyshev stencil")
    d2max = chord2_of_angle(radius_rad)

    proj = _make_proj_udf(level)
    # array_union stays JVM-side: it dedups the (rare) coincident
    # corner neighbors — a duplicate stencil cell would duplicate pairs
    pts = (pages
           .withColumn("o", proj(F.col("lat"), F.col("lng")))
           .select("url", F.col("o.px").alias("px"),
                   F.col("o.py").alias("py"), F.col("o.pz").alias("pz"),
                   F.col("o.cell").alias("cell"),
                   F.array_union(F.array(F.col("o.cell")), F.col("o.nbrs"))
                   .alias("stencil"))
           ).persist()
    if cache_registry is not None:
        cache_registry.append(pts)

    left = (pts
            .select(F.col("url").alias("url_a"), F.col("px").alias("ax"),
                    F.col("py").alias("ay"), F.col("pz").alias("az"),
                    F.explode("stencil").alias("jcell")))
    right = (pts
             .select(F.col("url").alias("url_b"), F.col("px").alias("bx"),
                     F.col("py").alias("by"), F.col("pz").alias("bz"),
                     F.col("cell").alias("jcell_r")))
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    dz = F.col("az") - F.col("bz")
    d2 = (dx * dx + dy * dy) + dz * dz
    # BOTH sides are corpus-sized — pin the join to shuffle_hash.
    # Catalyst's size estimate through the ArrowEvalPython projection
    # under-counts the cached relation and picked a BROADCAST build at
    # the 10M-row bench (12.7 GiB > the 8 GiB hard cap → job abort; on
    # a real cluster it would OOM the driver first). A corpus self-join
    # must never broadcast; the hint makes that structural.
    right = right.hint("shuffle_hash")
    # eqNullSafe key + coalesce'd predicates: no isnotnull inference,
    # the kernel chain is never re-inlined past the persist barrier
    pairs = (left.join(
        right,
        F.col("jcell").eqNullSafe(F.col("jcell_r"))
        & F.coalesce(F.col("url_a") < F.col("url_b"), F.lit(False)),
        "inner")
        .filter(F.coalesce(d2 <= F.lit(d2max), F.lit(False)))
        .select("url_a", "url_b", F.col("jcell").alias("cell")))
    return pairs


def distance_join_count(pages: DataFrame, radius_rad: float,
                        level: int | None = None,
                        cache_registry: list | None = None) -> DataFrame:
    """Per-point neighbor-count profile: (url, n_within) for every page
    with at least one neighbor within ``radius_rad`` — the aggregate
    consumers (density screens, spam-cluster detection) actually want,
    computed without materializing the full pair list twice."""
    pairs = distance_join(pages, radius_rad, level=level,
                          cache_registry=cache_registry)
    both = (pairs.select(F.col("url_a").alias("url"))
            .unionAll(pairs.select(F.col("url_b").alias("url"))))
    return both.groupBy("url").agg(F.count("*").alias("n_within"))
