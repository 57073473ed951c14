"""Within-distance spatial self-join (S2ClosestPointQuery / spatial
"distance join" family — public S2 spec; SURVEY §0): all unordered
page pairs within angular distance ``radius``, the batch twin of
S2ClosestPointQuery(max_distance=radius) run from every point at once.

Grid + stencil, never all-pairs (SURVEY B6/B10): level L is the
COARSEST whose min cell width >= radius (kernels.min_width_max_level),
so a geodesic of length <= radius cannot cross a whole level-L cell and
the two points' cells are equal or adjacent.

Half stencil: the same-level neighbour relation is symmetric (checked
over every cell at levels 2, 4 and 6). So each point probes only the
deduplicated neighbours whose id sorts above its own cell (~5 rows per
point instead of 9): a cross-cell pair is found once, from the lower
cell's point meeting the higher cell's centre row; a same-cell pair is
found once by keeping centre rows i < j; the output takes (least url,
greatest url), and its ``cell`` is the centre cell of the greater-url
side (what the ``dist_join_pairs`` oracle defines).

Shape: one ``mapInPandas`` emits each point's centre row (key = own
cell) and its probe rows, with xyz and the own cell; one ``repartition``
+ ``sortWithinPartitions`` on the key; one ``mapInPandas`` forms each
complete key group's centre x centre and probe x centre candidates and
keeps d2 = (dx*dx + dy*dy) + dz*dz <= d2max (the oracle's operand
order). No join node, nothing persisted; text never shuffles. A page
without a point (K.has_point) or with a NULL url is dropped at emit;
equal urls never pair.

Trade-off: ``repartition`` gets no AQE skew-join split, so a hot cell
is one task's work, quadratic in its size, and its kept pairs cross
Arrow (3,000 extra points in one cell: warm wall 3.4 -> 4.1 s at 50k
pages; BENCH/PLAN_EVIDENCE.md). Its candidates are expanded ``_BLOCK``
at a time, so that task never holds N² index arrays at once.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                               StringType, StructField, StructType)

from .. import kernels as K

_BLOCK = 1 << 18  # candidate pairs expanded at once in the pairs pass

_EMIT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("x", DoubleType()), StructField("y", DoubleType()),
    StructField("z", DoubleType()),
    StructField("key", LongType()), StructField("own", LongType()),
    StructField("centre", BooleanType()),
])
_PAIR_SCHEMA = StructType([
    StructField("url_a", StringType()), StructField("url_b", StringType()),
    StructField("cell", LongType()),
])


def chord2_of_angle(radius_rad: float) -> float:
    """Squared chord length of an angle (the d2 threshold): monotone,
    exact in the regime used (radius << pi)."""
    return (2.0 * math.sin(radius_rad / 2.0)) ** 2


def _emit(level: int):
    """mapInPandas body: centre row + half-stencil probe rows per point."""
    def run(batches):
        for pdf in batches:
            lat = pdf["lat"].to_numpy("float64")
            lng = pdf["lng"].to_numpy("float64")
            keep = K.has_point(lat, lng) & pdf["url"].notna().to_numpy()
            lat, lng = lat[keep], lng[keep]
            urls = pdf["url"].to_numpy(dtype=object)[keep]
            x, y, z = K.latlng_to_xyz(np.radians(lat), np.radians(lng))
            cells = K.parent(K.latlng_degrees_to_cell_id(lat, lng), level)
            own = K.uint64_to_signed(cells)
            nb = np.sort(K.uint64_to_signed(
                np.stack(K.all_neighbors(cells), axis=1)), axis=1)
            up = nb > own[:, None]  # half stencil, corner duplicates cut
            up[:, 1:] &= nb[:, 1:] != nb[:, :-1]
            r, c = np.nonzero(up)
            rows = np.concatenate([np.arange(own.size), r])
            yield pd.DataFrame({
                "url": urls[rows], "x": x[rows], "y": y[rows], "z": z[rows],
                "key": np.concatenate([own, nb[r, c]]), "own": own[rows],
                "centre": np.arange(rows.size) < own.size})
    return run


def _pairs(chunk: pd.DataFrame, d2max: float, block: int):
    """Pair frames of a key-sorted chunk made of complete key groups,
    from at most ``block`` candidates at a time."""
    key = chunk["key"].to_numpy()
    centre = chunk["centre"].to_numpy(bool)
    cen = np.flatnonzero(centre)  # centre rows, in key order
    lo = np.searchsorted(key[cen], key, "left")
    hi = np.searchsorted(key[cen], key, "right")
    # a centre row meets the centres after it, a probe row all of them
    start = np.where(centre, np.cumsum(centre), lo)
    n = hi - start
    ends = np.cumsum(n)
    x, y, z = (chunk[c].to_numpy() for c in ("x", "y", "z"))
    urls = chunk["url"].to_numpy(dtype=object)
    own = chunk["own"].to_numpy()
    total = int(ends[-1]) if ends.size else 0
    for s in range(0, total, block):
        pos = np.arange(s, min(s + block, total))
        a = np.searchsorted(ends, pos, "right")
        b = cen[start[a] + pos - (ends[a] - n[a])]
        dx, dy, dz = x[a] - x[b], y[a] - y[b], z[a] - z[b]
        near = (dx * dx + dy * dy) + dz * dz <= d2max
        a, b = a[near], b[near]
        ua, ub = urls[a], urls[b]
        lt = ua < ub
        keep = lt | (ua > ub)  # equal urls never pair
        if keep.any():
            yield pd.DataFrame({
                "url_a": np.where(lt, ua, ub)[keep],
                "url_b": np.where(lt, ub, ua)[keep],
                "cell": np.where(lt, own[b], own[a])[keep]})


def _pair_groups(d2max: float):
    """mapInPandas body over key-sorted partitions: the last key group
    of a batch may continue, so it is held for the next batch. The
    block size is read here, when the plan is built."""
    block = _BLOCK

    def run(batches):
        held: list = []
        for pdf in batches:
            if pdf.empty:
                continue
            key = pdf["key"].to_numpy()
            cut = int(np.searchsorted(key, key[-1], "left"))
            if cut:
                yield from _pairs(pd.concat(held + [pdf.iloc[:cut]],
                                            ignore_index=True),
                                  d2max, block)
                held = []
            held.append(pdf.iloc[cut:])
        if held:
            yield from _pairs(pd.concat(held, ignore_index=True), d2max,
                              block)
    return run


def distance_join(pages: DataFrame, radius_rad: float,
                  level: int | None = None,
                  cache_registry: list | None = None) -> DataFrame:
    """All unordered pairs (url_a < url_b) within ``radius_rad``.

    Returns a lazy (url_a, url_b, cell): cell is the level-L centre
    cell of url_b (module docstring). ``pages`` needs only url/lat/lng.

    ``cache_registry``: kept for callers of the persisted shape.
    Nothing is persisted; when given, one lazy per-point view
    (url, px, py, pz, cell, stencil) over the emitted rows is appended,
    its stencil being the half stencil, and releasing it is a no-op.
    """
    if level is None:
        level = K.min_width_max_level(radius_rad)
        if level <= 0 and K.K_MIN_WIDTH_DERIV < radius_rad:
            raise ValueError(
                f"radius {radius_rad} exceeds the level-0 min cell width "
                f"({K.K_MIN_WIDTH_DERIV:.4f} rad); the 3x3 stencil bound "
                "needs radius <= min_width(0) — shard the query or add a "
                "wider Chebyshev stencil")
    emitted = pages.select("url", "lat", "lng").mapInPandas(
        _emit(level), _EMIT_SCHEMA)
    if cache_registry is not None:
        cache_registry.append(emitted.groupBy(
            "url", *(F.col(c).alias("p" + c) for c in "xyz"),
            F.col("own").alias("cell"))
            .agg(F.collect_list("key").alias("stencil")))
    return (emitted.repartition("key").sortWithinPartitions("key")
            .mapInPandas(_pair_groups(chord2_of_angle(radius_rad)),
                         _PAIR_SCHEMA))


def distance_join_count(pages: DataFrame, radius_rad: float,
                        level: int | None = None,
                        cache_registry: list | None = None) -> DataFrame:
    """Per-point neighbor-count profile: (url, n_within) for every page
    with at least one neighbor within ``radius_rad`` — the aggregate
    consumers (density screens, spam-cluster detection) actually want,
    in one pass over the pairs."""
    pairs = distance_join(pages, radius_rad, level=level,
                          cache_registry=cache_registry)
    return (pairs.select(F.explode(F.array("url_a", "url_b")).alias("url"))
            .groupBy("url").agg(F.count("*").alias("n_within")))
