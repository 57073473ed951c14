"""Region coverer (SURVEY.md §2.1 A29, lifecycle E2′).

Semantics follow ``S2RegionCoverer.swift :: getCovering`` [spec]: start
from the 6 face cells, subdivide cells that intersect the region, keep
cells where ``region.may_intersect_cells(ids)``, mark terminal when
``region.contains_cells(ids)`` (those become ``is_interior`` rows that
skip the exact post-filter — the interior short-circuit of §4.1) or
when ``max_level`` is reached, and stop subdividing once the output
budget ``max_cells`` would be exceeded.

Implementation is deliberately NOT a port of the reference's per-cell
best-first priority queue: the conservative cell tests come from
bounding-cap distance bounds (regions.py) and subdivision is
level-synchronous so each round is one *vectorized* numpy region test
over the whole frontier. This preserves the only properties the engine
needs (covering ⊇ region, interior ⊆ region, |covering| ≤ max_cells,
cells disjoint). Coverer cost is driver-side but not negligible: the
119,765-row level-8 covering of the 11-region bench catalog cost 4-5 s
of driver time when its table was built row by row with one-element
numpy calls, so `covering_table` builds whole numpy columns instead.
A priority-queue coverer covers a smaller boundary area per budget,
but on the 11-region bench catalog its driver time and larger
broadcast covering cost far more than the containment rows it saves.
Both measurements are in BENCH/PLAN_EVIDENCE.md.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import kernels as K

FACE_CELL_IDS = [(f << 61) | (1 << 60) for f in range(6)]


def covering(region, max_cells: int = 64, min_level: int = 0,
             max_level: int = 30) -> list:
    """Level-synchronous vectorized covering.

    Returns list of (cell_id, level, is_interior). Each round tests the
    whole frontier with ONE vectorized region call (numpy over cell
    centers — regions.py may_intersect_cells/contains_cells), so the
    coverer costs ~max_level numpy calls instead of per-cell Python.
    Cells whose children all fail may_intersect are dropped (a cell is
    exactly the union of its children). When subdividing the frontier
    would exceed max_cells, the remaining frontier is emitted as-is.

    Invariants (tested in tests/test_coverer.py):
      * union(cells) ⊇ region
      * is_interior cells ⊆ region
      * len ≤ max(max_cells, 6); levels in [min_level, max_level]
      * cells pairwise disjoint (each cell emitted XOR subdivided)

    Raises ValueError unless 0 <= min_level <= max_level <= 30: a leaf
    cell has no children, so a deeper level would emit duplicate ids.
    """
    if not 0 <= min_level <= max_level <= K.MAX_LEVEL:
        raise ValueError(f"covering levels must satisfy 0 <= min_level <= "
                         f"max_level <= {K.MAX_LEVEL}, got min_level="
                         f"{min_level}, max_level={max_level}")
    frontier = np.array(FACE_CELL_IDS, dtype=np.uint64)
    frontier = frontier[region.may_intersect_cells(frontier)]
    out = []
    lvl = 0
    while len(frontier):
        if lvl >= min_level:
            interior = region.contains_cells(frontier)
            out.extend((int(c), lvl, True) for c in frontier[interior])
            frontier = frontier[~interior]
            if not len(frontier):
                break
        if lvl >= max_level or (lvl >= min_level
                                and len(out) + 4 * len(frontier) > max_cells):
            out.extend((int(c), lvl, False) for c in frontier)
            break
        kids = K.children(frontier).ravel()
        frontier = kids[region.may_intersect_cells(kids)]
        lvl += 1
    return out


def uniform_covering(region, level: int) -> list:
    """All level-`level` cells that may intersect the region.

    The equi-join covering (SURVEY B6): every cell has the same level,
    so `pages.cell_l{level} == covering.cell_id` is a hash join with no
    range predicate.
    """
    return covering(region, max_cells=2 ** 62, min_level=level, max_level=level)


def covering_table(region, max_cells: int = 64,
                   uniform_level: int | None = None) -> pd.DataFrame:
    """Covering as the join-ready `coverings` table (§1.2), one row per cell.

    `uniform_level` selects the uniform-level equi-join covering;
    otherwise `covering` under the `max_cells` budget. Columns and
    dtypes follow pip_join.COVERINGS_SCHEMA: region_id, signed int64
    cell_id, int32 level, signed-flip order keys for BETWEEN range joins
    (SURVEY §2.2) and is_interior. Built as numpy columns with one
    vectorized kernel call per column, never one per cell.
    """
    if uniform_level is not None:
        cells = uniform_covering(region, uniform_level)
    else:
        cells = covering(region, max_cells)
    n = len(cells)
    ids = np.fromiter((c for c, _, _ in cells), dtype=np.uint64, count=n)
    return pd.DataFrame({
        "region_id": np.full(n, region.region_id, dtype=np.int64),
        "cell_id": K.uint64_to_signed(ids),
        "level": np.fromiter((lvl for _, lvl, _ in cells), dtype=np.int32,
                             count=n),
        "range_min_key": K.signed_order_key(K.range_min(ids)),
        "range_max_key": K.signed_order_key(K.range_max(ids)),
        "is_interior": np.fromiter((i for _, _, i in cells), dtype=bool,
                                   count=n),
    })


def covering_rows(region, max_cells: int = 64,
                  uniform_level: int | None = None) -> list[dict]:
    """Dict-row view of `covering_table`, values native Python int/bool.

    The coverings table is built only by `covering_table`;
    pip_join.coverings_df hands its frames to Spark over Arrow.
    """
    return covering_table(region, max_cells, uniform_level).to_dict("records")
