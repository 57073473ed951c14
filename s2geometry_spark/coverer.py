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
cells disjoint). Regions are ≤10^4 rows vs 10^12 pages, so coverer
cost is driver-side and immaterial at scale.
"""

from __future__ import annotations

import heapq
import itertools

import numpy as np

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
    """
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


class _Candidate:
    __slots__ = ("cell", "lvl", "is_terminal", "children")

    def __init__(self, cell: int, lvl: int, is_terminal: bool):
        self.cell = cell
        self.lvl = lvl
        self.is_terminal = is_terminal
        self.children: list = []


def covering_best_first(region, max_cells: int = 8, min_level: int = 0,
                        max_level: int = 30, level_mod: int = 1) -> list:
    """True best-first coverer — S2RegionCoverer.swift ::
    getCoveringInternal / newCandidate / expandChildren / addCandidate
    [spec] — behind the same (cell_id, level, is_interior) interface as
    `covering`.

    Differences from the level-synchronous default: a priority queue
    pops the candidate that most deserves subdivision — lexicographic
    (level, num-intersecting-children, num-terminal-children), the
    spec's packed priority — so the cell budget is spent where the
    region boundary is, typically producing SMALLER coverings for the
    same max_cells (asserted vs the level-sync coverer in
    tests/test_coverer.py). Initial candidates are seeded from the
    region's cap bound (A21) at the level where 4 vertex-neighbor
    cells (A17) still cover the cap, instead of always starting at the
    6 faces. level_mod subdivides in steps of 4^level_mod children
    (spec knob; output levels satisfy (lvl - min_level) % level_mod == 0
    for cells above min_level).

    Same invariants as `covering` (superset / interior-subset /
    budget / disjoint) — shared test harness.
    """
    if not 1 <= level_mod <= 3:
        raise ValueError("level_mod must be in [1, 3]")
    result: list[_Candidate] = []
    pq: list = []
    seq = itertools.count()  # deterministic FIFO tie-break

    def make_candidates(cells_u64: np.ndarray, lvl: int) -> list:
        """Batch twin of the spec's per-cell newCandidate: ONE
        vectorized may_intersect/contains region call per same-level
        cell batch instead of per-cell scalar calls (the per-cell form
        made driver-side covering construction the dominant cost of a
        cold best-first range join at bench scale)."""
        mask = region.may_intersect_cells(cells_u64)
        kept = cells_u64[mask]
        if not len(kept):
            return []
        if lvl >= min_level:
            if lvl + level_mod > max_level:
                term = np.ones(len(kept), dtype=bool)
            else:
                term = region.contains_cells(kept)
        else:
            term = np.zeros(len(kept), dtype=bool)
        return [_Candidate(int(c), lvl, bool(t))
                for c, t in zip(kept, term)]

    def expand_children(candidate: _Candidate, cell: int, lvl: int,
                        num_levels: int) -> int:
        num_levels -= 1
        kids = K.children(np.array([cell], dtype=np.uint64))[0]
        if num_levels > 0:
            mask = region.may_intersect_cells(kids)
            n_terminals = 0
            for child in kids[mask]:
                n_terminals += expand_children(candidate, int(child),
                                               lvl + 1, num_levels)
            return n_terminals
        cands = make_candidates(kids, lvl + 1)
        candidate.children.extend(cands)
        return sum(1 for c in cands if c.is_terminal)

    def add_candidate(candidate) -> None:
        if candidate is None:
            return
        if candidate.is_terminal:
            result.append(candidate)
            return
        # expand one level at a time below min_level so it isn't skipped
        num_levels = level_mod if candidate.lvl >= min_level else 1
        n_terminals = expand_children(candidate, candidate.cell,
                                      candidate.lvl, num_levels)
        if not candidate.children:
            return
        if (n_terminals == 1 << (2 * level_mod)
                and candidate.lvl >= min_level):
            # every possible child is terminal — the parent covers the
            # same set with one cell
            candidate.is_terminal = True
            result.append(candidate)
            return
        heapq.heappush(pq, (candidate.lvl, len(candidate.children),
                            n_terminals, next(seq), candidate))

    def initial_candidates() -> None:
        if max_cells >= 4:
            axis, r = region.cap_bound()
            if r < 0:
                return  # empty region
            level = min(K.min_width_max_level(2.0 * r),
                        min(max_level, K.MAX_LEVEL - 1))
            if level_mod > 1 and level > min_level:
                level -= (level - min_level) % level_mod
            if level > 0:
                lat, lng = K.xyz_to_latlng(
                    np.array([axis[0]]), np.array([axis[1]]),
                    np.array([axis[2]]))
                leaf = K.latlng_degrees_to_cell_id(
                    np.degrees(lat), np.degrees(lng))
                vn = K.vertex_neighbors(leaf, level)[0]
                cells = np.array(sorted({int(c) for c in vn}),
                                 dtype=np.uint64)
                for cand in make_candidates(cells, level):
                    add_candidate(cand)
                return
        for cand in make_candidates(np.array(FACE_CELL_IDS,
                                             dtype=np.uint64), 0):
            add_candidate(cand)

    initial_candidates()
    while pq:
        _, n_children, _, _, candidate = heapq.heappop(pq)
        if (candidate.lvl < min_level or n_children == 1
                or len(result) + len(pq) + n_children <= max_cells):
            for child in candidate.children:
                add_candidate(child)
        else:
            candidate.is_terminal = True
            result.append(candidate)

    if not result:
        return []
    ids = np.array([c.cell for c in result], dtype=np.uint64)
    interior = region.contains_cells(ids)
    return [(c.cell, c.lvl, bool(i)) for c, i in zip(result, interior)]


def uniform_covering(region, level: int) -> list:
    """All level-`level` cells that may intersect the region.

    The equi-join covering (SURVEY B6): every cell has the same level,
    so `pages.cell_l{level} == covering.cell_id` is a hash join with no
    range predicate.
    """
    return covering(region, max_cells=2 ** 62, min_level=level, max_level=level)


def covering_rows(region, max_cells: int = 64, min_level: int = 0,
                  max_level: int = 30, uniform_level: int | None = None,
                  mode: str = "level_sync", level_mod: int = 1):
    """Covering as join-ready dict rows (the `coverings` table, §1.2).

    Emits signed int64 cell ids plus signed-flip order keys for BETWEEN
    range joins (SURVEY §2.2). mode: "level_sync" (vectorized default)
    or "best_first" (spec priority-queue coverer, usually tighter for
    small max_cells; supports level_mod).
    """
    if uniform_level is not None:
        cells = uniform_covering(region, uniform_level)
    elif mode == "best_first":
        cells = covering_best_first(region, max_cells, min_level,
                                    max_level, level_mod)
    elif mode == "level_sync":
        cells = covering(region, max_cells, min_level, max_level)
    else:
        raise ValueError(mode)
    rows = []
    for cid, lvl, interior in cells:
        arr = np.array([cid], dtype=np.uint64)
        rows.append({
            "region_id": region.region_id,
            "cell_id": int(K.uint64_to_signed(arr)[0]),
            "level": lvl,
            "range_min_key": int(K.signed_order_key(K.range_min(arr))[0]),
            "range_max_key": int(K.signed_order_key(K.range_max(arr))[0]),
            "is_interior": bool(interior),
        })
    return rows
