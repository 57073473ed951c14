"""Coverer invariants (SURVEY.md §5.2.3) — no Spark needed.

For every demo region and both covering flavors:
  * superset: every sampled point inside the region falls in some cell
  * interior: every sampled point in an is_interior cell is in the region
  * budget:   |covering| ≤ max_cells + 3 (soft bound, like the spec)
  * disjoint: covering cells' leaf ranges are pairwise disjoint
    (this is what lets pip_join skip dedup)
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from s2geometry_spark import kernels as K
from s2geometry_spark.coverer import covering, covering_rows, uniform_covering
from s2geometry_spark.demo_regions import demo_regions, tiny_cap
from s2geometry_spark.regions import Cap, Polygon, Rect

RNG = np.random.default_rng(7)
N = 40_000

LAT = RNG.uniform(-90.0, 90.0, N)
LNG = RNG.uniform(-180.0, 180.0, N)
LAT_R = np.radians(LAT)
LNG_R = np.radians(LNG)
X, Y, Z = K.latlng_to_xyz(LAT_R, LNG_R)
LEAF = K.latlng_degrees_to_cell_id(LAT, LNG)


def region_mask(reg):
    if isinstance(reg, Rect):
        return reg.contains_points_np(LAT_R, LNG_R)
    return reg.contains_points_np(X, Y, Z)


def check_covering(reg, cells):
    assert len(cells) > 0
    ids = np.array([c[0] for c in cells], dtype=np.uint64)
    rmin = K.range_min(ids)
    rmax = K.range_max(ids)
    # disjoint leaf ranges
    order = np.argsort(rmin)
    assert np.all(rmax[order][:-1] < rmin[order][1:])
    inside = region_mask(reg)
    # superset: every inside point's leaf is covered by some cell
    pos = np.searchsorted(rmin[order], LEAF[inside], side="right") - 1
    ok = (pos >= 0) & (LEAF[inside] <= rmax[order][np.clip(pos, 0, len(ids) - 1)])
    assert ok.all(), f"region {reg.region_id}: {np.sum(~ok)} inside points uncovered"
    # interior subset: points inside interior cells must be inside region
    interior_ids = np.array([c[0] for c in cells if c[2]], dtype=np.uint64)
    if len(interior_ids):
        imin = K.range_min(interior_ids)
        imax = K.range_max(interior_ids)
        io = np.argsort(imin)
        pos = np.searchsorted(imin[io], LEAF, side="right") - 1
        in_interior = (pos >= 0) & (LEAF <= imax[io][np.clip(pos, 0, len(interior_ids) - 1)])
        bad = in_interior & ~inside
        assert not bad.any(), f"region {reg.region_id}: interior cell leaks {bad.sum()} points"


@pytest.mark.parametrize("reg", demo_regions(), ids=lambda r: f"region{r.region_id}")
def test_hierarchical_covering_invariants(reg):
    for max_cells in (8, 64):
        cells = covering(reg, max_cells=max_cells)
        assert len(cells) <= max_cells + 3
        check_covering(reg, cells)


@pytest.mark.parametrize("reg", demo_regions(), ids=lambda r: f"region{r.region_id}")
def test_uniform_covering_invariants(reg):
    cells = uniform_covering(reg, 4)
    assert all(lvl == 4 for _, lvl, _ in cells)
    check_covering(reg, cells)


def test_tiny_cap_covering():
    reg = tiny_cap()
    cells = covering(reg, max_cells=8)
    check_covering(reg, cells)
    # the cap center itself must be covered
    cid = int(K.latlng_degrees_to_cell_id(np.array([10.0]), np.array([10.0]))[0])
    ids = np.array([c[0] for c in cells], dtype=np.uint64)
    assert np.any((K.range_min(ids) <= cid) & (cid <= K.range_max(ids)))


def test_covering_rows_keys():
    reg = demo_regions()[0]
    rows = covering_rows(reg, max_cells=16)
    for r in rows:
        assert r["range_min_key"] <= r["range_max_key"]
        arr = K.signed_to_uint64(np.array([r["cell_id"]], dtype=np.int64))
        assert int(K.level(arr)[0]) == r["level"]


def test_covering_rows_match_per_cell_reference():
    """covering_table's vectorized columns equal the per-cell loop it
    replaced, value for value and type for type (native int/bool)."""
    for reg in demo_regions() + [tiny_cap()]:
        for kw, cells in (({"uniform_level": 4}, uniform_covering(reg, 4)),
                          ({"max_cells": 64}, covering(reg, max_cells=64))):
            want = []
            for cid, lvl, interior in cells:
                arr = np.array([cid], dtype=np.uint64)
                want.append({
                    "region_id": reg.region_id,
                    "cell_id": int(K.uint64_to_signed(arr)[0]),
                    "level": lvl,
                    "range_min_key": int(K.signed_order_key(K.range_min(arr))[0]),
                    "range_max_key": int(K.signed_order_key(K.range_max(arr))[0]),
                    "is_interior": bool(interior),
                })
            got = covering_rows(reg, **kw)
            assert got == want
            assert [[type(v) for v in r.values()] for r in got] == \
                [[type(v) for v in r.values()] for r in want]


def test_covering_rejects_levels_outside_0_30():
    """A leaf cell (level 30) has no children: a deeper level must be
    refused, not emit the same leaf id four times labelled level 31
    (duplicate cells break the disjointness pip_join relies on)."""
    reg = tiny_cap()
    for kw in ({"min_level": -1}, {"max_level": 31},
               {"min_level": 5, "max_level": 4}):
        with pytest.raises(ValueError, match="covering levels"):
            covering(reg, **kw)
    with pytest.raises(ValueError, match="covering levels"):
        uniform_covering(reg, 31)
    with pytest.raises(ValueError, match="covering levels"):
        covering_rows(reg, uniform_level=31)
    cells = uniform_covering(reg, 30)
    ids = [c for c, _, _ in cells]
    assert cells and len(set(ids)) == len(ids)
    assert all(int(K.level(np.array([c], dtype=np.uint64))[0]) == lvl == 30
               for c, lvl, _ in cells)


def test_empty_and_constructed_regions_through_coverer():
    """A20/A23 constructions feed the coverer (VERDICT r1 item 7)."""
    empty = Cap.empty(region_id=50)
    assert covering(empty, max_cells=8) == []
    # cap built incrementally from points must cover those points
    import math
    pts = [(10.0, 10.0), (12.0, 11.0), (11.0, 13.0)]
    cap = Cap.empty(region_id=51)
    for la, ln in pts:
        lar, lnr = math.radians(la), math.radians(ln)
        cl = math.cos(lar)
        cap = cap.add_point((cl * math.cos(lnr), cl * math.sin(lnr),
                             math.sin(lar)))
    cells = covering(cap, max_cells=8)
    assert cells
    ids = np.array([c[0] for c in cells], dtype=np.uint64)
    for la, ln in pts:
        leaf = int(K.latlng_degrees_to_cell_id(np.array([la]),
                                               np.array([ln]))[0])
        assert np.any((K.range_min(ids) <= leaf)
                      & (leaf <= K.range_max(ids))), (la, ln)
    # rect union through the coverer
    r1 = Rect.from_degrees(52, 0, 5, 0, 5)
    r2 = Rect.from_degrees(52, 3, 8, 4, 9)
    u = r1.union(r2)
    cells = covering(u, max_cells=16)
    check_covering(u, cells)


def test_polyline_buffer_region():
    """S2Polyline buffer region: scalar vs vectorized distance agree,
    coverer invariants hold."""
    from s2geometry_spark.demo_regions import demo_polyline
    pl = demo_polyline()
    # scalar twin vs vectorized (1000 sampled points)
    d_vec = pl.distance_np(X[:1000], Y[:1000], Z[:1000])
    for k in range(0, 1000, 97):
        d_s = pl.distance_point((float(X[k]), float(Y[k]), float(Z[k])))
        assert d_s == pytest.approx(float(d_vec[k]), abs=1e-12)
    # coverer invariants — check_covering needs a region mask; Polyline
    # contains via xyz like Cap/Polygon
    for max_cells in (8, 64):
        check_covering(pl, covering(pl, max_cells=max_cells))
    # vertices themselves are inside the buffer
    for la, ln in zip(pl.lats, pl.lngs):
        x = math.cos(la) * math.cos(ln)
        y = math.cos(la) * math.sin(ln)
        z = math.sin(la)
        assert pl.contains_point((x, y, z))


def test_polyline_interpolate_and_project():
    """S2Polyline conveniences: endpoint/midpoint interpolation, and
    project() returning on-chain points whose distance matches
    distance_point (the round-3 list's interpolation item)."""
    from s2geometry_spark.demo_regions import demo_polyline
    pl = demo_polyline()

    def v(k):
        la, ln = pl.lats[k], pl.lngs[k]
        return (math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln),
                math.sin(la))

    from s2geometry_spark.regions import angle
    assert angle(pl.interpolate(0.0), v(0)) < 1e-12
    assert angle(pl.interpolate(1.0), v(len(pl.lats) - 1)) < 1e-12
    assert angle(pl.interpolate(-5.0), v(0)) < 1e-12  # clamped
    assert pl.length() > 0

    # an interpolated point projects onto (essentially) itself
    for t in (0.1, 0.33, 0.5, 0.77, 0.95):
        p = pl.interpolate(t)
        closest, edge_idx, dist = pl.project(p)
        assert dist < 1e-9, t
        assert 0 <= edge_idx < len(pl.lats) - 1
        assert angle(closest, p) < 1e-9
        # unit-norm result
        assert abs(sum(c * c for c in p) - 1.0) < 1e-12

    # off-chain point: projection distance equals distance_point and
    # the closest point lies on the chain (distance 0 from it)
    q = (0.0, 0.0, 1.0)  # north pole
    closest, _k, dist = pl.project(q)
    assert dist == pytest.approx(pl.distance_point(q), abs=1e-12)
    assert pl.distance_point(closest) < 1e-9


def test_polyline_interpolate_revisited_edge():
    """A chain revisiting the same vertex pair (P->Q->P->Q) must
    interpolate on the edge selected by arc-length, not clamp on the
    first value-equal occurrence of the last edge (round-2 review)."""
    import numpy as np

    from s2geometry_spark.regions import Polyline, angle
    P = (math.radians(10.0), math.radians(20.0))
    Q = (math.radians(10.0), math.radians(30.0))
    pl = Polyline(region_id=99,
                  lats=np.array([P[0], Q[0], P[0], Q[0]]),
                  lngs=np.array([P[1], Q[1], P[1], Q[1]]),
                  radius=0.01)
    # t=0.5: total length 3*theta, target 1.5*theta -> midpoint of the
    # SECOND edge (Q->P), i.e. the geodesic midpoint of P,Q
    def xyz(la, ln):
        return (math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln),
                math.sin(la))
    a, b = xyz(*P), xyz(*Q)
    m = tuple((ai + bi) / 2 for ai, bi in zip(a, b))
    n = math.sqrt(sum(c * c for c in m))
    mid = tuple(c / n for c in m)
    assert angle(pl.interpolate(0.5), mid) < 1e-12
    # t=11/12: target 2.75*theta -> three quarters along the THIRD edge
    # (P->Q); the buggy version returned exactly Q (clamped) for every
    # t in (1/3, 1]
    p = pl.interpolate(11.0 / 12.0)
    assert angle(p, b) > 1e-3
    assert angle(p, a) > 1e-3
    # and it projects onto the chain at distance ~0
    _c, _k, dist = pl.project(p)
    assert dist < 1e-9


def test_rect_cap_bound_covers_wide_lng_spans():
    """cap_bound must contain EVERY rect point even when the lng span
    exceeds 180 deg — the farthest boundary point is then mid-edge,
    not a corner (round-2 review: max-corner-distance under-covered;
    spec shape: pole cap vs corner cap, corner cap only for spans
    <= pi)."""
    from s2geometry_spark.regions import Rect, angle

    def check(rect):
        c, r = rect.cap_bound()
        assert r >= 0
        import numpy as np
        for la in np.linspace(rect.lat_lo, rect.lat_hi, 9):
            span = rect.lng_hi - rect.lng_lo
            if span < 0:
                span += 2 * math.pi
            for f in np.linspace(0.0, 1.0, 17):
                ln = math.remainder(rect.lng_lo + f * span, 2 * math.pi)
                p = (math.cos(la) * math.cos(ln),
                     math.cos(la) * math.sin(ln), math.sin(la))
                assert angle(c, p) <= r + 1e-9, (rect.region_id, la, ln)

    # the round-2 counterexample: symmetric lats, 340-deg span — the
    # old corner cap had radius ~119 deg but (0, 170 deg) is 170 deg out
    check(Rect.from_degrees(90, -60.0, 60.0, -170.0, 170.0))
    check(Rect.from_degrees(91, 10.0, 80.0, -170.0, 170.0))  # northern
    check(Rect.from_degrees(92, -80.0, -10.0, -150.0, 140.0))  # southern
    check(Rect.from_degrees(93, 78.0, 90.0, -180.0, 180.0))  # polar cap
    check(Rect.from_degrees(94, -47.0, -12.0, 165.0, -165.0))  # wrap
    check(Rect.from_degrees(95, 24.0, 49.5, -125.5, -66.5))  # narrow


def test_region_union_semantics_and_covering():
    """RegionUnion (added r3): membership == OR of members, overlap
    between members yields one verdict, and the coverer invariants
    (superset/interior/disjoint) hold through the union region."""
    from s2geometry_spark.demo_regions import demo_region_union

    u = demo_region_union()
    got = u.contains_points_np(X, Y, Z, lat=LAT_R, lng=LNG_R)
    exp = np.zeros(N, dtype=bool)
    for m in u.members:
        exp |= region_mask(m)
    assert (got == exp).all()
    assert got.any() and not got.all()
    # cap 2 and rect 4 overlap near lng -165 — the dedup case is real
    both = region_mask(u.members[0]) & region_mask(u.members[1])
    assert both.any()

    for cells in (covering(u, max_cells=64), uniform_covering(u, 4),
                  covering(u, max_cells=32)):
        check_covering(u, cells)


def test_region_union_rejects_empty_and_bounds():
    from s2geometry_spark.demo_regions import demo_region_union
    from s2geometry_spark.regions import RegionUnion, angle

    with pytest.raises(ValueError):
        RegionUnion(11, [])
    u = demo_region_union()
    c, r = u.cap_bound()
    # the union cap must contain every member's cap
    for m in u.members:
        axis, mr = m.cap_bound()
        assert angle(c, axis) + mr <= r + 1e-9
