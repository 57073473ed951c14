"""Region types for covering + containment queries (SURVEY.md §1.1).

Reference semantics: S2Cap.swift / S2LatLngRect.swift / S2Loop.swift /
S2Polygon.swift / S2Region.swift [spec] — contains(point),
mayIntersect(cell), contains(cell).

Engine design note (replaces S2's per-region geometric cell tests —
SURVEY §2.4 rationale): the coverer only needs *conservative* cell
tests. We bound every cell by a cap around its center with radius
``half_diag(level) = kMaxDiag/2 · 2^-level`` (public metric constant for
the quadratic projection) plus epsilon slop. Then

    may_intersect(cell)  ⇐  dist_lb(center, region) ≤ half_diag + ε
    contains(cell)       ⇐  center ∈ region and
                            boundary_dist_lb(center) ≥ half_diag + ε

where dist_lb is a LOWER bound on the true spherical distance from the
cell center to the region, and boundary_dist_lb is a LOWER bound on the
distance to the region's boundary. Both directions keep the covering a
provable superset of the region and the interior covering a provable
subset — the only properties the distributed joins rely on
(correctness never depends on covering tightness).

All code here is driver-side scalar (regions are ≤10^4 rows vs 10^12
pages — SURVEY §2.1 A29 note).
"""

from __future__ import annotations

import math
import sys
from dataclasses import dataclass, field

import numpy as np

from . import kernels as K

# kMaxDiag metric derivative, quadratic projection (S2.swift :: Metric [spec]).
K_MAX_DIAG_DERIV = 2.438654594434021
_EPS = 1e-12


def half_diag(level) -> float:
    """Max angle from a level-`level` cell's center to any of its points.

    Accepts a scalar or numpy int array (vectorized coverer path).
    """
    return 0.5 * K_MAX_DIAG_DERIV * (2.0 ** -np.asarray(level, dtype=np.float64)) + _EPS


def _cell_centers_np(ids: np.ndarray):
    """Vectorized cell centers: (lat_rad, lng_rad, x, y, z, level)."""
    ids = np.asarray(ids, dtype=np.uint64)
    lat_deg, lng_deg = K.cell_id_to_latlng_degrees(ids)
    lat = np.radians(lat_deg)
    lng = np.radians(lng_deg)
    x, y, z = K.latlng_to_xyz(lat, lng)
    return lat, lng, x, y, z, K.level(ids)


def angle(p, q) -> float:
    """Stable spherical angle: atan2(|p×q|, p·q) (S2Point.swift :: angle [spec])."""
    cx = p[1] * q[2] - p[2] * q[1]
    cy = p[2] * q[0] - p[0] * q[2]
    cz = p[0] * q[1] - p[1] * q[0]
    return math.atan2(math.sqrt(cx * cx + cy * cy + cz * cz),
                      p[0] * q[0] + p[1] * q[1] + p[2] * q[2])


def point_to_arc_distance(p, a, b) -> float:
    """Spherical distance from p to geodesic arc a→b.

    S2EdgeUtil.swift :: getDistance [spec]: if p projects inside the
    arc's lune, distance to the great circle; else min vertex distance.
    """
    # normal of the edge's great circle
    nx = a[1] * b[2] - a[2] * b[1]
    ny = a[2] * b[0] - a[0] * b[2]
    nz = a[0] * b[1] - a[1] * b[0]
    nn = math.sqrt(nx * nx + ny * ny + nz * nz)
    if nn == 0.0:
        return min(angle(p, a), angle(p, b))
    # p projects onto the arc iff it is inside the wedge: (n×a)·p ≥ 0 and (b×n)·p ≥ 0
    wa = ((ny * a[2] - nz * a[1]) * p[0] + (nz * a[0] - nx * a[2]) * p[1]
          + (nx * a[1] - ny * a[0]) * p[2])
    wb = ((b[1] * nz - b[2] * ny) * p[0] + (b[2] * nx - b[0] * nz) * p[1]
          + (b[0] * ny - b[1] * nx) * p[2])
    if wa >= 0.0 and wb >= 0.0:
        sin_d = abs(nx * p[0] + ny * p[1] + nz * p[2]) / nn
        return math.asin(min(1.0, sin_d))
    return min(angle(p, a), angle(p, b))


def _vertex_cap(verts, extra_radius: float = 0.0):
    """Shared conservative vertex-hull cap for coverer seeding: the
    normalized vertex centroid + max vertex angle (+ extra_radius for
    buffered regions), with 5% + 0.01 rad slop. Used by Polygon and
    Polyline cap_bound (one copy — keep the slop policy in one place)."""
    vx = sum(p[0] for p in verts)
    vy = sum(p[1] for p in verts)
    vz = sum(p[2] for p in verts)
    n = math.sqrt(vx * vx + vy * vy + vz * vz)
    if n < 1e-12:
        return (1.0, 0.0, 0.0), math.pi  # degenerate: full-sphere cap
    c = (vx / n, vy / n, vz / n)
    r = max(angle(c, p) for p in verts) + extra_radius
    return c, min(math.pi, 1.05 * r + 0.01)


def min_arc_distance_np(edges, x, y, z) -> np.ndarray:
    """Vectorized min spherical distance from each point to a set of
    geodesic arcs (S2EdgeUtil.swift :: getDistance [spec], numpy twin
    of the scalar point_to_arc_distance above)."""
    p = np.stack([x, y, z], axis=1)
    best = np.full(x.shape, np.inf)
    for a, b in edges:
        av = np.array(a)
        bv = np.array(b)
        n = np.cross(av, bv)
        nn = math.sqrt(float((n * n).sum()))
        da = np.arctan2(np.linalg.norm(np.cross(p, av), axis=1), p @ av)
        db = np.arctan2(np.linalg.norm(np.cross(p, bv), axis=1), p @ bv)
        if nn == 0.0:
            d = np.minimum(da, db)
        else:
            wa = p @ np.cross(n, av)
            wb = p @ np.cross(bv, n)
            sin_d = np.abs(p @ n) / nn
            d_circle = np.arcsin(np.clip(sin_d, 0.0, 1.0))
            d = np.where((wa >= 0.0) & (wb >= 0.0), d_circle,
                         np.minimum(da, db))
        best = np.minimum(best, d)
    return best


@dataclass
class Cap:
    """Spherical cap: unit axis + height = 1 − cos(radius). S2Cap.swift [spec].

    height < 0 is the empty cap, height = 2 the full sphere (spec
    encodings); the algebra below (addPoint/addCap/complement/expanded
    — A20) follows S2Cap.swift semantics and is exercised by the
    truth-table tests in tests/test_cell_geometry.py."""
    region_id: int
    cx: float
    cy: float
    cz: float
    height: float

    @classmethod
    def from_latlng_radius(cls, region_id: int, lat_deg: float, lng_deg: float,
                           radius_deg: float) -> "Cap":
        la, ln = math.radians(lat_deg), math.radians(lng_deg)
        cl = math.cos(la)
        return cls(region_id, cl * math.cos(ln), cl * math.sin(ln), math.sin(la),
                   1.0 - math.cos(math.radians(radius_deg)))

    @classmethod
    def from_axis_height(cls, region_id: int, axis, height: float) -> "Cap":
        return cls(region_id, axis[0], axis[1], axis[2], height)

    @classmethod
    def empty(cls, region_id: int = -1) -> "Cap":
        return cls(region_id, 1.0, 0.0, 0.0, -1.0)

    @classmethod
    def full(cls, region_id: int = -1) -> "Cap":
        return cls(region_id, 1.0, 0.0, 0.0, 2.0)

    @property
    def is_empty(self) -> bool:
        return self.height < 0.0

    @property
    def is_full(self) -> bool:
        return self.height >= 2.0

    @property
    def radius(self) -> float:
        """Angular radius; -1 for the empty cap (spec S1Angle(-1))."""
        if self.is_empty:
            return -1.0
        return math.acos(max(-1.0, 1.0 - self.height))

    @property
    def axis(self):
        return (self.cx, self.cy, self.cz)

    # -- A20 construction algebra (S2Cap.swift) ---------------------------

    def add_point(self, p) -> "Cap":
        """Smallest cap with this axis containing self and point p."""
        if self.is_empty:
            return Cap(self.region_id, p[0], p[1], p[2], 0.0)
        dx, dy, dz = p[0] - self.cx, p[1] - self.cy, p[2] - self.cz
        d2 = dx * dx + dy * dy + dz * dz
        return Cap(self.region_id, self.cx, self.cy, self.cz,
                   max(self.height, 0.5 * d2))

    def add_cap(self, other: "Cap") -> "Cap":
        """Smallest cap with this axis containing both caps."""
        if other.is_empty:
            return self
        if self.is_empty:
            return Cap(self.region_id, other.cx, other.cy, other.cz,
                       other.height)
        r = angle(self.axis, other.axis) + other.radius
        return Cap(self.region_id, self.cx, self.cy, self.cz,
                   max(self.height, min(2.0, 1.0 - math.cos(min(math.pi, r)))))

    def complement(self) -> "Cap":
        """Points NOT in the cap: antipodal axis, height 2 − h
        (empty ↔ full)."""
        h = -1.0 if self.is_full else 2.0 - max(self.height, 0.0)
        return Cap(self.region_id, -self.cx, -self.cy, -self.cz, h)

    def expanded(self, distance_rad: float) -> "Cap":
        """Cap with radius grown by distance_rad (empty stays empty)."""
        if self.is_empty:
            return self
        r = min(math.pi, self.radius + distance_rad)
        return Cap(self.region_id, self.cx, self.cy, self.cz,
                   min(2.0, 1.0 - math.cos(r)))

    def contains_cap(self, other: "Cap") -> bool:
        if self.is_full or other.is_empty:
            return True
        if self.is_empty:
            return False
        # 1e-12 slack: radius round-trips through height (acos∘cos),
        # which loses ~1e-15/sin(r); the spec avoids this with exact
        # chord-angle arithmetic. Slack is permissive (containment-ish
        # caps test as containing), the safe direction for a bound.
        return self.radius + 1e-12 >= angle(self.axis, other.axis) \
            + other.radius

    def intersects_cap(self, other: "Cap") -> bool:
        if self.is_empty or other.is_empty:
            return False
        return angle(self.axis, other.axis) <= self.radius + other.radius

    def cap_bound(self):
        """(axis, angle) bound of self — trivially itself (A21)."""
        return self.axis, max(0.0, self.radius)

    def contains_point(self, p) -> bool:
        dx, dy, dz = p[0] - self.cx, p[1] - self.cy, p[2] - self.cz
        return dx * dx + dy * dy + dz * dz <= 2.0 * self.height

    def contains_points_np(self, x, y, z):
        return K.cap_contains_points(self.cx, self.cy, self.cz, self.height, x, y, z)

    def _center_angles(self, ids: np.ndarray):
        _, _, x, y, z, lvl = _cell_centers_np(ids)
        cxv = np.cross(np.stack([x, y, z], 1), np.array([self.cx, self.cy, self.cz]))
        dot = x * self.cx + y * self.cy + z * self.cz
        ang = np.arctan2(np.sqrt((cxv * cxv).sum(1)), dot)
        return ang, lvl

    def may_intersect_cells(self, ids: np.ndarray) -> np.ndarray:
        if self.is_empty:  # radius is -1; without the guard the
            return np.zeros(len(ids), dtype=bool)  # slop could admit cells
        ang, lvl = self._center_angles(ids)
        return ang <= self.radius + half_diag(lvl)

    def contains_cells(self, ids: np.ndarray) -> np.ndarray:
        if self.is_empty:
            return np.zeros(len(ids), dtype=bool)
        ang, lvl = self._center_angles(ids)
        return ang + half_diag(lvl) <= self.radius


# -- S1Interval helpers (S1Interval.swift [spec]): closed lng intervals
# on the circle, lo > hi = wrapping; empty = (pi, -pi); full = (-pi, pi).

_S1_EMPTY = (math.pi, -math.pi)
_S1_FULL = (-math.pi, math.pi)


def s1_is_empty(iv) -> bool:
    return iv == _S1_EMPTY


def s1_is_full(iv) -> bool:
    return iv[1] - iv[0] >= 2 * math.pi - 1e-15


def s1_length(iv) -> float:
    d = iv[1] - iv[0]
    if d >= 0:
        return d
    d += 2 * math.pi
    # spec: length is negative iff the interval is empty
    return d if d > 0 else -1.0


def s1_contains(iv, p: float) -> bool:
    # spec: the point -pi is normalized to pi before the closed-interval
    # test (so [170deg, 180deg] contains the antimeridian from either
    # representation), and the empty interval contains nothing
    if p == -math.pi:
        p = math.pi
    if iv[0] <= iv[1]:
        return iv[0] <= p <= iv[1]
    return (p >= iv[0] or p <= iv[1]) and not s1_is_empty(iv)


def _s1_positive_distance(a: float, b: float) -> float:
    """CCW distance a → b in [0, 2pi) (spec PositiveDistance)."""
    d = b - a
    return d if d >= 0 else (b + math.pi) - (a - math.pi)


def s1_add_point(iv, p: float):
    """Extend toward the nearer endpoint (S1Interval.swift :: addPoint
    [spec])."""
    if s1_is_empty(iv):
        return (p, p)
    if s1_contains(iv, p):
        return iv
    d_lo = _s1_positive_distance(p, iv[0])
    d_hi = _s1_positive_distance(iv[1], p)
    return (p, iv[1]) if d_lo < d_hi else (iv[0], p)


def s1_union(x, y):
    """S1Interval.swift :: union [spec]."""
    if s1_is_empty(y):
        return x
    if s1_is_empty(x):
        return y
    if s1_contains(x, y[0]):
        if s1_contains(x, y[1]):
            # either x ⊇ y, or the two cover the whole circle
            return x if s1_interval_contains(x, y) else _S1_FULL
        return (x[0], y[1])
    if s1_contains(x, y[1]):
        return (y[0], x[1])
    if s1_contains(y, x[0]):
        return y
    d_lo = _s1_positive_distance(y[1], x[0])
    d_hi = _s1_positive_distance(x[1], y[0])
    return (y[0], x[1]) if d_lo < d_hi else (x[0], y[1])


def s1_interval_contains(x, y) -> bool:
    """x ⊇ y (S1Interval.swift :: contains(interval) [spec]).

    Case table mirrors the spec exactly — in particular a NON-inverted
    x contains an inverted (wrapping) y only when x is the full
    interval (round-2 review fix: the first version returned False
    there, so e.g. full().contains(antimeridian interval) was wrong).
    """
    if s1_is_empty(y):
        return True
    if x[0] > x[1]:  # x inverted (wraps through ±pi)
        if y[0] > y[1]:
            return y[0] >= x[0] and y[1] <= x[1]
        return (y[0] >= x[0] or y[1] <= x[1]) and not s1_is_empty(x)
    if y[0] > y[1]:  # y wraps but x does not: only the full x works
        return s1_is_full(x)
    return y[0] >= x[0] and y[1] <= x[1] and not s1_is_empty(x)


def s1_expanded(iv, margin: float):
    # 2*DBL_EPSILON slack on the saturation test (spec: GetLength() +
    # 2*margin + 2*eps >= 2*pi): an almost-full expansion whose float
    # sum rounds just below 2*pi must still saturate to Full, or the
    # remainder() remaps below can produce a degenerate (pi, pi) or a
    # spuriously inverted interval (round-2 review finding).
    eps = sys.float_info.epsilon
    if margin <= 0 or s1_is_empty(iv):
        return iv
    if s1_length(iv) + 2 * margin + 2 * eps >= 2 * math.pi:
        return _S1_FULL
    lo = math.remainder(iv[0] - margin, 2 * math.pi)
    hi = math.remainder(iv[1] + margin, 2 * math.pi)
    # spec constructor normalization, CONDITIONAL as in the reference:
    # an endpoint landing on -pi remaps to pi only when the other
    # endpoint is not already pi — the unconditional remap turned
    # ulp-edge near-full intervals into inverted ones.
    if lo == -math.pi and hi != math.pi:
        lo = math.pi
    if hi == -math.pi and lo != math.pi:
        hi = math.pi
    return (lo, hi)


@dataclass
class Rect:
    """Lat/lng rectangle, radians; lng_lo > lng_hi wraps ±π.

    S2LatLngRect.swift [spec]. The interval algebra methods (addPoint /
    union / expanded — A23) mirror R1Interval + S1Interval semantics;
    empty = (lat 1, -1; lng pi, -pi)."""
    region_id: int
    lat_lo: float
    lat_hi: float
    lng_lo: float
    lng_hi: float

    @classmethod
    def from_degrees(cls, region_id, lat_lo, lat_hi, lng_lo, lng_hi) -> "Rect":
        return cls(region_id, math.radians(lat_lo), math.radians(lat_hi),
                   math.radians(lng_lo), math.radians(lng_hi))

    @classmethod
    def empty(cls, region_id: int = -1) -> "Rect":
        return cls(region_id, 1.0, -1.0, math.pi, -math.pi)

    @classmethod
    def full(cls, region_id: int = -1) -> "Rect":
        return cls(region_id, -math.pi / 2, math.pi / 2, -math.pi, math.pi)

    @property
    def is_empty(self) -> bool:
        return self.lat_lo > self.lat_hi

    @property
    def is_full(self) -> bool:
        return (self.lat_lo == -math.pi / 2 and self.lat_hi == math.pi / 2
                and s1_is_full((self.lng_lo, self.lng_hi)))

    @property
    def _lng(self):
        return (self.lng_lo, self.lng_hi)

    # -- A23 interval algebra (S2LatLngRect.swift) ------------------------

    def add_point(self, lat: float, lng: float) -> "Rect":
        """Smallest rect containing self and (lat, lng) radians."""
        if self.is_empty:
            return Rect(self.region_id, lat, lat, lng, lng)
        lo, hi = s1_add_point(self._lng, lng)
        return Rect(self.region_id, min(self.lat_lo, lat),
                    max(self.lat_hi, lat), lo, hi)

    def union(self, other: "Rect") -> "Rect":
        if self.is_empty:
            return Rect(self.region_id, other.lat_lo, other.lat_hi,
                        other.lng_lo, other.lng_hi)
        if other.is_empty:
            return self
        lo, hi = s1_union(self._lng, other._lng)
        return Rect(self.region_id, min(self.lat_lo, other.lat_lo),
                    max(self.lat_hi, other.lat_hi), lo, hi)

    def expanded(self, margin_lat: float, margin_lng: float) -> "Rect":
        """Rect grown by the margins; lat clamps to ±π/2, lng saturates
        to full when the expanded length reaches 2π."""
        if self.is_empty:
            return self
        lo, hi = s1_expanded(self._lng, margin_lng)
        return Rect(self.region_id,
                    max(-math.pi / 2, self.lat_lo - margin_lat),
                    min(math.pi / 2, self.lat_hi + margin_lat), lo, hi)

    def contains_rect(self, other: "Rect") -> bool:
        if other.is_empty:
            return True
        if self.is_empty:
            return False
        return (self.lat_lo <= other.lat_lo
                and other.lat_hi <= self.lat_hi
                and s1_interval_contains(self._lng, other._lng))

    def intersects_rect(self, other: "Rect") -> bool:
        if self.is_empty or other.is_empty:
            return False
        if self.lat_lo > other.lat_hi or other.lat_lo > self.lat_hi:
            return False
        return (s1_contains(self._lng, other.lng_lo)
                or s1_contains(self._lng, other.lng_hi)
                or s1_contains(other._lng, self.lng_lo))

    def cap_bound(self):
        """Conservative bounding cap for coverer seeding (A21), spec
        S2LatLngRect::GetCapBound [spec] shape: the smaller of a pole
        cap (always valid — covers every longitude at the rect's
        latitudes) and a mid-point corner cap, the latter considered
        ONLY when the lng span is <= pi. For wider spans the farthest
        boundary point is mid-edge, not a corner, so the corner cap
        under-covers (round-2 review finding: the old
        max-corner-distance cap silently broke the coverer's superset
        invariant for wide rects)."""
        if self.is_empty:
            return (1.0, 0.0, 0.0), -1.0
        if self.lat_lo + self.lat_hi < 0:
            pole, pole_angle = (0.0, 0.0, -1.0), math.pi / 2 + self.lat_hi
        else:
            pole, pole_angle = (0.0, 0.0, 1.0), math.pi / 2 - self.lat_lo
        # remainder(span, 2pi) >= 0 <=> normalized span in [0, pi]
        # (works for inverted/wrapping intervals too, span_raw < 0)
        span_raw = self.lng_hi - self.lng_lo
        if math.remainder(span_raw, 2 * math.pi) >= 0 \
                and span_raw < 2 * math.pi:
            mid_lat = 0.5 * (self.lat_lo + self.lat_hi)
            if self.lng_lo <= self.lng_hi:
                mid_lng = 0.5 * (self.lng_lo + self.lng_hi)
            else:
                mid_lng = math.remainder(
                    0.5 * (self.lng_lo + self.lng_hi) + math.pi,
                    2 * math.pi)
            cl = math.cos(mid_lat)
            c = (cl * math.cos(mid_lng), cl * math.sin(mid_lng),
                 math.sin(mid_lat))
            r = 0.0
            for la in (self.lat_lo, self.lat_hi):
                for ln in (self.lng_lo, self.lng_hi):
                    cl2 = math.cos(la)
                    r = max(r, angle(c, (cl2 * math.cos(ln),
                                         cl2 * math.sin(ln),
                                         math.sin(la))))
            if r < pole_angle:
                return c, r
        return pole, pole_angle

    def contains_latlng(self, lat: float, lng: float) -> bool:
        if not (self.lat_lo <= lat <= self.lat_hi):
            return False
        if self.lng_lo <= self.lng_hi:
            return self.lng_lo <= lng <= self.lng_hi
        return lng >= self.lng_lo or lng <= self.lng_hi

    def contains_points_np(self, lat_rad, lng_rad):
        return K.rect_contains_latlng(self.lat_lo, self.lat_hi,
                                      self.lng_lo, self.lng_hi, lat_rad, lng_rad)

    # -- conservative distance bounds (see module docstring) ---------------

    def _lng_delta(self, lng: float) -> float:
        """Angular distance from lng to the rect's lng interval (radians)."""
        if self.lng_lo <= self.lng_hi:
            inside = self.lng_lo <= lng <= self.lng_hi
            if inside:
                return 0.0
            d1 = abs(lng - self.lng_lo)
            d2 = abs(lng - self.lng_hi)
            return min(min(d1, 2 * math.pi - d1), min(d2, 2 * math.pi - d2))
        if lng >= self.lng_lo or lng <= self.lng_hi:
            return 0.0
        d1 = abs(lng - self.lng_lo)
        d2 = abs(lng - self.lng_hi)
        return min(min(d1, 2 * math.pi - d1), min(d2, 2 * math.pi - d2))

    def _lng_delta_np(self, lng: np.ndarray) -> np.ndarray:
        if self.lng_lo <= self.lng_hi:
            inside = (lng >= self.lng_lo) & (lng <= self.lng_hi)
        else:
            inside = (lng >= self.lng_lo) | (lng <= self.lng_hi)
        d1 = np.abs(lng - self.lng_lo)
        d1 = np.minimum(d1, 2 * math.pi - d1)
        d2 = np.abs(lng - self.lng_hi)
        d2 = np.minimum(d2, 2 * math.pi - d2)
        return np.where(inside, 0.0, np.minimum(d1, d2))

    def may_intersect_cells(self, ids: np.ndarray) -> np.ndarray:
        """Conservative: rect expanded by r in lat, r/cos(max|lat|) in lng."""
        lat, lng, _x, _y, _z, lvl = _cell_centers_np(ids)
        r = half_diag(lvl)
        lat_ok = (lat >= self.lat_lo - r) & (lat <= self.lat_hi + r)
        max_abs_lat = np.minimum(math.pi / 2,
                                 max(abs(self.lat_lo), abs(self.lat_hi)) + r)
        cos_m = np.cos(max_abs_lat)
        near_pole = cos_m <= 1e-9
        lng_ok = near_pole | (self._lng_delta_np(lng)
                              <= r / np.maximum(cos_m, 1e-12) + _EPS)
        return lat_ok & lng_ok

    def contains_cells(self, ids: np.ndarray) -> np.ndarray:
        lat, lng, _x, _y, _z, lvl = _cell_centers_np(ids)
        r = half_diag(lvl)
        lat_ok = (lat >= self.lat_lo + r) & (lat <= self.lat_hi - r)
        max_abs_lat = np.maximum(np.abs(lat - r), np.abs(lat + r))
        cos_m = np.cos(np.minimum(math.pi / 2, max_abs_lat))
        inside_lng = self._lng_delta_np(lng) == 0.0
        if self.lng_lo <= self.lng_hi:
            d_edge = np.minimum(np.abs(lng - self.lng_lo),
                                np.abs(lng - self.lng_hi))
            if self.lng_hi - self.lng_lo >= 2 * math.pi - 1e-9:
                d_edge = np.full_like(lng, np.inf)  # full-lng band
        else:
            d_edge = np.minimum((lng - self.lng_lo) % (2 * math.pi),
                                (self.lng_hi - lng) % (2 * math.pi))
        return (lat_ok & inside_lng & (cos_m > 1e-9)
                & (d_edge >= r / np.maximum(cos_m, 1e-12) + _EPS))


@dataclass
class Polygon:
    """Loops with depth (odd = hole); vertices in radians, shells CCW.

    S2Polygon.swift [spec]. ``loops``: list of (depth, lats[], lngs[]).
    """
    region_id: int
    loops: list = field(default_factory=list)

    @classmethod
    def from_degrees(cls, region_id: int, loops_deg) -> "Polygon":
        loops = []
        for depth, verts in loops_deg:
            lats = np.array([math.radians(v[0]) for v in verts])
            lngs = np.array([math.radians(v[1]) for v in verts])
            loops.append((depth, lats, lngs))
        return cls(region_id, loops)

    def contains_point(self, p) -> bool:
        from .exact import loop_contains_exact
        inside = False
        for _depth, lats, lngs in self.loops:
            if loop_contains_exact(lats, lngs, p[0], p[1], p[2]):
                inside = not inside
        return inside

    def contains_points_np(self, x, y, z):
        from .exact import loop_contains_with_fallback
        inside = np.zeros(x.shape, dtype=bool)
        for _depth, lats, lngs in self.loops:
            inside ^= loop_contains_with_fallback(lats, lngs, x, y, z)
        return inside

    def _edges(self):
        for _depth, lats, lngs in self.loops:
            n = len(lats)
            verts = [(math.cos(lats[k]) * math.cos(lngs[k]),
                      math.cos(lats[k]) * math.sin(lngs[k]),
                      math.sin(lats[k])) for k in range(n)]
            for k in range(n):
                yield verts[k], verts[(k + 1) % n]

    def boundary_distance(self, p) -> float:
        return min(point_to_arc_distance(p, a, b) for a, b in self._edges())

    def _boundary_distance_np(self, x, y, z) -> np.ndarray:
        """Vectorized point-to-boundary distance (min over all edges)."""
        return min_arc_distance_np(self._edges(), x, y, z)

    def cap_bound(self):
        """Conservative bounding cap (A21): normalized vertex centroid
        + max vertex angle with slop. Used only to seed the best-first
        coverer's initial candidates; the covering invariants tests
        validate the resulting superset property."""
        verts = []
        for _depth, lats, lngs in self.loops:
            for la, ln in zip(lats, lngs):
                cl = math.cos(la)
                verts.append((cl * math.cos(ln), cl * math.sin(ln),
                              math.sin(la)))
        return _vertex_cap(verts)

    def may_intersect_cells(self, ids: np.ndarray) -> np.ndarray:
        _lat, _lng, x, y, z, lvl = _cell_centers_np(ids)
        r = half_diag(lvl)
        inside = self.contains_points_np(x, y, z)
        return inside | (self._boundary_distance_np(x, y, z) <= r + _EPS)

    def contains_cells(self, ids: np.ndarray) -> np.ndarray:
        _lat, _lng, x, y, z, lvl = _cell_centers_np(ids)
        r = half_diag(lvl)
        inside = self.contains_points_np(x, y, z)
        return inside & (self._boundary_distance_np(x, y, z) >= r + _EPS)


@dataclass
class Polyline:
    """Open geodesic vertex chain + buffer radius: the region "all
    points within `radius` of the polyline" (S2Polyline.swift [spec];
    round-1 non-goal, added because the buffer query — pages within r
    of a road/coastline — is the natural engine use of a polyline).

    Vertices in radians; radius in radians. Containment is a pure
    distance test (min over the chain's arcs), so the same conservative
    cap-bound cell tests as the other regions apply:
      may_intersect(cell) ⇐ dist(center) ≤ radius + half_diag
      contains(cell)      ⇐ dist(center) + half_diag ≤ radius
    """
    region_id: int
    lats: np.ndarray
    lngs: np.ndarray
    radius: float

    def __post_init__(self):
        # < 2 vertices has no edges: the scalar min() would crash while
        # the vectorized path silently matched nothing — refuse at
        # construction instead of diverging per code path
        if len(self.lats) < 2 or len(self.lats) != len(self.lngs):
            raise ValueError("Polyline needs >= 2 vertices (equal-length "
                             f"lat/lng arrays); got {len(self.lats)}/"
                             f"{len(self.lngs)}")

    @classmethod
    def from_degrees(cls, region_id: int, verts_deg,
                     radius_deg: float) -> "Polyline":
        lats = np.array([math.radians(v[0]) for v in verts_deg])
        lngs = np.array([math.radians(v[1]) for v in verts_deg])
        return cls(region_id, lats, lngs, math.radians(radius_deg))

    def _edges(self):
        verts = [(math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln),
                  math.sin(la)) for la, ln in zip(self.lats, self.lngs)]
        for k in range(len(verts) - 1):  # open chain: no closing edge
            yield verts[k], verts[k + 1]

    def distance_np(self, x, y, z) -> np.ndarray:
        return min_arc_distance_np(self._edges(), x, y, z)

    def distance_point(self, p) -> float:
        return min(point_to_arc_distance(p, a, b) for a, b in self._edges())

    def contains_point(self, p) -> bool:
        return self.distance_point(p) <= self.radius

    def contains_points_np(self, x, y, z):
        return self.distance_np(x, y, z) <= self.radius

    def cap_bound(self):
        verts = [(math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln),
                  math.sin(la)) for la, ln in zip(self.lats, self.lngs)]
        return _vertex_cap(verts, extra_radius=self.radius)

    def may_intersect_cells(self, ids: np.ndarray) -> np.ndarray:
        _lat, _lng, x, y, z, lvl = _cell_centers_np(ids)
        return self.distance_np(x, y, z) <= self.radius + half_diag(lvl)

    def contains_cells(self, ids: np.ndarray) -> np.ndarray:
        _lat, _lng, x, y, z, lvl = _cell_centers_np(ids)
        return self.distance_np(x, y, z) + half_diag(lvl) <= self.radius

    # -- S2Polyline conveniences (interpolate / project [spec]) ----------

    def length(self) -> float:
        """Total arc length in radians (S2Polyline.swift :: arclengthAngle
        [spec])."""
        return sum(angle(a, b) for a, b in self._edges())

    def interpolate(self, t: float):
        """Unit point at fraction t in [0, 1] of the arc length
        (S2Polyline.swift :: interpolate [spec]); clamped outside."""
        verts = [(math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln),
                  math.sin(la)) for la, ln in zip(self.lats, self.lngs)]
        target = min(1.0, max(0.0, t)) * self.length()
        walked = 0.0
        # last-edge detection by INDEX, not vertex-value equality: a
        # chain revisiting the same vertex pair (P->Q->P->Q) would
        # otherwise clamp on the first value-equal edge and return a
        # point on the wrong edge for mid-range t (round-2 review).
        for k, (a, b) in enumerate(zip(verts, verts[1:])):
            theta = angle(a, b)
            if walked + theta >= target or k == len(verts) - 2:
                if theta == 0.0:
                    return a
                f = min(1.0, max(0.0, (target - walked) / theta))
                # slerp: exact spherical interpolation along the edge
                sa = math.sin((1.0 - f) * theta) / math.sin(theta)
                sb = math.sin(f * theta) / math.sin(theta)
                return (sa * a[0] + sb * b[0], sa * a[1] + sb * b[1],
                        sa * a[2] + sb * b[2])
            walked += theta
        return verts[-1]

    def subsample_vertices(self, tolerance: float) -> list[int]:
        """Indices of a vertex subsequence whose polyline stays within
        `tolerance` radians of the original chain (S2Polyline.swift ::
        subsampleVertices [spec]). Greedy like the spec: from each kept
        vertex, extend the replacement edge one vertex at a time and
        stop at the first extension under which some skipped vertex
        exceeds the tolerance. First and last vertices always kept; not
        guaranteed minimal (the spec's algorithm isn't either). O(n²)
        worst case — driver-side region prep, like the coverer."""
        if tolerance < 0:
            raise ValueError("tolerance must be >= 0")
        verts = [(math.cos(la) * math.cos(ln),
                  math.cos(la) * math.sin(ln), math.sin(la))
                 for la, ln in zip(self.lats, self.lngs)]
        n = len(verts)
        keep = [0]
        cur = 0
        while cur < n - 1:
            nxt = cur + 1
            for cand in range(cur + 2, n):
                if all(point_to_arc_distance(verts[k], verts[cur],
                                             verts[cand]) <= tolerance
                       for k in range(cur + 1, cand)):
                    nxt = cand
                else:
                    break
            keep.append(nxt)
            cur = nxt
        return keep

    def subsampled(self, tolerance: float) -> "Polyline":
        """A new Polyline over the subsample_vertices subsequence (same
        region_id and buffer radius)."""
        idx = self.subsample_vertices(tolerance)
        return Polyline(self.region_id, self.lats[idx], self.lngs[idx],
                        self.radius)

    def project(self, p):
        """(closest_point, edge_index, distance_rad): nearest point on
        the chain to p (S2Polyline.swift :: project [spec])."""
        best = None
        for k, (a, b) in enumerate(self._edges()):
            # closest point on this arc: great-circle foot if it falls
            # inside the wedge (same test as point_to_arc_distance),
            # else the nearer endpoint
            n = (a[1] * b[2] - a[2] * b[1], a[2] * b[0] - a[0] * b[2],
                 a[0] * b[1] - a[1] * b[0])
            nn = math.sqrt(n[0] ** 2 + n[1] ** 2 + n[2] ** 2)
            cand = []
            if nn > 0.0:
                # foot of p on the great circle: p - (p.n̂)n̂, normalized
                nh = (n[0] / nn, n[1] / nn, n[2] / nn)
                d = p[0] * nh[0] + p[1] * nh[1] + p[2] * nh[2]
                f = (p[0] - d * nh[0], p[1] - d * nh[1], p[2] - d * nh[2])
                fn = math.sqrt(f[0] ** 2 + f[1] ** 2 + f[2] ** 2)
                if fn > 0.0:
                    foot = (f[0] / fn, f[1] / fn, f[2] / fn)
                    wa = foot[0] * (n[1] * a[2] - n[2] * a[1]) \
                        + foot[1] * (n[2] * a[0] - n[0] * a[2]) \
                        + foot[2] * (n[0] * a[1] - n[1] * a[0])
                    wb = foot[0] * (b[1] * n[2] - b[2] * n[1]) \
                        + foot[1] * (b[2] * n[0] - b[0] * n[2]) \
                        + foot[2] * (b[0] * n[1] - b[1] * n[0])
                    if wa >= 0.0 and wb >= 0.0:
                        cand.append(foot)
            cand.extend([a, b])
            for c in cand:
                d = angle(p, c)
                if best is None or d < best[2]:
                    best = (c, k, d)
        return best


def convex_hull_points(pts):
    """Spherical convex hull of unit points lying strictly inside an
    open hemisphere around their centroid (S2ConvexHullQuery [spec],
    hemisphere-restricted — the wider case has no loop representation
    here; split the input or use a full-sphere region instead).

    Method: gnomonic projection about the normalized centroid maps
    geodesics to STRAIGHT LINES, so the spherical hull equals the
    planar monotone-chain hull of the projected points — exact, not an
    approximation. Returns hull vertices (a subset of the inputs) in
    CCW order viewed from outside the sphere, so the corresponding
    loop contains the centroid. Duplicates and collinear interior
    points are dropped.
    """
    pts = [tuple(float(c) for c in p) for p in pts]
    if not pts:
        raise ValueError("convex_hull_points needs >= 1 point")
    ax = [sum(p[i] for p in pts) for i in range(3)]
    n = math.sqrt(sum(c * c for c in ax))
    if n < 1e-12:
        raise ValueError("degenerate centroid — points span the sphere")
    ax = (ax[0] / n, ax[1] / n, ax[2] / n)
    base = (0.0, 0.0, 1.0) if abs(ax[2]) < 0.9 else (1.0, 0.0, 0.0)
    e1 = (ax[1] * base[2] - ax[2] * base[1],
          ax[2] * base[0] - ax[0] * base[2],
          ax[0] * base[1] - ax[1] * base[0])
    n1 = math.sqrt(sum(c * c for c in e1))
    e1 = (e1[0] / n1, e1[1] / n1, e1[2] / n1)
    e2 = (ax[1] * e1[2] - ax[2] * e1[1],
          ax[2] * e1[0] - ax[0] * e1[2],
          ax[0] * e1[1] - ax[1] * e1[0])  # (e1, e2, ax) right-handed
    proj = []
    for p in pts:
        d = p[0] * ax[0] + p[1] * ax[1] + p[2] * ax[2]
        if d <= 1e-12:
            raise ValueError("points do not fit in an open hemisphere "
                             "around their centroid")
        proj.append(((p[0] * e1[0] + p[1] * e1[1] + p[2] * e1[2]) / d,
                     (p[0] * e2[0] + p[1] * e2[1] + p[2] * e2[2]) / d))
    order = sorted(range(len(pts)), key=lambda i: (proj[i], pts[i]))
    # drop exact duplicate projections (same point)
    uniq = [order[0]]
    for i in order[1:]:
        if proj[i] != proj[uniq[-1]]:
            uniq.append(i)

    def cross2(o, a, b):
        return ((proj[a][0] - proj[o][0]) * (proj[b][1] - proj[o][1])
                - (proj[a][1] - proj[o][1]) * (proj[b][0] - proj[o][0]))

    if len(uniq) <= 2:
        return [pts[i] for i in uniq]
    lower: list = []
    for i in uniq:
        while len(lower) >= 2 and cross2(lower[-2], lower[-1], i) <= 0:
            lower.pop()
        lower.append(i)
    upper: list = []
    for i in reversed(uniq):
        while len(upper) >= 2 and cross2(upper[-2], upper[-1], i) <= 0:
            upper.pop()
        upper.append(i)
    hull = lower[:-1] + upper[:-1]  # CCW in the (e1, e2) plane
    return [pts[i] for i in hull]


def convex_hull_polygon(region_id: int, lats_deg, lngs_deg) -> "Polygon":
    """Convex hull of (lat, lng) degree points as a single-shell CCW
    Polygon region (drops straight into pip_join / the coverer)."""
    pts = []
    for la, ln in zip(lats_deg, lngs_deg):
        lar, lnr = math.radians(float(la)), math.radians(float(ln))
        cl = math.cos(lar)
        pts.append((cl * math.cos(lnr), cl * math.sin(lnr),
                    math.sin(lar)))
    hull = convex_hull_points(pts)
    if len(hull) < 3:
        raise ValueError("hull has fewer than 3 vertices — not a loop")
    lats = np.array([math.asin(max(-1.0, min(1.0, p[2]))) for p in hull])
    lngs = np.array([math.atan2(p[1], p[0]) for p in hull])
    return Polygon(region_id, [(0, lats, lngs)])


@dataclass
class RegionUnion:
    """Union of member regions: contains a point iff ANY member does
    (S2RegionUnion [spec]; the round-2 verdict's last spec-family gap,
    closed in round 3).

    Cell predicates are conservative in the directions the coverer
    needs (coverer.py invariants):
      * may_intersect = OR over members — EXACT for a union;
      * contains = OR over single-member contains — conservative: a
        cell covered jointly by several members without any one member
        containing it tests False, which only disables the interior
        short-circuit, never correctness.
    cap_bound grows the first member's cap over the rest via the A20
    Cap.add_cap algebra.
    """
    region_id: int
    members: list

    def __post_init__(self):
        if not self.members:
            raise ValueError("RegionUnion needs >= 1 member")

    def contains_points_np(self, x, y, z, lat=None, lng=None):
        """Vectorized union membership over unit vectors. Rect members
        test in lat/lng; pass the ORIGINAL radians through `lat`/`lng`
        when available (pip_join does) — recomputing them from xyz
        round-trips the trig and can flip a boundary ulp vs the
        members' own gates."""
        out = np.zeros(len(x), dtype=bool)
        for m in self.members:
            rem = ~out
            if not rem.any():
                break
            if isinstance(m, Rect):
                if lat is None:
                    lat, lng = K.xyz_to_latlng(x, y, z)
                out[rem] |= m.contains_points_np(lat[rem], lng[rem])
            else:
                out[rem] |= m.contains_points_np(x[rem], y[rem], z[rem])
        return out

    def may_intersect_cells(self, ids: np.ndarray) -> np.ndarray:
        out = np.zeros(len(ids), dtype=bool)
        for m in self.members:
            out |= m.may_intersect_cells(ids)
        return out

    def contains_cells(self, ids: np.ndarray) -> np.ndarray:
        out = np.zeros(len(ids), dtype=bool)
        for m in self.members:
            out |= m.contains_cells(ids)
        return out

    def cap_bound(self):
        cap = Cap.empty(self.region_id)
        for m in self.members:
            axis, r = m.cap_bound()
            if r < 0:
                continue
            mc = Cap(self.region_id, axis[0], axis[1], axis[2],
                     1.0 - math.cos(min(math.pi, r)))
            cap = mc if cap.is_empty else cap.add_cap(mc)
        if cap.is_empty:
            return (1.0, 0.0, 0.0), -1.0
        return cap.axis, cap.radius


# ---------------------------------------------------------------------------
# A28 — loop area / centroid (Girard sums)
# ---------------------------------------------------------------------------

def loop_area(lats: np.ndarray, lngs: np.ndarray) -> float:
    """Signed spherical area of a closed vertex chain (positive for
    CCW loops, range (0, 4pi)). Girard sum of signed triangles fanned
    from the first vertex (S2Loop.swift :: area / S2AreaCentroid
    [spec]). Vertices in radians."""
    from . import kernels as K
    x, y, z = K.latlng_to_xyz(np.asarray(lats), np.asarray(lngs))
    total = 0.0
    for i in range(1, len(x) - 1):
        triple = (x[0] * (y[i] * z[i + 1] - z[i] * y[i + 1])
                  + y[0] * (z[i] * x[i + 1] - x[i] * z[i + 1])
                  + z[0] * (x[i] * y[i + 1] - y[i] * x[i + 1]))
        s = 1.0 + (x[0] * x[i] + y[0] * y[i] + z[0] * z[i]) \
            + (x[i] * x[i + 1] + y[i] * y[i + 1] + z[i] * z[i + 1]) \
            + (x[i + 1] * x[0] + y[i + 1] * y[0] + z[i + 1] * z[0])
        total += math.copysign(2.0 * math.atan2(abs(triple), s), triple)
    return total if total >= 0 else total + 4.0 * math.pi


def loop_centroid(lats: np.ndarray, lngs: np.ndarray):
    """Area-weighted centroid direction of a CCW loop (unnormalized
    3-vector; normalize for a point). Triangle-fan approximation of
    S2AreaCentroid [spec] — adequate for tile statistics."""
    from . import kernels as K
    x, y, z = K.latlng_to_xyz(np.asarray(lats), np.asarray(lngs))
    cx = cy = cz = 0.0
    for i in range(1, len(x) - 1):
        triple = (x[0] * (y[i] * z[i + 1] - z[i] * y[i + 1])
                  + y[0] * (z[i] * x[i + 1] - x[i] * z[i + 1])
                  + z[0] * (x[i] * y[i + 1] - y[i] * x[i + 1]))
        s = 1.0 + (x[0] * x[i] + y[0] * y[i] + z[0] * z[i]) \
            + (x[i] * x[i + 1] + y[i] * y[i + 1] + z[i] * z[i + 1]) \
            + (x[i + 1] * x[0] + y[i + 1] * y[0] + z[i + 1] * z[0])
        a = math.copysign(2.0 * math.atan2(abs(triple), s), triple)
        cx += a * (x[0] + x[i] + x[i + 1]) / 3.0
        cy += a * (y[0] + y[i] + y[i + 1]) / 3.0
        cz += a * (z[0] + z[i] + z[i + 1]) / 3.0
    return cx, cy, cz
