"""Vectorized S2 geometry kernels (Layer A of SURVEY.md §2.1).

Pure numpy — no Spark imports — so every function here is directly
testable against the independent scalar oracle in ``tests/oracle_s2.py``
and usable inside Arrow-batched pandas UDFs (see
``s2geometry_spark/functions/geo.py``).

Semantics follow the public S2 specification (s2geometry.io and the
Apache-2.0 C++/Java ports). The reference repo (alex-alex/S2Geometry,
a Swift port of the same spec) was empty at survey time — see
SURVEY.md §0 — so anchors are to the public spec layout, e.g.
``Sources/S2Geometry/S2CellId.swift :: fromFaceIJ`` [spec].

Design rules (SURVEY.md §1.1, §2.2):
- All cell ids are ``np.uint64`` inside kernels; they are reinterpreted
  as signed int64 (same bit pattern) at the Arrow/Spark boundary.
- Range comparisons on ids in SQL must use the signed-flip view
  (``id - 2**63`` reinterpret) — see :func:`uint64_to_signed` /
  :func:`signed_order_key`.
- st→ij rounding is pinned to ``floor(s * 2**30)`` clamped to
  [0, 2**30-1] in BOTH this kernel and the scalar oracle (SURVEY.md
  §2.1 A7 ⚠: C++/Java differ only on exact half-ulp ties).
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Constants — public S2 spec (S2CellId.swift :: constants [spec])
# ---------------------------------------------------------------------------

LOOKUP_BITS = 4
SWAP_MASK = 1
INVERT_MASK = 2
MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1  # 61
MAX_SIZE = 1 << MAX_LEVEL  # 2**30, number of leaf ij coordinates per face

# Hilbert sub-cell traversal tables (S2CellId.swift :: POS_TO_IJ,
# POS_TO_ORIENTATION, IJ_TO_POS [spec]).
POS_TO_ORIENTATION = (SWAP_MASK, 0, 0, INVERT_MASK | SWAP_MASK)
POS_TO_IJ = (
    (0, 1, 3, 2),
    (0, 2, 3, 1),
    (3, 2, 0, 1),
    (3, 1, 0, 2),
)
IJ_TO_POS = (
    (0, 1, 3, 2),
    (0, 3, 1, 2),
    (2, 3, 1, 0),
    (2, 1, 3, 0),
)

_U = np.uint64  # shorthand; numpy requires explicit uint64 shift operands


def _init_lookup_tables() -> tuple[np.ndarray, np.ndarray]:
    """Build the 1024-entry 4-bit Hilbert lookup tables.

    Mirrors ``S2CellId.swift :: initLookupCell`` [spec]: a 10-bit key
    ``iiiijjjjoo`` maps to ``ppppppppoo`` (LOOKUP_POS) and back
    (LOOKUP_IJ).
    """
    lookup_pos = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)
    lookup_ij = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)

    def rec(level: int, i: int, j: int, orig_orient: int, pos: int, orient: int) -> None:
        if level == LOOKUP_BITS:
            ij = (i << LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig_orient] = (pos << 2) + orient
            lookup_ij[(pos << 2) + orig_orient] = (ij << 2) + orient
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = POS_TO_IJ[orient]
        for idx in range(4):
            rec(level, i + (r[idx] >> 1), j + (r[idx] & 1), orig_orient,
                pos + idx, orient ^ POS_TO_ORIENTATION[idx])

    for o in range(4):
        rec(0, 0, 0, o, 0, o)
    return lookup_pos, lookup_ij


LOOKUP_POS, LOOKUP_IJ = _init_lookup_tables()


# ---------------------------------------------------------------------------
# A1/A2 — lat/lng (radians) ↔ unit vector
# ---------------------------------------------------------------------------

def latlng_to_xyz(lat_rad: np.ndarray, lng_rad: np.ndarray):
    """S2LatLng.swift :: toPoint [spec]. Inputs radians, float64."""
    cos_lat = np.cos(lat_rad)
    return cos_lat * np.cos(lng_rad), cos_lat * np.sin(lng_rad), np.sin(lat_rad)


def xyz_to_latlng(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """S2LatLng.swift :: init(point:) [spec]. Returns radians."""
    lat = np.arctan2(z, np.sqrt(x * x + y * y))
    lng = np.arctan2(y, x)
    return lat, lng


# ---------------------------------------------------------------------------
# A3/A4/A5 — xyz ↔ (face, u, v)
# ---------------------------------------------------------------------------

def xyz_to_face(x: np.ndarray, y: np.ndarray, z: np.ndarray) -> np.ndarray:
    """S2Projections.swift :: xyzToFace [spec].

    Largest-|component| axis; ties prefer the higher axis index
    (z beats y beats x), exactly like the spec's nested comparisons.
    """
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    major = np.where(axis == 0, x, np.where(axis == 1, y, z))
    return np.where(major < 0.0, axis + 3, axis).astype(np.int64)


def face_xyz_to_uv(face: np.ndarray, x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """S2Projections.swift :: validFaceXyzToUv [spec]. face must be valid.

    Gathers each row's numerators and denominator by face and divides
    once: the same IEEE operation per output as evaluating all six
    faces, without the other faces' overflowing divisions."""
    nx, ny = -x, -y
    den = np.choose(face, (x, y, z, x, y, z))
    u_num = np.choose(face, (y, nx, nx, z, z, ny))
    v_num = np.choose(face, (z, z, ny, y, nx, nx))
    with np.errstate(divide="ignore", invalid="ignore"):
        return u_num / den, v_num / den


def face_uv_to_xyz(face: np.ndarray, u: np.ndarray, v: np.ndarray):
    """S2Projections.swift :: faceUvToXyz [spec]. Unnormalized."""
    one = np.ones_like(u)
    x = np.select([face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
                  [one, -u, -u, -one, v, v])
    y = np.select([face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
                  [u, one, -v, -v, -one, u])
    z = np.select([face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
                  [v, v, one, -u, -u, -one])
    return x, y, z


# ---------------------------------------------------------------------------
# A6/A7 — quadratic uv ↔ st, st → ij
# ---------------------------------------------------------------------------

def uv_to_st(u: np.ndarray) -> np.ndarray:
    """Quadratic projection (S2Projections.swift :: uvToST [spec])."""
    with np.errstate(invalid="ignore"):
        # np.where evaluates both branches; the inactive one may take
        # sqrt of a negative — harmless, result discarded.
        return np.where(u >= 0.0, 0.5 * np.sqrt(1.0 + 3.0 * u),
                        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def st_to_uv(s: np.ndarray) -> np.ndarray:
    """Inverse quadratic projection (S2Projections.swift :: stToUV [spec])."""
    return np.where(s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0),
                    (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)))


def st_to_ij(s: np.ndarray) -> np.ndarray:
    """Pinned rounding: clamp(floor(s * 2**30), 0, 2**30-1) (SURVEY A7 ⚠)."""
    return np.clip(np.floor(s * MAX_SIZE), 0, MAX_SIZE - 1).astype(np.int64)


# ---------------------------------------------------------------------------
# A8/A9 — Hilbert encode/decode (the core kernel)
# ---------------------------------------------------------------------------

def from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf cell id from (face, i, j). S2CellId.swift :: fromFaceIJ [spec].

    8 iterations of 4-bit lookup-table gathers over uint64 arrays —
    no per-row Python (north_star requirement).
    """
    face_u = face.astype(np.uint64)
    i_u = i.astype(np.uint64)
    j_u = j.astype(np.uint64)
    n = face_u << _U(POS_BITS - 1)
    bits = face_u & _U(SWAP_MASK)
    mask = _U((1 << LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        bits = bits + (((i_u >> _U(k * LOOKUP_BITS)) & mask) << _U(LOOKUP_BITS + 2))
        bits = bits + (((j_u >> _U(k * LOOKUP_BITS)) & mask) << _U(2))
        bits = LOOKUP_POS[bits]
        n = n | ((bits >> _U(2)) << _U(k * 2 * LOOKUP_BITS))
        bits = bits & _U(SWAP_MASK | INVERT_MASK)
    return n * _U(2) + _U(1)


def to_face_ij_orientation(cell_id: np.ndarray):
    """Decode (face, i, j, orientation) — A9 complete.

    S2CellId.swift :: toFaceIJOrientation [spec]. Returns
    (face int64, i int64, j int64, orientation int64) where orientation
    is the Hilbert-curve swap/invert state of the CELL: the leaf-walk
    state, corrected by one extra swap for cells at odd-position lsbs
    (the spec's `lsb & 0x1111111111111110` adjustment — a non-leaf
    cell's orientation is defined at its own level, not the leaf's).
    """
    id_u = cell_id.astype(np.uint64)
    face = id_u >> _U(POS_BITS)
    bits = face & _U(SWAP_MASK)
    i = np.zeros_like(id_u)
    j = np.zeros_like(id_u)
    for k in range(7, -1, -1):
        nbits = MAX_LEVEL - 7 * LOOKUP_BITS if k == 7 else LOOKUP_BITS
        bits = bits + (((id_u >> _U(k * 2 * LOOKUP_BITS + 1))
                        & _U((1 << (2 * nbits)) - 1)) << _U(2))
        bits = LOOKUP_IJ[bits]
        i = i | ((bits >> _U(LOOKUP_BITS + 2)) << _U(k * LOOKUP_BITS))
        j = j | (((bits >> _U(2)) & _U((1 << LOOKUP_BITS) - 1)) << _U(k * LOOKUP_BITS))
        bits = bits & _U(SWAP_MASK | INVERT_MASK)
    adjust = (lsb(id_u) & _U(0x1111111111111110)) != 0
    orientation = np.where(adjust, bits ^ _U(SWAP_MASK), bits)
    return (face.astype(np.int64), i.astype(np.int64), j.astype(np.int64),
            orientation.astype(np.int64))


def to_face_ij(cell_id: np.ndarray):
    """Decode (face, i, j) of the leaf-grid coordinates (A9 fast path —
    orientation not computed)."""
    face, i, j, _o = to_face_ij_orientation(cell_id)
    return face, i, j


# ---------------------------------------------------------------------------
# Fused geocode chain: lat/lng (degrees) → leaf cell id
# ---------------------------------------------------------------------------

def has_point(lat_deg: np.ndarray, lng_deg: np.ndarray) -> np.ndarray:
    """Mask of the rows whose degrees name a point: lat in [-90, 90]
    and a finite lng (which wraps). Null, NaN, ±inf and |lat| > 90 have
    none; the kernels would otherwise mirror lat 95 onto (85, lng+180)
    and give NaN one real cell. Every page operator (geocode, distance
    join, kNN) applies this one rule."""
    return (np.abs(lat_deg) <= 90.0) & np.isfinite(lng_deg)


def latlng_degrees_to_cell_id(lat_deg: np.ndarray, lng_deg: np.ndarray) -> np.ndarray:
    """E1 lifecycle fused (SURVEY §3.1): degrees → uint64 leaf cell id."""
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    x, y, z = latlng_to_xyz(lat, lng)
    face = xyz_to_face(x, y, z)
    u, v = face_xyz_to_uv(face, x, y, z)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    return from_face_ij(face, i, j)


def cell_id_to_latlng_degrees(cell_id: np.ndarray):
    """Center of the cell, degrees. Decode → ij center → uv → xyz → latlng."""
    id_u = np.asarray(cell_id).astype(np.uint64)
    face, i, j = to_face_ij(id_u)
    lvl = level(id_u)
    # The decoded (i, j) is a leaf coordinate inside the cell; snap to
    # the cell's ij square and take its center.
    size = np.int64(1) << (MAX_LEVEL - lvl).astype(np.int64)
    i0 = (i // size) * size
    j0 = (j // size) * size
    s = (i0.astype(np.float64) + size.astype(np.float64) * 0.5) / MAX_SIZE
    t = (j0.astype(np.float64) + size.astype(np.float64) * 0.5) / MAX_SIZE
    u = st_to_uv(s)
    v = st_to_uv(t)
    x, y, z = face_uv_to_xyz(face, u, v)
    norm = np.sqrt(x * x + y * y + z * z)
    lat, lng = xyz_to_latlng(x / norm, y / norm, z / norm)
    return np.degrees(lat), np.degrees(lng)


# ---------------------------------------------------------------------------
# A10–A14 — hierarchy algebra (pure uint64 bit math)
# ---------------------------------------------------------------------------

def lsb(cell_id: np.ndarray) -> np.ndarray:
    """Lowest set bit: id & -id (uint64)."""
    id_u = np.asarray(cell_id).astype(np.uint64)
    return id_u & (~id_u + _U(1))


def level(cell_id: np.ndarray) -> np.ndarray:
    """S2CellId.swift :: level [spec]: 30 − ntz(id)/2.

    ntz computed via exact float64 log2 of the isolated lsb (powers of
    two ≤ 2**63 are exactly representable).
    """
    l = lsb(cell_id)
    ntz = np.log2(l.astype(np.float64)).astype(np.int64)
    return (MAX_LEVEL - (ntz >> 1)).astype(np.int64)


def lsb_for_level(lvl) -> np.ndarray:
    """1 << (2 * (30 - level))."""
    lvl_arr = np.asarray(lvl, dtype=np.int64)
    return (_U(1) << (2 * (MAX_LEVEL - lvl_arr)).astype(np.uint64))


def parent(cell_id: np.ndarray, lvl) -> np.ndarray:
    """S2CellId.swift :: parent(_:) [spec] — the tile assignment kernel."""
    id_u = np.asarray(cell_id).astype(np.uint64)
    new_lsb = lsb_for_level(lvl)
    return (id_u & (~new_lsb + _U(1))) | new_lsb


def children(cell_id: np.ndarray) -> np.ndarray:
    """4 children of each cell, shape (n, 4). S2CellId.swift :: children [spec]."""
    id_u = np.asarray(cell_id).astype(np.uint64)
    child_lsb = lsb(id_u) >> _U(2)
    ks = np.arange(4, dtype=np.int64)
    # child(k) = id + (2k − 3) · (lsb >> 2); keep arithmetic in uint64
    offsets = (2 * ks - 3).reshape(1, 4)
    base = id_u.reshape(-1, 1)
    cl = child_lsb.reshape(-1, 1)
    neg = offsets < 0
    mag = np.abs(offsets).astype(np.uint64)
    out = np.where(neg, base - mag * cl, base + mag * cl)
    return out.astype(np.uint64)


def range_min(cell_id: np.ndarray) -> np.ndarray:
    """S2CellId.swift :: rangeMin [spec]: id − (lsb − 1)."""
    id_u = np.asarray(cell_id).astype(np.uint64)
    return id_u - (lsb(id_u) - _U(1))


def range_max(cell_id: np.ndarray) -> np.ndarray:
    """S2CellId.swift :: rangeMax [spec]: id + (lsb − 1)."""
    id_u = np.asarray(cell_id).astype(np.uint64)
    return id_u + (lsb(id_u) - _U(1))


def contains(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cell a contains cell b (hierarchy containment), elementwise."""
    return (range_min(a) <= range_min(b)) & (range_max(b) <= range_max(a))


# ---------------------------------------------------------------------------
# Signed-view helpers (SURVEY §2.2 — Spark LongType is signed)
# ---------------------------------------------------------------------------

def uint64_to_signed(cell_id: np.ndarray) -> np.ndarray:
    """Reinterpret the uint64 bit pattern as int64 (what Spark stores)."""
    return np.asarray(cell_id).astype(np.uint64).view(np.int64)


def signed_to_uint64(cell_id: np.ndarray) -> np.ndarray:
    return np.asarray(cell_id).astype(np.int64).view(np.uint64)


def signed_order_key(cell_id: np.ndarray) -> np.ndarray:
    """Flip trick: int64 key whose < order equals uint64 order of the id.

    key = uint64(id) − 2**63 (wrapping), i.e. id XOR (1<<63) reinterpreted.
    Use this for BETWEEN range predicates in Spark SQL.
    """
    id_u = np.asarray(cell_id).astype(np.uint64)
    return (id_u ^ _U(1 << 63)).view(np.int64)


# ---------------------------------------------------------------------------
# A15/A16 — neighbors
# ---------------------------------------------------------------------------

def _from_face_ij_wrap(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """S2CellId.swift :: fromFaceIJWrap [spec] — vectorized.

    (i, j) may be one step outside [0, 2**30); project through xyz onto
    the correct adjacent face using the *linear* st↔uv map.
    """
    i_c = np.clip(i, -1, MAX_SIZE)
    j_c = np.clip(j, -1, MAX_SIZE)
    scale = 1.0 / MAX_SIZE
    limit = 1.0 + np.finfo(np.float64).eps
    u = np.clip(scale * (2.0 * (i_c - MAX_SIZE // 2) + 1.0), -limit, limit)
    v = np.clip(scale * (2.0 * (j_c - MAX_SIZE // 2) + 1.0), -limit, limit)
    x, y, z = face_uv_to_xyz(face, u, v)
    new_face = xyz_to_face(x, y, z)
    nu, nv = face_xyz_to_uv(new_face, x, y, z)
    return from_face_ij(new_face, st_to_ij(0.5 * (nu + 1.0)), st_to_ij(0.5 * (nv + 1.0)))


def _from_face_ij_same(face, i, j, same_face):
    """FromFaceIJSame [spec]: dispatch same-face fast path vs wrap."""
    same = from_face_ij(face, np.clip(i, 0, MAX_SIZE - 1), np.clip(j, 0, MAX_SIZE - 1))
    wrap = _from_face_ij_wrap(face, i, j)
    return np.where(same_face, same, wrap)


def edge_neighbors(cell_id: np.ndarray) -> np.ndarray:
    """4 same-level edge neighbors, shape (n, 4) — down, right, up, left.

    S2CellId.swift :: getEdgeNeighbors [spec].
    """
    id_u = np.asarray(cell_id).astype(np.uint64)
    lvl = level(id_u)
    size = np.int64(1) << (MAX_LEVEL - lvl)
    face, i, j = to_face_ij(id_u)
    out = np.empty((id_u.shape[0], 4), dtype=np.uint64)
    out[:, 0] = parent(_from_face_ij_same(face, i, j - size, j - size >= 0), lvl)
    out[:, 1] = parent(_from_face_ij_same(face, i + size, j, i + size < MAX_SIZE), lvl)
    out[:, 2] = parent(_from_face_ij_same(face, i, j + size, j + size < MAX_SIZE), lvl)
    out[:, 3] = parent(_from_face_ij_same(face, i - size, j, i - size >= 0), lvl)
    return out


def all_neighbors(cell_id: np.ndarray) -> list:
    """8-ring (same-level) neighbors per cell; returns list of 8 uint64
    arrays (one per (di, dj) offset).

    S2CellId.swift :: getAllNeighbors [spec], specialized to
    nbr_level == level. same_face for an offset cell is "both leaf
    coordinates in [0, 2**30)" — exactly the spec's bounds tests.
    Cube-corner diagonals may duplicate an edge neighbor; callers dedup
    (unions.expand does).
    """
    id_u = np.asarray(cell_id).astype(np.uint64)
    lvl = level(id_u)
    size = np.int64(1) << (MAX_LEVEL - lvl)
    face, i, j = to_face_ij(id_u)
    i = i & (-size)
    j = j & (-size)
    results = []
    for di in (-1, 0, 1):
        for dj in (-1, 0, 1):
            if di == 0 and dj == 0:
                continue
            ii = i + di * size
            jj = j + dj * size
            same = (ii >= 0) & (ii < MAX_SIZE) & (jj >= 0) & (jj < MAX_SIZE)
            results.append(parent(_from_face_ij_same(face, ii, jj, same), lvl))
    return results


# ---------------------------------------------------------------------------
# A18 — tokens
# ---------------------------------------------------------------------------

def token_of(cell_id: np.ndarray) -> list:
    """Hex token with trailing zeros stripped; 'X' for id 0.

    S2CellId.swift :: token [spec]. Small-array helper (debug and
    interchange only — joins always use the int64 id).
    """
    out = []
    for v in np.asarray(cell_id).astype(np.uint64).tolist():
        if v == 0:
            out.append("X")
        else:
            out.append(("%016x" % v).rstrip("0"))
    return out


def token_to_id(tokens) -> np.ndarray:
    vals = []
    for t in tokens:
        if t == "X":
            vals.append(0)
        else:
            vals.append(int(t.ljust(16, "0"), 16))
    return np.array(vals, dtype=np.uint64)


# ---------------------------------------------------------------------------
# A19/A22 — region predicates over point columns (vectorized)
# ---------------------------------------------------------------------------

def cap_contains_points(cx, cy, cz, height, x, y, z) -> np.ndarray:
    """‖axis − p‖² ≤ 2·height. S2Cap.swift :: contains [spec]."""
    dx = x - cx
    dy = y - cy
    dz = z - cz
    return (dx * dx + dy * dy + dz * dz) <= 2.0 * height


def rect_contains_latlng(lat_lo, lat_hi, lng_lo, lng_hi, lat, lng) -> np.ndarray:
    """Lat interval × wrapping lng interval (radians).

    S2LatLngRect.swift :: contains + S1Interval wrap rule [spec]:
    if lng_lo <= lng_hi: plain interval; else wraps across ±π.
    """
    lat_ok = (lat >= lat_lo) & (lat <= lat_hi)
    if lng_lo <= lng_hi:
        lng_ok = (lng >= lng_lo) & (lng <= lng_hi)
    else:
        lng_ok = (lng >= lng_lo) | (lng <= lng_hi)
    return lat_ok & lng_ok


# ---------------------------------------------------------------------------
# A24–A27 — vectorized point-in-polygon (crossing parity)
# ---------------------------------------------------------------------------

# Fixed interior reference point for crossing counts: S2::Origin() [spec].
# The spec uses (-0.0099994664350250197, 0.0025924542609324121,
# 0.99994664350250195) — an arbitrary point unlikely to be on any edge.
ORIGIN = np.array([-0.0099994664350250197, 0.0025924542609324121,
                   0.99994664350250195], dtype=np.float64)


def _triple_sign(ax, ay, az, bx, by, bz, cx, cy, cz):
    """sign of det(a, b, c) = a · (b × c), float64 fast path."""
    d = (ax * (by * cz - bz * cy)
         - ay * (bx * cz - bz * cx)
         + az * (bx * cy - by * cx))
    return np.sign(d)


def loop_contains_points(loop_lats: np.ndarray, loop_lngs: np.ndarray,
                         px: np.ndarray, py: np.ndarray, pz: np.ndarray) -> np.ndarray:
    """Crossing-parity point-in-loop test, vectorized over points.

    S2Loop.swift :: contains(_: S2Point) [spec]: count geodesic edge
    crossings of segment ORIGIN→p against each loop edge; odd parity ⇒
    inside (assuming the loop does not contain ORIGIN; our region-prep
    asserts this for fixture polygons — see regions.py).

    loop_lats/lngs: radians, the loop's vertices (closed implicitly).
    Points near edges (|det| < 1e-15 in any orientation test) are
    routed to the scalar exact fallback by the caller (see
    ``pip_candidates_exact`` in operators/pip_join.py).
    """
    vx, vy, vz = latlng_to_xyz(loop_lats, loop_lngs)
    n = len(vx)
    ox, oy, oz = ORIGIN
    inside = np.zeros(px.shape, dtype=bool)
    # For each edge (a=v[k], b=v[k+1]) test crossing with arc (origin, p).
    # Spec crossing rule (S2EdgeUtil.swift :: EdgeCrosser.robustCrossing
    # [spec]): arcs (o,p) and (a,b) cross iff the four orientation signs
    # are consistent: −sign(o,p,a) == sign(o,p,b) == −sign(a,b,p)
    # == sign(a,b,o). The two-product shortcut (d1·d2<0 ∧ d3·d4<0) is
    # WRONG on the sphere — it also fires near the antipode, where the
    # arcs straddle the opposite great-circle intersection point.
    for k in range(n):
        axp, ayp, azp = vx[k], vy[k], vz[k]
        bxp, byp, bzp = vx[(k + 1) % n], vy[(k + 1) % n], vz[(k + 1) % n]
        s1 = _triple_sign(ox, oy, oz, px, py, pz, axp, ayp, azp)  # sign(o,p,a)
        s2 = _triple_sign(ox, oy, oz, px, py, pz, bxp, byp, bzp)  # sign(o,p,b)
        s3 = _triple_sign(axp, ayp, azp, bxp, byp, bzp,
                          np.full_like(px, ox), np.full_like(px, oy),
                          np.full_like(px, oz))                    # sign(a,b,o)
        s4 = _triple_sign(axp, ayp, azp, bxp, byp, bzp, px, py, pz)  # sign(a,b,p)
        crossing = (s1 != 0) & (s2 == -s1) & (s4 == s1) & (s3 == -s1)
        inside ^= crossing
    return inside


def pip_degenerate_flags(loop_lats: np.ndarray, loop_lngs: np.ndarray,
                         px: np.ndarray, py: np.ndarray, pz: np.ndarray,
                         eps: float = 1e-14) -> np.ndarray:
    """Flag points whose orientation tests are near-degenerate.

    These rows are recomputed by the scalar exact fallback
    (tests/oracle-style long-double path) — SURVEY §2.4.
    """
    vx, vy, vz = latlng_to_xyz(loop_lats, loop_lngs)
    n = len(vx)
    ox, oy, oz = ORIGIN
    flag = np.zeros(px.shape, dtype=bool)

    def _det(ax, ay, az, bx, by, bz, cx, cy, cz):
        return (ax * (by * cz - bz * cy) - ay * (bx * cz - bz * cx)
                + az * (bx * cy - by * cx))

    for k in range(n):
        a = (vx[k], vy[k], vz[k])
        b = (vx[(k + 1) % n], vy[(k + 1) % n], vz[(k + 1) % n])
        for det in (
            _det(ox, oy, oz, px, py, pz, *a),
            _det(ox, oy, oz, px, py, pz, *b),
            _det(a[0], a[1], a[2], b[0], b[1], b[2], px, py, pz),
        ):
            flag |= np.abs(det) < eps
    return flag


# ---------------------------------------------------------------------------
# A32 — metrics (level selection). Quadratic-projection constants [spec].
# ---------------------------------------------------------------------------

# kMinWidth / kAvgEdge derivatives for the quadratic projection
# (S2.swift :: Metric constants [spec]).
K_MIN_WIDTH_DERIV = 2.0 * np.sqrt(2.0) / 3.0  # 0.9428...
K_AVG_EDGE_DERIV = 1.459213746386106


def min_width_max_level(radius_rad: float) -> int:
    """Largest level whose min cell width ≥ radius — coarsest cell that
    is guaranteed no wider than needed. S2.Metric :: getMaxLevel [spec]."""
    if radius_rad <= 0:
        return MAX_LEVEL
    import math
    lvl = int(math.floor(math.log2(K_MIN_WIDTH_DERIV / radius_rad)))
    return max(0, min(MAX_LEVEL, lvl))


# ---------------------------------------------------------------------------
# A17 — vertex neighbors
# ---------------------------------------------------------------------------

def vertex_neighbors(cell_id: np.ndarray, lvl) -> np.ndarray:
    """The (up to 4, always emitted as 4 with possible duplicates)
    cells at level `lvl` (< cell level) touching the cell's closest
    vertex, shape (n, 4).

    S2CellId.swift :: getVertexNeighbors [spec]: pick the vertex of the
    level-`lvl` grid nearest this cell, return the grid cells around
    it; off-face offsets wrap via fromFaceIJSame. The reference emits
    the 4th (diagonal) cell only when isame or jsame — here it is
    always computed (fromFaceIJWrap handles the corner) and callers
    dedup, keeping the output rectangular for numpy.
    """
    id_u = np.asarray(cell_id).astype(np.uint64)
    lvl_arr = np.broadcast_to(np.asarray(lvl, dtype=np.int64), id_u.shape)
    if np.any(lvl_arr >= level(id_u)):
        raise ValueError("vertex_neighbors requires lvl < cell level "
                         "(spec precondition; a negative shift would "
                         "silently corrupt the ij offsets)")
    face, i, j = to_face_ij(id_u)
    half = np.int64(1) << (MAX_LEVEL - lvl_arr - 1)
    size = half << 1
    i_bit = (i & half) != 0
    ioff = np.where(i_bit, size, -size)
    isame = np.where(i_bit, i + size < MAX_SIZE, i - size >= 0)
    j_bit = (j & half) != 0
    joff = np.where(j_bit, size, -size)
    jsame = np.where(j_bit, j + size < MAX_SIZE, j - size >= 0)
    out = np.empty((id_u.shape[0], 4), dtype=np.uint64)
    out[:, 0] = parent(from_face_ij(face, i, j), lvl_arr)
    out[:, 1] = parent(_from_face_ij_same(face, i + ioff, j, isame), lvl_arr)
    out[:, 2] = parent(_from_face_ij_same(face, i, j + joff, jsame), lvl_arr)
    out[:, 3] = parent(
        _from_face_ij_same(face, i + ioff, j + joff, isame & jsame),
        lvl_arr)
    return out


# ---------------------------------------------------------------------------
# A33 — cell geometry (vertices, center, area)
# ---------------------------------------------------------------------------

def ij_to_st_min(coord: np.ndarray) -> np.ndarray:
    """Lower st bound of a leaf-ij coordinate (ij / 2**30)."""
    return coord.astype(np.float64) / np.float64(MAX_SIZE)


def cell_uv_bounds(cell_id: np.ndarray):
    """(face, u_lo, u_hi, v_lo, v_hi) of each cell's uv rectangle."""
    id_u = np.asarray(cell_id).astype(np.uint64)
    lvl = level(id_u)
    size = np.int64(1) << (MAX_LEVEL - lvl)
    face, i, j = to_face_ij(id_u)
    i0 = i & (-size)
    j0 = j & (-size)
    u_lo = st_to_uv(ij_to_st_min(i0))
    u_hi = st_to_uv(ij_to_st_min(i0 + size))
    v_lo = st_to_uv(ij_to_st_min(j0))
    v_hi = st_to_uv(ij_to_st_min(j0 + size))
    return face, u_lo, u_hi, v_lo, v_hi


def cell_vertices(cell_id: np.ndarray):
    """4 CCW unit-vector vertices per cell: 3 arrays of shape (n, 4)
    (x, y, z). Order: (lo,lo), (hi,lo), (hi,hi), (lo,hi) in uv.

    S2Cell.swift :: getVertex [spec] (normalized corner directions).
    """
    face, u_lo, u_hi, v_lo, v_hi = cell_uv_bounds(cell_id)
    n = face.shape[0]
    xs = np.empty((n, 4)); ys = np.empty((n, 4)); zs = np.empty((n, 4))
    corners = ((u_lo, v_lo), (u_hi, v_lo), (u_hi, v_hi), (u_lo, v_hi))
    for k, (u, v) in enumerate(corners):
        x, y, z = face_uv_to_xyz(face, u, v)
        norm = np.sqrt(x * x + y * y + z * z)
        xs[:, k] = x / norm
        ys[:, k] = y / norm
        zs[:, k] = z / norm
    return xs, ys, zs


def _triangle_area(ax, ay, az, bx, by, bz, cx, cy, cz):
    """Robust spherical triangle area (Girard via the stable tan-half
    formula): area = 2*atan2(|a·(b×c)|, 1 + a·b + b·c + c·a).

    S2.swift :: area/girardArea [spec family].
    """
    triple = (ax * (by * cz - bz * cy)
              + ay * (bz * cx - bx * cz)
              + az * (bx * cy - by * cx))
    s = 1.0 + (ax * bx + ay * by + az * bz) \
        + (bx * cx + by * cy + bz * cz) \
        + (cx * ax + cy * ay + cz * az)
    return 2.0 * np.arctan2(np.abs(triple), s)


def cell_exact_area(cell_id: np.ndarray) -> np.ndarray:
    """Exact spherical area of each cell (sum of its two vertex
    triangles). S2Cell.swift :: exactArea [spec]."""
    xs, ys, zs = cell_vertices(cell_id)
    a1 = _triangle_area(xs[:, 0], ys[:, 0], zs[:, 0],
                        xs[:, 1], ys[:, 1], zs[:, 1],
                        xs[:, 2], ys[:, 2], zs[:, 2])
    a2 = _triangle_area(xs[:, 0], ys[:, 0], zs[:, 0],
                        xs[:, 2], ys[:, 2], zs[:, 2],
                        xs[:, 3], ys[:, 3], zs[:, 3])
    return a1 + a2


def cell_average_area(lvl) -> np.ndarray:
    """Average cell area at a level: 4*pi / (6 * 4**level) — the
    sphere split evenly over the cell count. S2.swift :: kAvgArea
    [spec] up to the metric's constant factor normalization."""
    lvl = np.asarray(lvl, dtype=np.float64)
    return (4.0 * np.pi) / (6.0 * np.power(4.0, lvl))


# ---------------------------------------------------------------------------
# A35 — lexicographic point ordering
# ---------------------------------------------------------------------------

def point_compare(p, q) -> int:
    """Lexicographic S2Point compare (S2Point.swift :: < [spec]):
    -1 / 0 / +1. API-surface parity for A35; the distributed operators
    themselves break ties on column values (url/vec_id) and exact.py
    sorts rational tuples directly with the same lexicographic order."""
    for a, b in zip(p, q):
        if a < b:
            return -1
        if a > b:
            return 1
    return 0
