"""Property-based kernel tests (hypothesis) — SURVEY.md §5.2 extension.

These complement the fixed-grid + seeded-random oracle tests in
test_kernels.py with adversarially-shrunk random inputs: hypothesis
hunts the boundary cases (poles, antimeridian, face edges, level
extremes) that fixed seeds can miss.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from s2geometry_spark import kernels as K
from s2geometry_spark import unions as U
import tests.oracle_s2 as O

# the kernels divide only where a face needs it: no overflow warnings
pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")

lat_deg = st.floats(min_value=-90.0, max_value=90.0,
                    allow_nan=False, allow_infinity=False)
lng_deg = st.floats(min_value=-180.0, max_value=180.0,
                    allow_nan=False, allow_infinity=False)
levels = st.integers(min_value=0, max_value=30)


@settings(max_examples=300, deadline=None)
@given(lat_deg, lng_deg)
def test_cell_id_matches_scalar_oracle(lat, lng):
    got = int(K.latlng_degrees_to_cell_id(
        np.array([lat]), np.array([lng]))[0])
    assert got == O.latlng_degrees_to_cell_id(lat, lng)


@settings(max_examples=200, deadline=None)
@given(lat_deg, lng_deg, levels)
def test_parent_range_level_algebra(lat, lng, lvl):
    leaf = K.latlng_degrees_to_cell_id(np.array([lat]), np.array([lng]))
    p = K.parent(leaf, lvl)
    assert int(K.level(p)[0]) == lvl
    assert int(K.range_min(p)[0]) <= int(leaf[0]) <= int(K.range_max(p)[0])
    if lvl < 30:
        kids = K.children(p)[0]
        assert all(int(K.parent(np.array([c], dtype=np.uint64), lvl)[0])
                   == int(p[0]) for c in kids)
        # children partition the parent's leaf range
        rmins = sorted(int(K.range_min(np.array([c], dtype=np.uint64))[0])
                       for c in kids)
        assert rmins[0] == int(K.range_min(p)[0])


@settings(max_examples=150, deadline=None)
@given(lat_deg, lng_deg, st.integers(min_value=0, max_value=29))
def test_token_round_trip_and_neighbor_symmetry(lat, lng, lvl):
    cell = K.parent(K.latlng_degrees_to_cell_id(
        np.array([lat]), np.array([lng])), lvl)
    tok = K.token_of(cell)[0]
    assert int(K.token_to_id([tok])[0]) == int(cell[0])
    nbrs = K.edge_neighbors(cell)[0]
    for nb in nbrs:
        back = K.edge_neighbors(np.array([nb], dtype=np.uint64))[0]
        assert int(cell[0]) in {int(b) for b in back}


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(lat_deg, lng_deg, st.integers(2, 12)),
                min_size=1, max_size=12))
def test_union_normalize_properties(points):
    ids = np.array([
        int(K.parent(K.latlng_degrees_to_cell_id(
            np.array([la]), np.array([ln])), lv)[0])
        for la, ln, lv in points], dtype=np.uint64)
    norm = U.normalize(ids)
    assert U.is_normalized(norm)
    # every input cell's center remains covered
    assert bool(np.all(U.union_contains_ids(norm, ids)))
    # idempotent
    assert np.array_equal(U.normalize(norm), norm)


def seeded_cell_ids(n: int = 20_000, seed: int = 20261017) -> np.ndarray:
    """uint64 ids over all six faces at random levels 0–30, plus each
    face cell and its two extreme leaves (the ids nearest the int64
    sign flip and the ends of the id space)."""
    rng = np.random.default_rng(seed)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    lng = rng.uniform(-180.0, 180.0, n)
    cells = K.parent(K.latlng_degrees_to_cell_id(lat, lng),
                     rng.integers(0, K.MAX_LEVEL + 1, n))
    faces = np.array([(f << 61) | (1 << 60) for f in range(6)],
                     dtype=np.uint64)
    return np.concatenate([cells, faces, K.range_min(faces),
                           K.range_max(faces)])


def test_column_exprs_match_kernels(spark):
    """geo's JVM bit algebra equals the numpy kernels on every face and
    level (ANSI on, so any int64 overflow would raise)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from s2geometry_spark.functions import geo

    ids = seeded_cell_ids()
    assert set(K.level(ids).tolist()) == set(range(K.MAX_LEVEL + 1))
    assert set((ids >> np.uint64(61)).tolist()) == set(range(6))
    c = F.col("id")
    got = (spark.createDataFrame(pd.DataFrame({"id": K.uint64_to_signed(ids)}))
           .select("id",
                   geo.order_key_col(c).alias("key"),
                   geo.range_min_key_col(c).alias("rmin"),
                   geo.range_max_key_col(c).alias("rmax"),
                   geo.level_col(c).alias("level"))
           .toPandas().sort_values("id", kind="stable"))
    ids = np.sort(K.uint64_to_signed(ids))
    u = K.signed_to_uint64(ids)
    assert np.array_equal(got["id"].to_numpy(), ids)
    assert np.array_equal(got["key"].to_numpy(), K.signed_order_key(u))
    assert np.array_equal(got["rmin"].to_numpy(),
                          K.signed_order_key(K.range_min(u)))
    assert np.array_equal(got["rmax"].to_numpy(),
                          K.signed_order_key(K.range_max(u)))
    assert np.array_equal(got["level"].to_numpy(), K.level(u))
