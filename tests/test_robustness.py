"""Hostile inputs at the operator boundaries: each public operator
states its input domain and rejects what lies outside it with a named
error before any Spark plan is built, or maps it to a documented NULL."""

from __future__ import annotations

import math
import time

import numpy as np
import pytest

from pyspark.sql import functions as F

from s2geometry_spark import kernels as K
from s2geometry_spark.functions import geo
from s2geometry_spark.operators.knn import knn_join
from s2geometry_spark.operators.pip_join import pip_join
from s2geometry_spark.regions import Cap

PAGES_DDL = "url string, lat double, lng double"


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame([("a/1", 1.0, 2.0), ("b/2", -3.0, 4.0)],
                                 PAGES_DDL)


def _q(**kw):
    return {"query_id": 0, "lat": 10.0, "lng": 20.0, "k": 3, **kw}


@pytest.mark.parametrize("queries", [
    [_q(k=0)],
    [_q(k=-3)],
    [_q(k=2.5)],
    [_q(k=True)],
    [_q(lat=math.nan)],
    [_q(lng=math.nan)],
    [_q(lat=math.inf)],
    [_q(lng=-math.inf)],
    [_q(lat=95.0)],
    [_q(lat=-90.5)],
    [_q(), _q(lat=-10.0)],
], ids=["k0", "k-3", "k-float", "k-bool", "lat-nan", "lng-nan", "lat-inf",
        "lng-inf", "lat-95", "lat-below-90", "duplicate-query-id"])
def test_knn_rejects_bad_queries_before_any_job(spark, pages, queries):
    sc = spark.sparkContext
    group = f"knn-bad-{time.monotonic_ns()}"
    sc.setJobGroup(group, "knn_join validation")
    try:
        with pytest.raises(ValueError):
            knn_join(pages, spark, queries)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.parametrize("missing", ["lat", "lng"])
def test_knn_missing_coordinate_raises_key_error(spark, pages, missing):
    q = _q()
    del q[missing]
    with pytest.raises(KeyError):
        knn_join(pages, spark, [q])


def test_knn_ties_and_unlocated_pages_match_brute_force(spark):
    """Pages stacked on a few shared points (every d2 tied with many
    others) and pages with no location, spread over several partitions:
    the per-partition keep sets must still give the exact (d2, url)
    top-k, and a page without a finite lat/lng is never a neighbour."""
    rng = np.random.default_rng(5)
    spots = [(0.0, 0.0), (0.001, 0.0), (0.0, 0.002), (90.0, 0.0)]
    rows = []
    for i in range(400):
        lat, lng = spots[int(rng.integers(len(spots)))]
        rows.append((f"u/{int(rng.integers(1000)):03d}-{i}", lat, lng))
    rows += [("nolat", None, 0.0), ("nanlng", 0.0, math.nan),
             ("inflat", math.inf, 0.0)]
    pages = spark.createDataFrame(rows, PAGES_DDL).repartition(4)
    queries = [{"query_id": 0, "lat": 0.0, "lng": 0.0, "k": 7},
               {"query_id": 1, "lat": 90.0, "lng": 0.0, "k": 150},
               {"query_id": 2, "lat": -90.0, "lng": 0.0, "k": 1000}]
    got = sorted((r["query_id"], r["rank"], r["url"])
                 for r in knn_join(pages, spark, queries).collect())

    located = [r for r in rows if r[1] is not None
               and math.isfinite(r[1]) and math.isfinite(r[2])]
    urls = [r[0] for r in located]
    x, y, z = K.latlng_to_xyz(np.radians([r[1] for r in located]),
                              np.radians([r[2] for r in located]))
    want = []
    for q in queries:
        la, ln = math.radians(q["lat"]), math.radians(q["lng"])
        cl = math.cos(la)
        dx, dy, dz = x - cl * math.cos(ln), y - cl * math.sin(ln), \
            z - math.sin(la)
        d2 = (dx * dx + dy * dy) + dz * dz
        order = sorted(range(len(urls)), key=lambda i: (d2[i], urls[i]))
        want += [(q["query_id"], r + 1, urls[j])
                 for r, j in enumerate(order[:q["k"]])]
    assert got == sorted(want)


# pages with no point: no lat/lng, NaN, ±inf, |lat| > 90
NO_POINT = [("null", None, None), ("nan", math.nan, math.nan),
            ("inf", math.inf, math.inf), ("lat-nan", math.nan, 46.0),
            ("lng-null", 36.26, None), ("lng-inf", 36.26, -math.inf),
            ("lat-95", 95.0, 46.0), ("lat-below-90", -90.5, 46.0)]
# inside the cap below; a finite lng outside [-180, 180] wraps
HAS_POINT = [("centre", 36.26, 46.0), ("wrapped", 36.26, 46.0 - 720.0)]


def _geocoded(spark, rows):
    df = spark.createDataFrame(rows, PAGES_DDL).repartition(2)
    cell = geo.cell_id_udf(F.col("lat"), F.col("lng"))
    return (df.withColumn("cell_id", cell)
            .withColumn("cell_l4", geo.parent_col(F.col("cell_id"), 4)))


def test_geocode_gives_null_cell_id_to_pages_without_a_point(spark):
    """cell_id_udf maps a row outside its domain to NULL (it once gave
    every such row one real leaf near (35.26°, 45°), and mirrored
    |lat| > 90) and keeps the kernel's ids for the valid rows of the
    same batch."""
    got = {r["url"]: r["cell_id"]
           for r in _geocoded(spark, NO_POINT + HAS_POINT).collect()}
    assert all(got[u] is None for u, _, _ in NO_POINT), got
    want = K.uint64_to_signed(K.latlng_degrees_to_cell_id(
        np.array([36.26, 36.26]), np.array([46.0, 46.0 - 720.0])))
    assert [got[u] for u, _, _ in HAS_POINT] == [int(v) for v in want]


def test_pip_join_matches_no_page_without_a_point(spark):
    """A page without a point is inside no region, in every strategy.
    Before its cell id was NULL, `range` returned them all as
    contained: their shared leaf fell in an interior cell of this cap,
    so the exact test never saw them."""
    cap = Cap.from_latlng_radius(1, 36.26, 46.0, 5.0)
    pages = _geocoded(spark, NO_POINT + HAS_POINT)
    for strategy in ("equi", "range", "salted"):
        got = sorted(r["url"] for r in pip_join(
            pages, spark, [cap], strategy=strategy, level=4).collect())
        assert got == sorted(u for u, _, _ in HAS_POINT), strategy
