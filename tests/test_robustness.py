"""Hostile inputs at the operator boundaries: each public operator
states its input domain and rejects what lies outside it with a named
error before any Spark plan is built."""

from __future__ import annotations

import math
import time

import numpy as np
import pytest

from s2geometry_spark import kernels as K
from s2geometry_spark.operators.knn import knn_join

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
