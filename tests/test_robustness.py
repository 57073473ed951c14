"""Hostile inputs at the operator boundaries: each public operator
states its input domain and rejects what lies outside it with a named
error before any Spark plan is built, or maps it to a documented NULL."""

from __future__ import annotations

import hashlib
import math
import time

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from s2geometry_spark import kernels as K
from s2geometry_spark.functions import geo
from s2geometry_spark.operators import corpus, dedup
from s2geometry_spark.operators.dedup import release_caches
from s2geometry_spark.operators.distjoin import distance_join
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
    for strategy in ("equi", "range", "shuffle"):
        got = sorted(r["url"] for r in pip_join(
            pages, spark, [cap], strategy=strategy, level=4).collect())
        assert got == sorted(u for u, _, _ in HAS_POINT), strategy


# where the kernels mirror lat 95 and -90.5 (lng 46): the same leaf and
# xyz as these real points
MIRRORS = [("mirror-95", 85.0, -134.0), ("mirror-below-90", -89.5, -134.0)]


def test_distance_join_pairs_no_page_without_a_point(spark):
    """A page without a point is in no pair. Before the shared point
    mask, lat 95 got the xyz and cell of its mirror (85, lng+180) and
    paired with a page there at distance 0."""
    near = [("near-a", 10.0, 20.0), ("near-b", 10.0, 20.00001)]
    pages = spark.createDataFrame(NO_POINT + MIRRORS + near,
                                  PAGES_DDL).repartition(2)
    reg: list = []
    try:
        got = sorted((r["url_a"], r["url_b"])
                     for r in distance_join(pages, 1e-6,
                                            cache_registry=reg).collect())
    finally:
        release_caches(reg)
    assert got == [("near-a", "near-b")]


def test_distance_join_never_pairs_equal_or_null_urls(spark):
    """Two rows with one url never pair with each other, each still
    pairs with a third url, and a NULL url is in no pair."""
    pages = spark.createDataFrame(
        [("same", 10.0, 20.0), ("same", 10.0, 20.00001),
         ("other", 10.0, 20.00002), (None, 10.0, 20.0)],
        PAGES_DDL).repartition(2)
    got = sorted((r["url_a"], r["url_b"])
                 for r in distance_join(pages, 1e-6).collect())
    assert got == [("other", "same"), ("other", "same")]


def test_distance_join_of_no_pages_is_empty(spark):
    out = distance_join(spark.createDataFrame([], PAGES_DDL), 1e-3)
    assert out.collect() == []
    assert out.schema.simpleString() == \
        "struct<url_a:string,url_b:string,cell:bigint>"


def test_distance_join_hot_cell_in_blocks_matches_brute_force(
        spark, monkeypatch):
    """2,000 points in ONE level-4 cell (~2M candidates in one key
    group), expanded in blocks of 10,000, against numpy brute force:
    through Spark, and in process over 700-row batches, where the
    held last group and the block count can be seen."""
    from s2geometry_spark.operators import distjoin
    monkeypatch.setattr(distjoin, "_BLOCK", 10_000)
    rng = np.random.default_rng(5)
    lat = 12.79 + rng.uniform(-0.5, 0.5, 2000)  # level-4 cell centre
    lng = 19.57 + rng.uniform(-0.5, 0.5, 2000)
    cells = K.parent(K.latlng_degrees_to_cell_id(lat, lng), 4)
    assert np.unique(cells).size == 1
    cell = int(K.uint64_to_signed(cells)[0])
    urls = [f"p{i:04d}" for i in range(lat.size)]
    radius = 1e-3
    x, y, z = K.latlng_to_xyz(np.radians(lat), np.radians(lng))
    dx, dy, dz = (x[:, None] - x, y[:, None] - y, z[:, None] - z)
    near = (dx * dx + dy * dy) + dz * dz <= distjoin.chord2_of_angle(radius)
    want = sorted((urls[i], urls[j], cell)
                  for i, j in zip(*np.nonzero(np.triu(near, 1))))
    assert len(want) > 10_000

    pages = spark.createDataFrame(list(zip(urls, lat.tolist(),
                                           lng.tolist())), PAGES_DDL)
    got = distance_join(pages.repartition(2), radius, level=4).collect()
    assert sorted(tuple(r) for r in got) == want

    emitted = pd.concat(distjoin._emit(4)([pd.DataFrame(
        {"url": urls, "lat": lat, "lng": lng})])).sort_values(
        "key", kind="stable", ignore_index=True)
    frames = list(distjoin._pair_groups(distjoin.chord2_of_angle(radius))(
        emitted.iloc[i:i + 700] for i in range(0, len(emitted), 700)))
    assert len(frames) > 100  # ~2M candidates, 10,000 at a time
    assert sorted(pd.concat(frames).itertuples(index=False,
                                               name=None)) == want


def test_knn_never_returns_a_page_without_a_point(spark):
    """A page without a point is never a neighbour, even to a query at
    its mirror point, where it once sat at distance 0."""
    near = [("near-95", 84.0, -134.0), ("near-below-90", -89.0, -134.0)]
    pages = spark.createDataFrame(NO_POINT + near, PAGES_DDL).repartition(2)
    queries = [{"query_id": i, "lat": lat, "lng": lng, "k": 1}
               for i, (_, lat, lng) in enumerate(MIRRORS)]
    got = sorted((r["query_id"], r["url"])
                 for r in knn_join(pages, spark, queries).collect())
    assert got == [(0, "near-95"), (1, "near-below-90")]
    everything = {"query_id": 9, "lat": 0.0, "lng": 0.0, "k": 100}
    got = {r["url"] for r in knn_join(pages, spark, [everything]).collect()}
    assert got == {u for u, _, _ in near}


# -- text hashing: null, empty, blank, short and non-UTF-8 text -------------

HOSTILE_TEXT = [("null", None), ("empty", ""), ("blank", " \t\n\x0b "),
                ("one", "one"), ("two", "one two"),
                ("three", "one two three")]


def _h60(b: bytes) -> int:
    return int(hashlib.md5(b).hexdigest()[:15], 16)


def test_text_hashing_domain_edges(spark):
    """MinHash (k=3) drops docs with null text or fewer than 3 tokens;
    simhash drops docs with no token; decontaminate keeps every row,
    with n_hit 0 where there is no gram."""
    docs = spark.createDataFrame(HOSTILE_TEXT, "url string, text string")
    sigs = dedup.minhash_signatures(docs).collect()
    assert [(r["url"], r["sh"]) for r in sigs] == \
        [("three", [_h60(b"one two three")])]
    assert {r["url"] for r in dedup.simhash_df(docs).collect()} == \
        {"one", "two", "three"}
    got = {r["url"]: (r["n_hit"], r["contaminated"]) for r in
           corpus.decontaminate(docs, [_h60(b"one two three")],
                                k=3).collect()}
    assert got == {u: (0, False) for u, _ in HOSTILE_TEXT[:-1]} | \
        {"three": (1, True)}


def test_invalid_utf8_text_hashes_raw_bytes(spark):
    """A binary -> string cast can hold bytes that are not UTF-8: the
    hashes are those of the raw bytes, split at the ASCII separators,
    and no task fails (functions/text.py shingle_hashes)."""
    raw = b"caf\xe9 \xff\xfe\tx y\x0bz"
    docs = (spark.createDataFrame([("bad", bytearray(raw))],
                                  "url string, b binary")
            .select("url", F.col("b").cast("string").alias("text")))
    toks = raw.split()
    shingles = [b" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
    [row] = dedup.minhash_signatures(docs).collect()
    assert row["sh"] == [_h60(s) for s in shingles]
    hashes = [_h60(t) for t in toks]
    want = sum(1 << b for b in range(60)
               if 2 * sum((h >> b) & 1 for h in hashes) >= len(hashes))
    assert dedup.simhash_df(docs).collect()[0]["simhash"] == want
    [row] = corpus.decontaminate(docs, [_h60(shingles[1])], k=3).collect()
    assert (row["n_hit"], row["contaminated"]) == (1, True)
