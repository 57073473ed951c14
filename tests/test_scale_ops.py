"""Tests for the scale layer: explicit hot-tile salting, tile
partitioned writes, snapshot-committed TableIO, and the resumable
geocode job (SURVEY.md §7 Stage 6)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from s2geometry_spark.io.table_io import ParquetTableIO
from s2geometry_spark.jobs.geocode_job import (package_pyfiles,
                                               run_geocode_job)
from s2geometry_spark.operators import tiles as TL
from s2geometry_spark.operators.pip_join import coverings_df
from s2geometry_spark.demo_regions import demo_regions
from s2geometry_spark.sources.pages import load_pages

SF_DIR = "/root/testdata/sf0.01"
LEVEL = 4


@pytest.fixture(scope="module")
def pages(spark):
    return load_pages(spark, SF_DIR).cache()


def test_tile_histogram_totals(spark, pages):
    hist = TL.tile_histogram(pages, LEVEL).collect()
    assert sum(r["n_rows"] for r in hist) == pages.count()
    assert all(r["n_rows"] > 0 for r in hist)


def test_hot_tiles_and_salt(spark, pages):
    hist = {r["tile"]: r["n_rows"]
            for r in TL.tile_histogram(pages, LEVEL).collect()}
    thresh = sorted(hist.values())[len(hist) // 2]  # median → some hot
    hot = TL.hot_tiles(pages, LEVEL, thresh)
    assert hot == sorted(t for t, n in hist.items() if n > thresh)

    salted = TL.add_salt(pages, LEVEL, hot, n_salt=4)
    rows = salted.select(TL.tile_col(LEVEL), TL.SALT_COL).collect()
    for r in rows:
        if r[TL.tile_col(LEVEL)] in hot:
            assert 0 <= r[TL.SALT_COL] < 4
        else:
            assert r[TL.SALT_COL] == 0
    # hot tiles actually fan out across salts
    fan = (salted.filter(F.col(TL.tile_col(LEVEL)).isin(*hot))
           .select(TL.SALT_COL).distinct().count())
    assert fan > 1


def test_salted_equi_join_matches_broadcast(spark, pages):
    """The explicit-salt shuffle join must produce exactly the rows of
    the broadcast covering equi-join (same logical query)."""
    cov = coverings_df(spark, demo_regions(), uniform_level=LEVEL) \
        .select("region_id", "cell_id", "is_interior")
    hot = TL.hot_tiles(pages, LEVEL, 1)
    assert hot, "test corpus should have tiles with more than one row"
    salted = TL.salted_equi_join(pages, cov, LEVEL, hot, n_salt=4) \
        .select("url", "region_id")
    bcast = pages.join(F.broadcast(cov),
                       pages[TL.tile_col(LEVEL)] == cov["cell_id"]) \
        .select("url", "region_id")
    assert salted.exceptAll(bcast).count() == 0
    assert bcast.exceptAll(salted).count() == 0


def test_pip_salted_strategy_matches_equi(spark, pages):
    """The full salted PIP (shuffle-hash covering join + exact
    containment filter) must be row-identical to the broadcast equi
    strategy — salting is a physical choice, never a semantic one."""
    from s2geometry_spark.operators.pip_join import pip_join
    salted = pip_join(pages, spark, demo_regions(), strategy="salted",
                      level=LEVEL, hot_threshold=1, n_salt=4) \
        .select("url", "region_id")
    equi = pip_join(pages, spark, demo_regions(), strategy="equi",
                    level=LEVEL).select("url", "region_id")
    assert salted.exceptAll(equi).count() == 0
    assert equi.exceptAll(salted).count() == 0


def test_write_tiled_layout(spark, pages, tmp_path):
    out = str(tmp_path / "tiled")
    TL.write_tiled(pages.limit(200), out, LEVEL)
    subdirs = [d for d in os.listdir(out)
               if d.startswith(f"cell_l{LEVEL}=")]
    assert len(subdirs) > 1
    back = spark.read.parquet(out)
    assert back.count() == 200
    assert f"cell_l{LEVEL}" in back.columns


def test_table_io_snapshot_append_read(spark, tmp_path):
    io = ParquetTableIO(str(tmp_path))
    df1 = spark.range(10).withColumn("k", F.lit("a"))
    df2 = spark.range(5).withColumn("k", F.lit("b"))
    s1 = io.append(df1, "t", lineage_col="id", meta={"batch_key": [0]})
    s2 = io.append(df2, "t", lineage_col="id", meta={"batch_key": [1]})
    assert [h["snapshot_id"] for h in io.history("t")] == [s1, s2]
    assert io.read(spark, "t").count() == 15
    # time travel to first snapshot
    assert io.read(spark, "t", as_of=s1).count() == 10
    assert io.done_keys("t") == {0, 1}
    m = io.metrics(spark, "t")
    agg = {r["snapshot_id"]: r["total"] for r in
           m.groupBy("snapshot_id").agg(F.sum("n_rows").alias("total"))
           .collect()}
    assert agg == {s1: 10, s2: 5}


def test_uncommitted_data_is_invisible(spark, tmp_path):
    """Crash between data write and manifest commit leaves no trace for
    readers — the resume-safety property."""
    io = ParquetTableIO(str(tmp_path))
    io.append(spark.range(3), "t")
    # simulate: data dir written, manifest never updated
    orphan = os.path.join(str(tmp_path), "t", "snap-9999999999999-dead")
    spark.range(100).write.parquet(orphan)
    assert io.read(spark, "t").count() == 3
    assert len(io.history("t")) == 1


def test_geocode_job_resume(spark, tmp_path):
    """Kill after 3 of 8 batches; resume must complete the rest without
    rewriting, and the final table must equal the one-shot result."""
    io = ParquetTableIO(str(tmp_path / "a"))
    r1 = run_geocode_job(spark, SF_DIR, io, n_batches=8,
                         hot_threshold=100, max_batches_this_run=3)
    assert r1["committed"] == [0, 1, 2]
    r2 = run_geocode_job(spark, SF_DIR, io, n_batches=8, hot_threshold=100)
    assert r2["skipped"] == [0, 1, 2]
    assert r2["committed"] == [3, 4, 5, 6, 7]

    io_full = ParquetTableIO(str(tmp_path / "b"))
    run_geocode_job(spark, SF_DIR, io_full, n_batches=8, hot_threshold=100)
    a = io.read(spark, "pages_tiled").select("url", "cell_id")
    b = io_full.read(spark, "pages_tiled").select("url", "cell_id")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # idempotent: a third run does nothing — not even the input scan
    # for the hot-tile histogram (no Spark job in its job group)
    sc = spark.sparkContext
    sc.setJobGroup("geocode_job_noop_resume", "idempotent re-run")
    try:
        r3 = run_geocode_job(spark, SF_DIR, io, n_batches=8,
                             hot_threshold=100)
    finally:
        sc._jsc.clearJobGroup()
    assert r3 == {"committed": [], "skipped": list(range(8)),
                  "hot_tiles": []}
    assert sc.statusTracker().getJobIdsForGroup(
        "geocode_job_noop_resume") == []
    assert len(io.history("pages_tiled")) == 8


def test_geocode_job_batches_all_nonempty(spark, pages):
    """The batch key spreads level-4 tiles over every batch (the low
    bits of a level-4 id are its constant lsb pattern, so keying on the
    raw id would put every row in batch 0)."""
    from s2geometry_spark.jobs.geocode_job import N_BATCHES, batch_of
    counts = dict(pages.groupBy(batch_of(TL.tile_col(LEVEL)).alias("b"))
                  .count().collect())
    assert sorted(counts) == list(range(N_BATCHES)), counts
    assert all(n > 0 for n in counts.values()), counts
    assert sum(counts.values()) == pages.count()


def test_package_pyfiles(tmp_path):
    dest = str(tmp_path / "pkg.zip")
    out = package_pyfiles(dest)
    import zipfile
    names = zipfile.ZipFile(out).namelist()
    assert "s2geometry_spark/kernels.py" in names
    assert "s2geometry_spark/jobs/geocode_job.py" in names
    assert not any("__pycache__" in n for n in names)


def test_session_defaults_fit_host(monkeypatch):
    """Unset, cores come from the CPU affinity mask and driver memory
    is half of MemTotal capped at 16g; the env vars still override."""
    from s2geometry_spark import session
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert session.default_cores() == len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])  # first line: MemTotal
    assert session.default_driver_memory() \
        == f"{min(total_kib // 2048, 16 * 1024)}m"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert session.default_cores() == 3
    assert session.default_driver_memory() == "2g"


def test_bucketed_join_has_no_exchange(spark, pages):
    """Two tables bucketed+sorted on the tile key must sort-merge join
    with ZERO shuffle exchanges — the pay-once layout for repeated
    co-located joins (B21)."""
    from s2geometry_spark.plans import explain as X
    small = pages.select("url", "cell_l4", "lat", "lng").limit(400)
    TL.write_bucketed(small, "pages_bucket_a", LEVEL, n_buckets=8)
    TL.write_bucketed(small.withColumnRenamed("url", "url_b")
                      .select("url_b", "cell_l4"),
                      "pages_bucket_b", LEVEL, n_buckets=8)
    a = spark.table("pages_bucket_a")
    b = spark.table("pages_bucket_b")
    j = a.join(b.hint("merge"), "cell_l4")
    plan = X.formatted_plan(j)
    assert "SortMergeJoin" in plan
    assert X.count_shuffles(plan) == 0, plan
    assert j.count() > 0


def test_observed_tile_histogram_metrics(spark, pages):
    hist, obs = TL.observed_tile_histogram(pages.limit(300), LEVEL)
    total = hist.agg(F.sum("n_rows")).collect()[0][0]
    m = obs.get
    assert m["rows_in"] == 300 == total
    assert m["tile_min"] <= m["tile_max"]


def test_pip_join_rejects_duplicate_region_ids(spark, pages):
    """Two regions sharing an id: the containment UDF dispatches by id,
    so one would be tested against the other's geometry. Every strategy
    (and streaming_pip_counts, which calls pip_join) must refuse."""
    from s2geometry_spark.operators.pip_join import pip_join
    from s2geometry_spark.regions import Cap, Rect
    regs = [Cap.from_latlng_radius(7, 10.0, 10.0, 20.0),
            Rect.from_degrees(7, -30.0, 30.0, 60.0, 120.0),
            Cap.from_latlng_radius(8, -40.0, -60.0, 10.0)]
    for strategy in ("equi", "range", "salted"):
        with pytest.raises(ValueError, match=r"duplicate region ids: \[7\]"):
            pip_join(pages, spark, regs, strategy=strategy, level=LEVEL)


def test_coverings_df_empty_catalog_and_empty_coverings(spark, pages):
    """No regions, or regions whose coverings are all empty, give a
    0-row `coverings` table with the full schema, and pip_join over an
    empty catalog matches nothing."""
    from s2geometry_spark.operators.pip_join import COVERINGS_SCHEMA, pip_join
    from s2geometry_spark.regions import Cap, Polygon
    empty_regs = [Cap.empty(region_id=50), Polygon(region_id=51)]
    for regs in ([], empty_regs):
        for kw in ({"uniform_level": 8}, {"max_cells": 64}):
            cov = coverings_df(spark, regs, **kw)
            assert cov.schema == COVERINGS_SCHEMA
            assert cov.count() == 0
    for strategy in ("equi", "range"):
        assert pip_join(pages, spark, [], strategy=strategy,
                        level=LEVEL).count() == 0


def test_coverings_df_equals_covering_rows(spark):
    """The Arrow-built `coverings` table holds exactly the covering_rows
    rows, under COVERINGS_SCHEMA with its non-nullable columns (the
    eqNullSafe join key in pip_join relies on that), with Arrow on and
    on the non-Arrow fallback."""
    from s2geometry_spark.coverer import covering_rows
    from s2geometry_spark.demo_regions import (demo_hull_polygon,
                                               demo_polyline,
                                               demo_region_union, tiny_cap)
    from s2geometry_spark.operators.pip_join import COVERINGS_SCHEMA
    regs = demo_regions() + [demo_polyline(), demo_region_union(),
                             demo_hull_polygon(), tiny_cap()]
    cases = []
    for kw in ({"uniform_level": 8}, {"max_cells": 64}):
        rows = [r for reg in regs for r in covering_rows(reg, **kw)]
        assert all(type(v) is (bool if k == "is_interior" else int)
                   for r in rows for k, v in r.items())
        cases.append((kw, sorted(tuple(r.values()) for r in rows)))
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            for kw, want in cases:
                cov = coverings_df(spark, regs, **kw)
                assert cov.schema == COVERINGS_SCHEMA
                assert sorted(tuple(r) for r in cov.collect()) == want
    finally:
        spark.conf.set(key, prior)


def test_dedup_job_fresh_resume_and_equivalence(spark, tmp_path):
    """The resumable dedup pipeline (jobs/dedup_job.py): a crash-
    bounded first run commits only some signature batches; the resume
    completes the rest and the final pair set equals the direct
    in-session minhash_lsh_pairs answer (table round-trip changes
    nothing). A third run is a no-op (all batches skipped, outputs
    already durable)."""
    from s2geometry_spark.io.table_io import ParquetTableIO
    from s2geometry_spark.jobs.dedup_job import run_dedup_job
    from s2geometry_spark.operators import dedup
    from s2geometry_spark.sources.pages import (documents_to_pages,
                                                load_documents)
    io = ParquetTableIO(str(tmp_path / "dedup_root"))
    sf = SF_DIR

    partial = run_dedup_job(spark, sf, io, max_batches_this_run=2)
    assert len(partial["committed"]) == 2 and partial["n_pairs"] == -1

    full = run_dedup_job(spark, sf, io)
    assert sorted(full["committed"] + full["skipped"]) == [0, 1, 2, 3]
    assert len(full["skipped"]) == 2

    docs = documents_to_pages(load_documents(spark, sf))
    direct = {(r["url_a"], r["url_b"])
              for r in dedup.minhash_lsh_pairs(docs, threshold=0.5)
              .collect()}
    via_job = {(r["url_a"], r["url_b"])
               for r in io.read(spark, "dedup_pairs").collect()}
    assert via_job == direct
    assert full["n_pairs"] == len(direct)

    # keep-list properties: every pair loses its greater side; the
    # cluster minimum always survives; keep + dropped partition urls
    kept = {r["url"] for r in io.read(spark, "dedup_keep").collect()}
    all_urls = {r["url"] for r in docs.select("url").collect()}
    for a, b in direct:
        assert b not in kept
        assert min(a, b) in kept or any(x < min(a, b) and (x, min(a, b))
                                        in direct for x in all_urls)
    assert full["n_kept"] + full["n_dropped"] == len(all_urls)

    rerun = run_dedup_job(spark, sf, io)
    assert rerun["committed"] == [] and len(rerun["skipped"]) == 4
    assert rerun["n_pairs"] == full["n_pairs"]
    assert rerun["n_kept"] == full["n_kept"]


def test_metrics_backfill_after_crash_gap(spark, tmp_path):
    """A crash between the data commit and the metrics commit leaves a
    committed snapshot without lineage metrics; missing_metrics must
    detect it and backfill_metrics must regenerate from the durable
    data (the append-order comment's contract)."""
    import os

    from pyspark.sql import functions as F

    from s2geometry_spark.io.table_io import ParquetTableIO
    io = ParquetTableIO(str(tmp_path / "root"))
    df = spark.range(100).withColumn("tile", F.col("id") % 7)
    sid = io.append(df, "t", lineage_col="tile")
    assert io.missing_metrics(spark, "t") == []

    # simulate the crash window: metrics manifest lost, data committed
    os.remove(str(tmp_path / "root" / "t@metrics" / "_snapshots.json"))
    assert io.missing_metrics(spark, "t") == [sid]

    filled = io.backfill_metrics(spark, "t", lineage_col="tile")
    assert filled == [sid]
    assert io.missing_metrics(spark, "t") == []
    m = io.metrics(spark, "t").filter(F.col("snapshot_id") == sid)
    assert m.agg(F.sum("n_rows")).collect()[0][0] == 100


def test_dedup_job_refuses_mismatched_resume(spark, tmp_path):
    """Resuming with different parameters against committed snapshots
    must fail loudly instead of silently returning stale results."""
    from s2geometry_spark.io.table_io import ParquetTableIO
    from s2geometry_spark.jobs.dedup_job import run_dedup_job
    io = ParquetTableIO(str(tmp_path / "root"))
    run_dedup_job(spark, SF_DIR, io, max_batches_this_run=1)
    with pytest.raises(ValueError, match="n_batches"):
        run_dedup_job(spark, SF_DIR, io, n_batches=8)
    full = run_dedup_job(spark, SF_DIR, io)
    assert full["n_pairs"] >= 0
    with pytest.raises(ValueError, match="threshold"):
        run_dedup_job(spark, SF_DIR, io, threshold=0.9)


# ---------------------------------------------------------------------------
# kNN ring enumeration boundedness (round-2 review: the driver-side
# BFS must stay O(1) cells per query regardless of radius)
# ---------------------------------------------------------------------------

def test_knn_enum_bounded_and_superset():
    import numpy as np

    from s2geometry_spark import kernels as K
    from s2geometry_spark.operators import knn

    # 1. cell count stays bounded through the full radius-doubling
    # schedule (1..2^14) at every plausible ring level
    cap = (2 * (knn.R_MAX_RING + 2) + 1) ** 2
    center30 = int(K.latlng_degrees_to_cell_id(
        np.array([37.77]), np.array([-122.42]))[0])
    for level in (4, 8, 12):
        c = int(K.parent(np.array([center30], dtype=np.uint64), level)[0])
        r = 1
        while r <= 2 ** 14:
            el, r_enum = knn._enum_params(level, r)
            cells = knn._ring_cells(
                int(K.parent(np.array([c], dtype=np.uint64), el)[0]), r_enum)
            n_sphere = 6 * 4 ** el
            assert len(cells) <= max(cap, 0) or len(cells) >= n_sphere, \
                (level, r, el, r_enum, len(cells))
            assert len(cells) <= cap + n_sphere  # absolute sanity
            if len(cells) < n_sphere:
                assert len(cells) <= cap, (level, r, len(cells))
            r *= 2

    # 2. superset: the coarse enumeration must cover the fine ring —
    # every level-L cell within Chebyshev r of the center has its
    # enum-level ancestor in the coarse set
    level, r = 10, 37  # forces d > 0 (r > R_MAX_RING)
    c = int(K.parent(np.array([center30], dtype=np.uint64), level)[0])
    fine = knn._ring_cells(c, r)
    el, r_enum = knn._enum_params(level, r)
    coarse = knn._ring_cells(
        int(K.parent(np.array([c], dtype=np.uint64), el)[0]), r_enum)
    fine_parents = {int(v) for v in K.parent(
        np.array(sorted(fine), dtype=np.uint64), el)}
    assert fine_parents.issubset(coarse), \
        f"{len(fine_parents - coarse)} fine-ring ancestors missing"


def test_knn_estimate_rows_bounded_sample(spark):
    """estimate_rows must land within the order of magnitude on a
    uniform input (it reads only sample_parts splits — r4 verdict:
    the exact count() it replaces was knn_join's one extra full scan
    at level=None) and shift choose_ring_level by at most one."""
    from s2geometry_spark.operators.knn import (choose_ring_level,
                                                estimate_rows)
    df = spark.range(10_000).repartition(8)
    est = estimate_rows(df, sample_parts=3)
    assert 5_000 <= est <= 20_000, est
    assert abs(choose_ring_level(est, 10)
               - choose_ring_level(10_000, 10)) <= 1
    assert estimate_rows(spark.range(0).repartition(2)) == 0


def test_knn_empty_query_list_returns_empty(spark, pages):
    """knn_join with no queries must return an empty, correctly-shaped
    result (a round-3 review caught an IndexError regression here)."""
    from s2geometry_spark.operators.knn import knn_join
    out = knn_join(pages, spark, [])
    assert out.columns == ["query_id", "url", "rank", "d2"]
    assert out.count() == 0


def test_vectorize_tiles_matches_driver_normalize(spark, pages):
    """Raster→vector: the distributed quartet-merge fixpoint must equal
    unions.normalize (the driver-side spec twin) on the same
    thresholded tile set, and the result must be a normalized union."""
    import numpy as np

    from s2geometry_spark import kernels as K
    from s2geometry_spark import unions
    from s2geometry_spark.functions import geo

    level = 3
    spark.catalog.clearCache()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    occ = (pages.groupBy(geo.parent_col(F.col("cell_id"), level)
                         .alias("cell"))
           .agg(F.count("*").alias("n")).filter(F.col("n") >= 1)
           .select("cell").collect())
    occ_ids = K.signed_to_uint64(
        np.array([r["cell"] for r in occ], dtype=np.int64))
    expect = unions.normalize(occ_ids)  # sorted UNSIGNED by contract

    got_rows = TL.vectorize_tiles(pages, level=level, min_rows=1).collect()
    got = np.sort(K.signed_to_uint64(
        np.array([r["cell"] for r in got_rows], dtype=np.int64)))
    assert np.array_equal(got, expect)
    # round checkpoints are released; only the result's backing cache
    # (and the module-scoped pages.cache) may remain
    leaked = set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before
    assert len(leaked) <= 2, f"{len(leaked)} cached RDDs survive"
    assert unions.is_normalized(got)
    # levels in the output match the ids' intrinsic levels
    by_cell = {r["cell"]: r["lvl"] for r in got_rows}
    lvls = K.level(got)
    for cid, lv in zip(got, lvls):
        assert by_cell[int(K.uint64_to_signed(
            np.array([cid], dtype=np.uint64))[0])] == int(lv)


def test_knn_adversarial_query_locations(spark, pages):
    """kNN at poles, the antimeridian, and cube-face corners must match
    a brute-force numpy oracle exactly (ranks and ids) — the ring
    expansion crosses faces and wraps at every one of these."""
    import math

    import numpy as np

    from s2geometry_spark import kernels as K
    from s2geometry_spark.operators.knn import knn_join

    queries = [
        {"query_id": 0, "lat": 89.999, "lng": 13.0, "k": 7},    # N pole
        {"query_id": 1, "lat": -89.999, "lng": -77.0, "k": 7},  # S pole
        {"query_id": 2, "lat": 0.0, "lng": 179.999, "k": 9},    # antimeridian
        {"query_id": 3, "lat": 45.0001, "lng": 44.9999, "k": 5},  # corner
        {"query_id": 4, "lat": -0.0001, "lng": -134.9999, "k": 5},
    ]
    got = {(r["query_id"], r["rank"]): r["url"]
           for r in knn_join(pages, spark, queries).collect()}

    rows = pages.select("url", "lat", "lng").collect()
    urls = np.array([r["url"] for r in rows])
    lat = np.radians(np.array([r["lat"] for r in rows]))
    lng = np.radians(np.array([r["lng"] for r in rows]))
    x, y, z = K.latlng_to_xyz(lat, lng)
    for q in queries:
        la, ln = math.radians(q["lat"]), math.radians(q["lng"])
        qx = math.cos(la) * math.cos(ln)
        qy = math.cos(la) * math.sin(ln)
        qz = math.sin(la)
        d2 = ((x - qx) * (x - qx) + (y - qy) * (y - qy)) + (z - qz) * (z - qz)
        order = sorted(range(len(urls)), key=lambda i: (d2[i], urls[i]))
        for rank in range(1, q["k"] + 1):
            assert got[(q["query_id"], rank)] == urls[order[rank - 1]], \
                (q["query_id"], rank)


# ---------------------------------------------------------------------------
# Within-distance self-join (operators/distjoin.py)
# ---------------------------------------------------------------------------

DIST_R = 0.05  # rad -> level 4 stencil


def _brute_pairs(pages, radius):
    """Independent numpy all-pairs twin."""
    import math

    import numpy as np

    from s2geometry_spark import kernels as K
    rows = pages.select("url", "lat", "lng").collect()
    urls = [r["url"] for r in rows]
    lat = np.radians(np.array([r["lat"] for r in rows]))
    lng = np.radians(np.array([r["lng"] for r in rows]))
    x, y, z = K.latlng_to_xyz(lat, lng)
    d2max = (2.0 * math.sin(radius / 2.0)) ** 2
    out = set()
    for i in range(len(urls)):
        d2 = ((x - x[i]) ** 2 + (y - y[i]) ** 2) + (z - z[i]) ** 2
        for j in np.nonzero(d2 <= d2max)[0]:
            if urls[i] < urls[j]:
                out.add((urls[i], urls[j]))
    return out, d2max


def test_distance_join_matches_brute_force(spark, pages):
    from s2geometry_spark.operators.distjoin import distance_join
    reg: list = []
    got = {(r["url_a"], r["url_b"])
           for r in distance_join(pages, DIST_R,
                                  cache_registry=reg).collect()}
    exp, _ = _brute_pairs(pages, DIST_R)
    assert got == exp and len(got) > 50
    while reg:
        reg.pop().unpersist()


def test_distance_join_exercises_cross_cell_stencil(spark, pages):
    """At least one qualifying pair must straddle two L4 cells — else
    the neighbor-stencil leg of the join is untested at this sf."""
    from s2geometry_spark import kernels as K
    from s2geometry_spark.operators.distjoin import distance_join
    reg: list = []
    pairs = distance_join(pages, DIST_R, cache_registry=reg).collect()
    cells = {r["url"]: int(K.parent(
        __import__("numpy").array([r["cell_id"]], dtype="int64")
        .view("uint64"), 4)[0])
        for r in pages.select("url", "cell_id").collect()}
    assert any(cells[r["url_a"]] != cells[r["url_b"]] for r in pairs)
    while reg:
        reg.pop().unpersist()


def test_distance_join_threshold_gap(spark, pages):
    """Gate safety (FMA ulp): no sf0.01 pair's d2 sits within 1e-12 of
    the gate threshold, so a last-ulp contraction difference between
    engines cannot flip pair membership."""
    import numpy as np

    from s2geometry_spark import kernels as K
    rows = pages.select("lat", "lng").collect()
    lat = np.radians(np.array([r["lat"] for r in rows]))
    lng = np.radians(np.array([r["lng"] for r in rows]))
    x, y, z = K.latlng_to_xyz(lat, lng)
    import math
    d2max = (2.0 * math.sin(DIST_R / 2.0)) ** 2
    gaps = []
    for i in range(len(lat)):
        d2 = ((x - x[i]) ** 2 + (y - y[i]) ** 2) + (z - z[i]) ** 2
        d2[i] = np.inf
        gaps.append(np.min(np.abs(d2 - d2max)))
    assert min(gaps) > 1e-12


def test_distance_join_count_profile(spark, pages):
    from s2geometry_spark.operators.distjoin import (distance_join,
                                                     distance_join_count)
    reg: list = []
    n_pairs = distance_join(pages, DIST_R, cache_registry=reg).count()
    counts = distance_join_count(pages, DIST_R, cache_registry=reg).collect()
    assert sum(r["n_within"] for r in counts) == 2 * n_pairs
    assert all(r["n_within"] >= 1 for r in counts)
    while reg:
        reg.pop().unpersist()


def test_distance_join_radius_guard(spark, pages):
    from s2geometry_spark.operators.distjoin import distance_join
    with pytest.raises(ValueError):
        distance_join(pages, 2.0)


# ---------------------------------------------------------------------------
# region x region candidate join (pip_join.region_overlap_candidates)
# ---------------------------------------------------------------------------

def test_region_overlap_superset_of_shared_point_witnesses(spark):
    """Any two regions that CONTAIN a common page (per the exact PIP
    join) genuinely intersect — every such pair must appear in the
    covering-based candidate set (the may-intersect superset
    guarantee)."""
    from s2geometry_spark.demo_regions import demo_regions
    from s2geometry_spark.operators.pip_join import (
        coverings_df, pip_join, region_overlap_candidates)
    from s2geometry_spark.sources.pages import load_pages

    pages = load_pages(spark, "/root/testdata/sf0.01")
    hits = pip_join(pages, spark, demo_regions(), strategy="equi",
                    level=4).select("url", "region_id")
    h = hits.alias("x").join(hits.alias("y"), "url") \
        .filter(F.col("x.region_id") < F.col("y.region_id")) \
        .select(F.col("x.region_id").alias("region_a"),
                F.col("y.region_id").alias("region_b")).distinct()
    witnessed = {(r["region_a"], r["region_b"]) for r in h.collect()}

    cov = coverings_df(spark, demo_regions(), max_cells=64)
    cand = {(r["region_a"], r["region_b"])
            for r in region_overlap_candidates(cov, cov).collect()}
    assert witnessed, "fixture regions share no page — test is vacuous"
    assert witnessed <= cand


def test_region_overlap_broadcast_plan(spark):
    from s2geometry_spark.demo_regions import demo_regions
    from s2geometry_spark.operators.pip_join import (
        coverings_df, region_overlap_candidates)
    from s2geometry_spark.plans import explain as X
    cov = coverings_df(spark, demo_regions(), max_cells=64)
    plan = X.formatted_plan(region_overlap_candidates(cov, cov))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_grouped_quantiles_disc_matches_sorted_indexing(spark):
    """quantile_disc semantics pinned against direct sorted-list
    indexing: value at 1-based rank ceil(q*n), duplicates included."""
    import math

    from s2geometry_spark.operators import tiles as TL
    rows = [("a", v) for v in [5, 1, 3, 3, 9, 7, 1]] \
        + [("b", v) for v in [10]] \
        + [("c", v) for v in [2, 2, 2, 8]]
    df = spark.createDataFrame(rows, "grp string, v long")
    qs = ((1, 4), (1, 2), (9, 10), (1, 1))
    got = {r["grp"]: r.asDict() for r in
           TL.grouped_quantiles_disc(df, "grp", "v", qs).collect()}
    data = {}
    for g, v in rows:
        data.setdefault(g, []).append(v)
    for g, vals in data.items():
        s = sorted(vals)
        assert got[g]["n_rows"] == len(s)
        for num, den in qs:
            rank = math.ceil(len(s) * num / den)
            assert got[g][f"q{num}_{den}"] == s[rank - 1], (g, num, den)


def test_region_overlap_two_distinct_catalogs(spark):
    """Cross-catalog mode must keep pairs regardless of id ordering:
    splitting the demo coverings into two id-disjoint 'catalogs' and
    joining them must recover exactly the self-join pairs that span
    the split (review-finding regression: the `<` dedup filter dropped
    every pair whose a-side id was >= the b-side id)."""
    from s2geometry_spark.demo_regions import demo_regions
    from s2geometry_spark.operators.pip_join import (
        coverings_df, region_overlap_candidates)
    cov = coverings_df(spark, demo_regions(), max_cells=64)
    full = {(r["region_a"], r["region_b"])
            for r in region_overlap_candidates(cov, cov).collect()}
    # catalog A = high ids, catalog B = low ids — adversarial ordering
    a = cov.filter(F.col("region_id") >= 5)
    b = cov.filter(F.col("region_id") < 5)
    got = {(r["region_a"], r["region_b"]) for r in
           region_overlap_candidates(a, b, same_collection=False)
           .collect()}
    # spanning pairs from the self-join truth, re-oriented a-side-first
    expect = {(hi, lo) if hi >= 5 else (lo, hi)
              for (lo, hi) in full
              if (lo >= 5) != (hi >= 5)}
    assert got == expect and got
