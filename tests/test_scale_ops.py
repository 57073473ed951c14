"""Tests for the scale layer: tile histograms, AQE's skew split of a
hot tile, tile partitioned writes, snapshot-committed TableIO, and the
resumable geocode job (SURVEY.md §7 Stage 6)."""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys
import time
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.io.table_io import IcebergTableIO, ParquetTableIO
from s2geometry_spark.jobs.geocode_job import (BATCH_COL, keyed_pages,
                                               package_pyfiles,
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


def test_hot_tiles_above_threshold(spark, pages):
    hist = {r["tile"]: r["n_rows"]
            for r in TL.tile_histogram(pages, LEVEL).collect()}
    thresh = sorted(hist.values())[len(hist) // 2]  # median → some hot
    hot = TL.hot_tiles(pages, LEVEL, thresh)
    assert hot == sorted(t for t, n in hist.items() if n > thresh)


def test_pip_salted_strategy_matches_equi(spark, pages):
    """The shuffle PIP behind the pip_salted_shuffle gate (shuffle-hash
    covering join + exact containment filter) must be row-identical to
    the broadcast equi strategy — the shuffle is a physical choice,
    never a semantic one. The old "salted" name is no alias."""
    from s2geometry_spark.operators.pip_join import pip_join
    with pytest.raises(ValueError, match="salted"):
        pip_join(pages, spark, demo_regions(), strategy="salted")
    shuffled = pip_join(pages, spark, demo_regions(), strategy="shuffle",
                        level=LEVEL).select("url", "region_id")
    equi = pip_join(pages, spark, demo_regions(), strategy="equi",
                    level=LEVEL).select("url", "region_id")
    assert shuffled.exceptAll(equi).count() == 0
    assert equi.exceptAll(shuffled).count() == 0


def test_shuffle_pip_join_splits_a_hot_tile(spark):
    """The shuffle strategy's skew guard is AQE's skew-join split. A
    planted hot tile (40k pages at the centre of region 1, written by 8
    map tasks) makes one oversized shuffle partition; with the skew
    threshold and advisory size lowered, the final adaptive plan splits
    it (a skewed ShuffledHashJoin read through AQEShuffleRead) and the
    rows equal the broadcast equi strategy's. The url rides through the
    join, as in pip_join's real output: pruned to one narrow column the
    hot partition stays under the threshold."""
    from s2geometry_spark.functions import geo
    from s2geometry_spark.operators.pip_join import pip_join
    from s2geometry_spark.plans import explain as X
    hot = spark.range(0, 40_000, 1, 8).select(
        F.format_string("https://hot.example/page/%08d", "id").alias("url"),
        (F.lit(48.1) + (F.col("id") % 997) * 1e-6).alias("lat"),
        F.lit(11.3).alias("lng"))
    pages = (load_pages(spark, SF_DIR).select("url", "lat", "lng")
             .unionByName(hot)
             .withColumn("cell_id", geo.cell_id_udf(F.col("lat"),
                                                   F.col("lng"))))
    equi = pip_join(pages, spark, demo_regions(), strategy="equi",
                    level=LEVEL).select("url", "region_id")
    confs = {"spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
             "256k",
             "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k"}
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        out = pip_join(pages, spark, demo_regions(), strategy="shuffle",
                       level=LEVEL).select("url", "region_id")
        rows = sorted(out.collect())
        plan = X.formatted_plan(out, "simple")
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "isFinalPlan=true" in plan, plan
    assert "ShuffledHashJoin" in plan and "skew=true" in plan, plan
    assert "skewed" in plan, plan  # AQEShuffleRead ... skewed
    assert rows == sorted(equi.collect())
    assert sum(r["region_id"] == 1 for r in rows) >= 40_000


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


def _file_lineage(spark, snap_dir: str, lineage_col: str) -> list:
    """(rows, min, max) of `lineage_col` per data file of a snapshot,
    computed by Spark, in sorted relative-path order (file_split)."""
    per = (spark.read.parquet(snap_dir)
           .groupBy(F.input_file_name().alias("f"))
           .agg(F.count("*").alias("n"), F.min(lineage_col).alias("lo"),
                F.max(lineage_col).alias("hi")).collect())
    rel = {os.path.relpath(unquote(urlparse(r["f"]).path), snap_dir): r
           for r in per}
    return [(rel[k]["n"], rel[k]["lo"], rel[k]["hi"]) for k in sorted(rel)]


@pytest.mark.parametrize("partition_by", [None, "tile"])
def test_table_io_lineage_rows_from_footers(spark, tmp_path, partition_by):
    """Per-file lineage rows, for a lineage column that is the
    partition column (bounds from the k=v dir) and for one that is not
    (bounds from the row-group statistics): n_rows sums to the rows
    written, and each file's [key_min, key_max] holds every lineage
    value in that file."""
    io = ParquetTableIO(str(tmp_path))
    # descending ids within each file, in row groups of ~100 rows: the
    # file's bounds must span all its row groups, not the first or last
    df = (spark.range(0, 1000, 1, 4).withColumn("tile", F.col("id") % 7)
          .repartition(3, "tile" if partition_by else "id")
          .sortWithinPartitions(F.col("id").desc()))
    lineage = partition_by or "id"
    spark.conf.set("parquet.block.size", "1024")
    try:
        sid = io.append(df, "t", partition_by=partition_by,
                        lineage_col=lineage)
    finally:
        spark.conf.unset("parquet.block.size")
    snap = io.history("t")[0]["dir"]
    assert any(pq.read_metadata(os.path.join(d, f)).num_row_groups > 1
               for d, _, fs in os.walk(snap) for f in fs
               if f.endswith(".parquet"))
    m = io.metrics(spark, "t")
    assert dict(m.dtypes)["key_min"] == dict(m.dtypes)["key_max"] == "bigint"
    rows = sorted(m.filter(F.col("snapshot_id") == sid).collect(),
                  key=lambda r: r["file_split"])
    assert sum(r["n_rows"] for r in rows) == 1000
    assert {r["table"] for r in rows} == {"t"}
    files = _file_lineage(spark, snap, lineage)
    assert [r["file_split"] for r in rows] == list(range(len(files)))
    for r, (n, lo, hi) in zip(rows, files):
        assert r["n_rows"] == n
        assert r["key_min"] <= lo and hi <= r["key_max"]
        if partition_by:
            assert r["key_min"] == r["key_max"] == lo == hi


def test_table_io_rejects_non_integer_lineage_column(spark, tmp_path):
    """Lineage bounds are int64: a string lineage column is refused
    before anything is committed, as a column and as a partition dir."""
    io = ParquetTableIO(str(tmp_path))
    df = spark.range(10).withColumn("k", F.concat(F.lit("x"), F.col("id")))
    for partition_by in (None, "k"):
        with pytest.raises(ValueError, match="integer"):
            io.append(df, "t", partition_by=partition_by, lineage_col="k")
    assert io.history("t") == [] and io.history("t@metrics") == []


def test_table_io_commit_of_prewritten_files_starts_no_spark_job(
        spark, tmp_path):
    """Committing finished files renames them into the snapshot and
    reads the lineage from their footers: no Spark job, for the data
    commit and for its metrics commit. A dir outside the table is
    refused."""
    io = ParquetTableIO(str(tmp_path))
    files = str(tmp_path / "t" / "_batch-out")
    spark.range(100).withColumn("tile", F.col("id") % 5) \
        .write.partitionBy("tile").parquet(files)
    sc = spark.sparkContext
    sc.setJobGroup("table_io_prewritten_commit", "rename commit")
    try:
        sid = io.append(files, "t", partition_by="tile", lineage_col="tile",
                        meta={"batch_key": [0]})
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup(
        "table_io_prewritten_commit") == []
    assert not os.path.exists(files)
    assert io.done_keys("t") == {0}
    assert io.read(spark, "t").count() == 100
    n = io.metrics(spark, "t").filter(F.col("snapshot_id") == sid) \
        .agg(F.sum("n_rows")).first()[0]
    assert n == 100
    outside = str(tmp_path / "elsewhere")
    spark.range(3).write.parquet(outside)
    with pytest.raises(ValueError, match="not a directory under"):
        io.append(outside, "t")
    assert len(io.history("t")) == 1


def test_iceberg_table_io_accepts_parquet_table_io_arguments():
    """IcebergTableIO is the documented swap point: every argument the
    jobs pass to ParquetTableIO (lineage_col included) must be one it
    accepts. Checked on the signatures: the class cannot be built
    without the Iceberg jar."""
    for name in ("append", "read", "done_keys"):
        parquet = inspect.signature(getattr(ParquetTableIO, name)).parameters
        iceberg = inspect.signature(getattr(IcebergTableIO, name)).parameters
        assert set(parquet) <= set(iceberg), name


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


# one appender process: signal ready, wait for the shared go file, then
# commit 100 manifest entries to table "t" as fast as it can
_COMMITTER = """
import os, sys, time
from s2geometry_spark.io.table_io import ParquetTableIO
root, tag = sys.argv[1], sys.argv[2]
open(os.path.join(root, "ready-" + tag), "w").close()
while not os.path.exists(os.path.join(root, "go")):
    time.sleep(0.001)
io = ParquetTableIO(root)
for i in range(100):
    io._commit("t", {"snapshot_id": f"{tag}-{i}"})
"""


def test_table_io_concurrent_commits_keep_every_snapshot(tmp_path):
    """Two processes appending to one table at once must not lose
    manifest entries: each commit is a read-modify-replace of
    _snapshots.json, so without the commit lock the later replace
    drops whatever the other process committed in between."""
    (tmp_path / "t").mkdir()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [repo, os.environ.get("PYTHONPATH", "")]))
    procs = [subprocess.Popen([sys.executable, "-c", _COMMITTER,
                               str(tmp_path), tag], env=env)
             for tag in "ab"]
    deadline = time.time() + 120
    while not all((tmp_path / f"ready-{t}").exists() for t in "ab"):
        assert all(p.poll() is None for p in procs)
        assert time.time() < deadline
        time.sleep(0.01)
    (tmp_path / "go").touch()
    assert [p.wait(timeout=120) for p in procs] == [0, 0]
    ids = [s["snapshot_id"]
           for s in ParquetTableIO(str(tmp_path)).history("t")]
    assert sorted(ids) == sorted(f"{t}-{i}" for t in "ab"
                                 for i in range(100))


def test_table_io_truncated_manifest_raises(tmp_path):
    """A torn manifest is an error, never an empty table: reading it as
    [] would make a resume redo every committed batch."""
    io = ParquetTableIO(str(tmp_path))
    (tmp_path / "t").mkdir()
    for i in range(3):
        io._commit("t", {"snapshot_id": str(i)})
    path = tmp_path / "t" / "_snapshots.json"
    body = path.read_bytes()
    path.write_bytes(body[:len(body) // 2])
    with pytest.raises(json.JSONDecodeError):
        io.history("t")


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


JOB_TABLE = "pages_tiled"
JOB_HOT = 2  # sf0.01 has level-4 tiles of 3-6 rows: some hot, some not


def _staging_dirs(io: ParquetTableIO) -> list[str]:
    return [d for d in os.listdir(os.path.join(io.root, JOB_TABLE))
            if d.startswith("_staging-")]


def _uncommitted_dirs(io: ParquetTableIO) -> list[str]:
    """Dirs under the table that no manifest entry names: the staging
    dir, its batch output, or a pending write left behind."""
    table_dir = os.path.join(io.root, JOB_TABLE)
    committed = {os.path.basename(s["dir"]) for s in io.history(JOB_TABLE)}
    return [d for d in os.listdir(table_dir)
            if os.path.isdir(os.path.join(table_dir, d))
            and d not in committed]


def _same_rows(io_a: ParquetTableIO, io_b: ParquetTableIO, spark) -> bool:
    a = io_a.read(spark, JOB_TABLE).select("url", "cell_id")
    b = io_b.read(spark, JOB_TABLE).select("url", "cell_id")
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.fixture(scope="module")
def one_shot(spark, tmp_path_factory):
    """One uninterrupted job run: the reference for the resume tests."""
    io = ParquetTableIO(str(tmp_path_factory.mktemp("one_shot")))
    return io, run_geocode_job(spark, SF_DIR, io, hot_threshold=JOB_HOT)


def test_geocode_job_removes_staging_after_success(one_shot):
    io, result = one_shot
    assert result["committed"] == list(range(8)), result
    assert result["hot_tiles"], "threshold should make some tiles hot"
    assert _staging_dirs(io) == []


def test_geocode_job_crash_keeps_prefix_and_removes_staging(
        spark, tmp_path, monkeypatch, one_shot):
    """A failure on the third batch's commit leaves batches 0 and 1
    committed and no staging dir; the resume run commits the rest with
    the same rows and the same hot-tile list as a one-shot run."""
    io = ParquetTableIO(str(tmp_path))
    real_append = io.append

    def append(df, table, **kw):
        if (kw.get("meta") or {}).get("batch_key") == [2]:
            raise RuntimeError("injected failure on the third batch")
        return real_append(df, table, **kw)

    monkeypatch.setattr(io, "append", append)
    with pytest.raises(RuntimeError, match="third batch"):
        run_geocode_job(spark, SF_DIR, io, hot_threshold=JOB_HOT)
    monkeypatch.undo()
    assert io.done_keys(JOB_TABLE) == {0, 1}
    assert _staging_dirs(io) == []
    # the batch output the failed run had not committed is gone too
    assert _uncommitted_dirs(io) == []

    r = run_geocode_job(spark, SF_DIR, io, hot_threshold=JOB_HOT)
    assert r["committed"] == [2, 3, 4, 5, 6, 7]
    assert r["skipped"] == [0, 1]
    assert _staging_dirs(io) == []
    io_full, full = one_shot
    assert _same_rows(io, io_full, spark)
    assert r["hot_tiles"] == full["hot_tiles"]
    assert [s["meta"]["hot_tiles"] for s in io.history(JOB_TABLE)] \
        == [s["meta"]["hot_tiles"] for s in io_full.history(JOB_TABLE)]


def test_geocode_job_skipped_lists_only_batches_before_the_break(
        spark, tmp_path, one_shot):
    """`skipped` lists the done batches the loop passed: a done batch
    after the `max_batches_this_run` break point is not in it."""
    io = ParquetTableIO(str(tmp_path))
    io_full, full = one_shot
    tcol = TL.tile_col(LEVEL)
    io.append(keyed_pages(spark, SF_DIR).filter(F.col(BATCH_COL) == 6)
              .drop(BATCH_COL), JOB_TABLE, partition_by=tcol,
              lineage_col=tcol,
              meta={"batch_key": [6], "sf_dir": SF_DIR,
                    "hot_tiles": full["hot_tiles"]})
    r1 = run_geocode_job(spark, SF_DIR, io, hot_threshold=JOB_HOT,
                         max_batches_this_run=2)
    assert r1 == {"committed": [0, 1], "skipped": [],
                  "hot_tiles": full["hot_tiles"]}
    r2 = run_geocode_job(spark, SF_DIR, io, hot_threshold=JOB_HOT)
    assert r2 == {"committed": [2, 3, 4, 5, 7], "skipped": [0, 1, 6],
                  "hot_tiles": full["hot_tiles"]}
    assert _same_rows(io, io_full, spark)


def test_geocode_job_empty_input(spark, tmp_path):
    """A 0-row input commits 8 empty snapshots (an empty write leaves
    no batch dirs: each is made before its commit)."""
    sf_dir = str(tmp_path / "sf_empty")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(0) \
        .write.parquet(f"{sf_dir}/documents.parquet")
    io = ParquetTableIO(str(tmp_path / "out"))
    r = run_geocode_job(spark, sf_dir, io)
    assert r == {"committed": list(range(8)), "skipped": [],
                 "hot_tiles": []}
    assert len(io.history(JOB_TABLE)) == 8
    assert _staging_dirs(io) == []


def test_geocode_job_hot_tiles_from_footers_match_histogram(spark,
                                                           tmp_path):
    """The hot list counted from the written files' footers equals the
    histogram's over the same keyed pages: at threshold 0 (every tile),
    at JOB_HOT, and at the largest tile's count (no tile exceeds it)."""
    keyed = keyed_pages(spark, SF_DIR)
    largest = max(r["n_rows"]
                  for r in TL.tile_histogram(keyed, LEVEL).collect())
    for thr in (0, JOB_HOT, largest):
        io = ParquetTableIO(str(tmp_path / f"thr{thr}"))
        r = run_geocode_job(spark, SF_DIR, io, hot_threshold=thr)
        assert r["hot_tiles"] == TL.hot_tiles(keyed, LEVEL, thr), thr
    assert r["hot_tiles"] == []


def _files_per_tile(io: ParquetTableIO) -> list[int]:
    prefix = f"{TL.tile_col(LEVEL)}="
    return [sum(f.endswith(".parquet")
                for f in os.listdir(os.path.join(snap["dir"], d)))
            for snap in io.history(JOB_TABLE)
            for d in os.listdir(snap["dir"]) if d.startswith(prefix)]


def test_geocode_job_rebalance_splits_a_tile_over_files(spark, tmp_path,
                                                        one_shot):
    """The write's skew guard is AQE's rebalance split. Over an input
    of 8 files, the rebalance gathers each tile into one file at the
    default advisory partition size; at 2 KiB some tile is split over
    more than one task (more than one file in its tile dir). Both runs
    commit the one-shot run's rows. A single-split input cannot show
    the split: AQE does not split what one map task wrote."""
    sf_dir = str(tmp_path / "sf_split")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(8) \
        .write.parquet(f"{sf_dir}/documents.parquet")
    io_whole = ParquetTableIO(str(tmp_path / "whole"))
    run_geocode_job(spark, sf_dir, io_whole, hot_threshold=JOB_HOT)
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "2k")
    try:
        io_split = ParquetTableIO(str(tmp_path / "split"))
        r = run_geocode_job(spark, sf_dir, io_split, hot_threshold=JOB_HOT)
    finally:
        spark.conf.set(key, old)
    assert r["committed"] == list(range(8)), r
    assert max(_files_per_tile(io_whole)) == 1
    assert max(_files_per_tile(io_split)) > 1
    io_full, full = one_shot
    assert _same_rows(io_whole, io_full, spark)
    assert _same_rows(io_split, io_full, spark)
    assert r["hot_tiles"] == full["hot_tiles"]


def test_package_pyfiles(tmp_path):
    """The --py-files zip holds the package's sources and is importable
    on its own: the job module imports from it in a fresh interpreter
    whose path holds the zip and not the repo."""
    dest = str(tmp_path / "pkg.zip")
    out = package_pyfiles(dest)
    import zipfile
    names = zipfile.ZipFile(out).namelist()
    assert "s2geometry_spark/kernels.py" in names
    assert "s2geometry_spark/jobs/geocode_job.py" in names
    assert not any("__pycache__" in n for n in names)
    probe = ("import s2geometry_spark.jobs.geocode_job as m; "
             "print(m.__file__)")
    env = {**os.environ, "PYTHONPATH": out}
    res = subprocess.run([sys.executable, "-c", probe], cwd=str(tmp_path),
                         env=env, capture_output=True, text=True,
                         timeout=120)
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == os.path.join(
        out, "s2geometry_spark", "jobs", "geocode_job.py")


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
    for strategy in ("equi", "range", "shuffle"):
        with pytest.raises(ValueError, match=r"duplicate region ids: \[7\]"):
            pip_join(pages, spark, regs, strategy=strategy, level=LEVEL)


def test_coverings_df_empty_catalog_and_empty_coverings(spark, pages):
    """No regions, or regions whose coverings are all empty, give a
    0-row `coverings` table with the full schema, and pip_join over
    either (a covering with no level) matches nothing."""
    from s2geometry_spark.operators.pip_join import COVERINGS_SCHEMA, pip_join
    from s2geometry_spark.regions import Cap, Polygon
    empty_regs = [Cap.empty(region_id=50), Polygon(region_id=51)]
    for regs in ([], empty_regs):
        for kw in ({"uniform_level": 8}, {"max_cells": 64}):
            cov = coverings_df(spark, regs, **kw)
            assert cov.schema == COVERINGS_SCHEMA
            assert cov.count() == 0
    for regs in ([], empty_regs):
        for strategy in ("equi", "range"):
            assert pip_join(pages, spark, regs, strategy=strategy,
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
# kNN join (operators/knn.py)
# ---------------------------------------------------------------------------

def test_knn_empty_query_list_returns_empty(spark, pages):
    """knn_join with no queries must return an empty, correctly-shaped
    result (a round-3 review caught an IndexError regression here)."""
    from s2geometry_spark.operators.knn import knn_join
    out = knn_join(pages, spark, [])
    assert out.columns == ["query_id", "url", "rank", "d2"]
    assert out.count() == 0


def test_knn_raising_call_releases_pages_projection(spark, pages):
    """A raising knn_join must leave the session's CacheManager as it
    found it."""
    from s2geometry_spark.operators import knn
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    with pytest.raises(KeyError):
        knn.knn_join(pages, spark, [{"query_id": 0, "lng": 10.0}])
    assert cm.numCachedEntries() == before


def test_knn_builds_without_collect(spark, pages):
    """Building the kNN frame runs no Spark job, so nothing is collected
    on the driver; its one pass, run later, still finds a neighbour at a
    tiny distance."""
    from s2geometry_spark.operators.knn import knn_join
    p = pages.select("lat", "lng").orderBy("url").first()
    # just off a page point: the nearest page is at a tiny, non-zero
    # distance
    q = {"query_id": 0, "lat": p["lat"] + 1e-6, "lng": p["lng"], "k": 1}
    sc = spark.sparkContext
    group = f"knn-build-{time.monotonic_ns()}"
    sc.setJobGroup(group, "knn_join build")
    try:
        out = knn_join(pages, spark, [q])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["rank"] == 1
    assert 0.0 < rows[0]["d2"] < 1e-12


def test_knn_collect_persists_nothing(spark):
    """A collected kNN result pins no RDD and adds no cache entry."""
    from s2geometry_spark.operators.knn import demo_knn_queries, knn_join
    pages = load_pages(spark, SF_DIR)
    jsc = spark.sparkContext._jsc
    cm = spark._jsparkSession.sharedState().cacheManager()
    rdds, entries = set(jsc.getPersistentRDDs().keys()), \
        cm.numCachedEntries()
    assert knn_join(pages, spark, demo_knn_queries()).collect()
    assert set(jsc.getPersistentRDDs().keys()) == rdds
    assert cm.numCachedEntries() == entries


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
