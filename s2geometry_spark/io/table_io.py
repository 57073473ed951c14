"""Snapshot-committed table IO with per-partition lineage + metrics —
the resumable-checkpoint layer (north_rule: "resumable from checkpoint
with per-partition lineage + metrics ... any stage resumes from the
last committed snapshot").

Two backends behind one interface (SURVEY.md §7 hard-part 4):

* ``iceberg`` — the real thing at deploy time: ``df.writeTo(tbl)
  .append()``, snapshot ids from the table history, identity partition
  spec on the tile column. Requires the iceberg-spark-runtime jar
  (absent in this sandbox), so it is code-pathed but not exercisable
  here; every call site goes through this module so the swap is a
  one-line backend choice.

* ``parquet`` — sandbox/test backend with the SAME semantics: each
  commit writes its files under ``<table>/snap-<id>/`` and then
  atomically registers the snapshot in ``<table>/_snapshots.json``
  (write-temp + os.replace — readers never observe a half-written
  manifest; concurrent appenders serialize on an flock). Uncommitted
  data directories are invisible to readers, so a killed job resumes
  cleanly: re-reading the manifest yields exactly the committed prefix.

Lineage/metrics: every commit records, per Spark task partition, the
row count and min/max of the declared lineage column (the tile id),
into ``<table>/_metrics`` — itself snapshot-committed. ``done_keys``
answers "which work units are already durable?" for resume.
"""

from __future__ import annotations

import fcntl
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _has_parquet(root: str) -> bool:
    for _dirpath, _dirs, files in os.walk(root):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


class ParquetTableIO:
    """Parquet + JSON-manifest backend (Iceberg-semantics emulation)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest -----------------------------------------------------------

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_snapshots.json")

    def history(self, table: str) -> list[dict]:
        """Committed snapshots, oldest first (Iceberg: tbl.history())."""
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return json.load(f)["snapshots"]

    def _commit(self, table: str, entry: dict) -> None:
        path = self._manifest_path(table)
        # Appenders serialize on <table>/_snapshots.lock across the
        # read-modify-replace: without it two concurrent commits read
        # the same manifest and the later replace drops the earlier
        # entry. Readers stay lock-free — os.replace is atomic.
        lock_path = os.path.join(os.path.dirname(path), "_snapshots.lock")
        with open(lock_path, "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            snaps = self.history(table)
            snaps.append(entry)
            tmp = f"{path}.tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump({"snapshots": snaps}, f, indent=1)
            os.replace(tmp, path)  # atomic on POSIX — commit point

    # -- write --------------------------------------------------------------

    def append(self, df: DataFrame, table: str,
               partition_by: str | None = None,
               lineage_col: str | None = None,
               meta: dict | None = None) -> str:
        """Write df as one new snapshot; returns the snapshot id.

        The data write happens BEFORE the manifest commit: a crash
        between the two leaves an orphan snap dir that no reader sees
        (and that a retry simply ignores) — same contract as an
        Iceberg append that never reaches metadata swap.
        """
        snap_id = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self.root, table, f"snap-{snap_id}")
        writer = df.write.mode("error")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(data_dir)

        self._commit(table, {
            "snapshot_id": snap_id,
            "dir": data_dir,
            "partition_by": partition_by,
            "meta": meta or {},
            "ts_ms": int(time.time() * 1000),
        })

        # Metrics commit AFTER the data commit: the reverse order would
        # leave durable metrics referencing a snapshot_id that was
        # never committed (unfaithful record). The cost of this order
        # is a window where a crash leaves a committed snapshot without
        # its metrics row; since resume skips committed batches, that
        # gap does NOT self-heal on retry — `missing_metrics` detects
        # it and `backfill_metrics` regenerates the rows from the
        # durable data (exercised in tests/test_scale_ops.py).
        if lineage_col is not None and _has_parquet(data_dir):
            self.append(
                self._metrics_rows(df.sparkSession, data_dir, lineage_col,
                                   snap_id, table),
                f"{table}@metrics")
        return snap_id

    def _metrics_rows(self, spark: SparkSession, data_dir: str,
                      lineage_col: str, snap_id: str,
                      table: str) -> DataFrame:
        out = spark.read.parquet(data_dir)
        return (out.groupBy(F.spark_partition_id().alias("file_split"))
                .agg(F.count("*").alias("n_rows"),
                     F.min(lineage_col).alias("key_min"),
                     F.max(lineage_col).alias("key_max"))
                .withColumn("snapshot_id", F.lit(snap_id))
                .withColumn("table", F.lit(table)))

    def missing_metrics(self, spark: SparkSession, table: str) -> list[str]:
        """snapshot_ids committed in `table` that have no metrics rows
        (the crash-between-commits gap)."""
        committed = [s["snapshot_id"] for s in self.history(table)
                     if _has_parquet(s["dir"])]
        try:
            have = {r["snapshot_id"] for r in
                    self.metrics(spark, table)
                    .select("snapshot_id").distinct().collect()}
        except FileNotFoundError:
            have = set()
        return [sid for sid in committed if sid not in have]

    def backfill_metrics(self, spark: SparkSession, table: str,
                         lineage_col: str) -> list[str]:
        """Regenerate metrics for committed snapshots that lack them —
        the data is durable, so the rows are recomputable; returns the
        backfilled snapshot ids. Run after crash recovery (or on a
        schedule) to restore the per-partition lineage contract."""
        filled = []
        missing = set(self.missing_metrics(spark, table))
        for s in self.history(table):
            sid = s["snapshot_id"]
            if sid not in missing:
                continue
            self.append(
                self._metrics_rows(spark, s["dir"], lineage_col, sid,
                                   table),
                f"{table}@metrics", meta={"backfilled": True})
            filled.append(sid)
        return filled

    # -- read ---------------------------------------------------------------

    def read(self, spark: SparkSession, table: str,
             as_of: str | None = None) -> DataFrame:
        """Union of all committed snapshots (optionally time-travel to
        snapshot id `as_of`, inclusive — Iceberg VERSION AS OF)."""
        snaps = self.history(table)
        if as_of is not None:
            keep = []
            for s in snaps:
                keep.append(s)
                if s["snapshot_id"] == as_of:
                    break
            snaps = keep
        if not snaps:
            raise FileNotFoundError(f"table {table!r} has no snapshots")
        # an empty-input commit writes a dir with no part files (still a
        # valid snapshot — e.g. a work batch that matched zero rows);
        # schema inference would fail on it, so skip data-less dirs
        dirs = [s["dir"] for s in snaps if _has_parquet(s["dir"])]
        if not dirs:
            raise FileNotFoundError(f"table {table!r} has only empty "
                                    "snapshots")
        # one read per snapshot dir, then union: partition-column
        # directory inference is per-root, and snapshot dirs are not a
        # k=v hierarchy, so a multi-path read would mis-infer.
        dfs = [spark.read.parquet(d) for d in dirs]
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        return out

    def metrics(self, spark: SparkSession, table: str) -> DataFrame:
        return self.read(spark, f"{table}@metrics")

    # -- resume -------------------------------------------------------------

    def done_keys(self, table: str, key: str = "batch_key") -> set:
        """Work-unit keys already durable in committed snapshots —
        driven from manifest metadata (no Spark needed on the resume
        decision path)."""
        out: set = set()
        for s in self.history(table):
            out.update(s["meta"].get(key, []))
        return out


class IcebergTableIO:
    """Deploy-time backend: the same interface over real Iceberg
    tables. Requires iceberg-spark-runtime on the classpath and a
    catalog configured (``spark.sql.catalog.<name>``) — neither exists
    in this sandbox (SURVEY.md §7 hard-part 4: verified no iceberg jar
    on disk and no network), so this class is the documented swap
    point, NOT an exercised code path. All sandbox tests run on
    ParquetTableIO, which emulates the same commit semantics.

    Batch-key metadata rides in the snapshot summary via the
    ``snapshot-property.`` write option; resume reads it back from
    ``<table>.snapshots``.
    """

    def __init__(self, spark: SparkSession, catalog: str = "spark_catalog",
                 namespace: str = "s2"):
        self.spark = spark
        self.prefix = f"{catalog}.{namespace}"
        jars = spark.conf.get("spark.jars", "") or ""
        if "iceberg" not in jars.lower():  # pragma: no cover - deploy only
            raise NotImplementedError(
                "IcebergTableIO needs iceberg-spark-runtime "
                "(spark-submit --packages org.apache.iceberg:"
                "iceberg-spark-runtime-4.0_2.13:<ver>); this sandbox has "
                "no iceberg jar — use ParquetTableIO")

    def _fq(self, table: str) -> str:
        return f"{self.prefix}.{table}"

    def append(self, df: DataFrame, table: str,
               partition_by: str | None = None,
               meta: dict | None = None) -> str:  # pragma: no cover
        writer = df.writeTo(self._fq(table))
        for k, v in (meta or {}).items():
            writer = writer.option(f"snapshot-property.{k}", json.dumps(v))
        try:
            writer.append()
        except Exception:
            w = writer
            if partition_by:
                from pyspark.sql.functions import col
                w = w.partitionedBy(col(partition_by))
            w.create()
        last = self.spark.sql(
            f"SELECT snapshot_id FROM {self._fq(table)}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1").collect()
        return str(last[0][0])

    def read(self, spark: SparkSession, table: str,
             as_of: str | None = None) -> DataFrame:  # pragma: no cover
        if as_of is not None:
            return spark.sql(f"SELECT * FROM {self._fq(table)} "
                             f"VERSION AS OF {as_of}")
        return spark.table(self._fq(table))

    def done_keys(self, table: str,
                  key: str = "batch_key") -> set:  # pragma: no cover
        rows = self.spark.sql(
            f"SELECT summary FROM {self._fq(table)}.snapshots").collect()
        out: set = set()
        for r in rows:
            v = (r["summary"] or {}).get(key)
            if v:
                out.update(json.loads(v))
        return out
