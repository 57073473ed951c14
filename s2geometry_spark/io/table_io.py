"""Snapshot-committed table IO with per-file lineage + metrics —
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

* ``parquet`` — sandbox/test backend with the SAME semantics and ONE
  commit path: ``append`` takes a directory of finished files under
  ``<root>/<table>/``, renames it to ``<table>/snap-<id>/`` (same
  filesystem, so the move is one ``os.rename``) and then atomically
  registers the snapshot in ``<table>/_snapshots.json`` (write-temp +
  os.replace — readers never observe a half-written manifest;
  concurrent appenders serialize on an flock). A DataFrame argument is
  first written to a ``_pending-<uuid>`` dir under the table, so a
  Spark write and a caller's pre-written files (jobs/batches.py writes
  all of a job's batches in one Spark job) commit the same way.
  Uncommitted directories are invisible to readers, so a killed job
  resumes cleanly: re-reading the manifest yields exactly the committed
  prefix.

Lineage/metrics: every commit with a ``lineage_col`` records, per data
file, its row count and the min/max of that (integer) column into
``<table>@metrics`` — itself snapshot-committed through ``append``. The
rows come from ``footer_lineage``: the files' Parquet footers, read on
the driver with pyarrow, so a commit starts no Spark job (Iceberg
manifests carry the same per-file ``record_count`` and bounds): the
bounds are the ``k=v`` directory value when the lineage column is a
partition column, else the row-group statistics. ``file_split`` is the file's index in the
sorted list of its part-file paths relative to the snapshot dir.
``done_keys`` answers "which work units are already durable?" for
resume.
"""

from __future__ import annotations

import fcntl
import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

METRICS_SCHEMA = pa.schema([
    ("file_split", pa.int32()),
    ("n_rows", pa.int64()),
    ("key_min", pa.int64()),
    ("key_max", pa.int64()),
    ("snapshot_id", pa.string()),
    ("table", pa.string()),
])


def _part_files(root: str) -> list[str]:
    """Data-file paths under `root`, relative to it, sorted (Spark's
    hidden ``_``/``.`` files — _SUCCESS, .crc — are not data)."""
    out = []
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        out.extend(os.path.normpath(os.path.join(rel, f)) for f in files
                   if f.endswith(".parquet") and not f.startswith(("_", ".")))
    return sorted(out)


def _file_bounds(path: str, rel: str, md: pq.FileMetaData,
                 lineage_col: str) -> tuple:
    """(key_min, key_max) of one data file: its ``lineage_col=v``
    directory, else the row-group statistics of that column."""
    for part in rel.split(os.sep)[:-1]:
        name, eq, value = part.partition("=")
        if eq and name == lineage_col:
            if value == "__HIVE_DEFAULT_PARTITION__":  # a null key
                return None, None
            if not value.lstrip("-").isdigit():
                raise ValueError(f"lineage column {lineage_col!r} must be "
                                 f"an integer; partition value {value!r}")
            return int(value), int(value)
    schema = md.schema.to_arrow_schema()
    if lineage_col not in schema.names:
        raise ValueError(f"lineage column {lineage_col!r} is neither a "
                         f"partition directory nor a column of {path}")
    if not pa.types.is_integer(schema.field(lineage_col).type):
        raise ValueError(f"lineage column {lineage_col!r} must be an "
                         f"integer, not {schema.field(lineage_col).type}")
    j = next(j for j in range(md.num_columns)
             if md.schema.column(j).path == lineage_col)
    lo = hi = None
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(j).statistics
        # Spark and Arrow write integer min/max for every row group
        # that holds a non-null value; one without them is all nulls
        if st is None or not st.has_min_max:
            continue
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return lo, hi


def footer_lineage(data_dir: str,
                   lineage_col: str | None = None) -> list[tuple]:
    """(n_rows, key_min, key_max) of `lineage_col` per data file under
    `data_dir`, in ``_part_files`` order, from the footers (no Spark
    job); bounds are None without a `lineage_col`."""
    out = []
    for rel in _part_files(data_dir):
        path = os.path.join(data_dir, rel)
        md = pq.read_metadata(path)
        lo, hi = (_file_bounds(path, rel, md, lineage_col)
                  if lineage_col is not None else (None, None))
        out.append((md.num_rows, lo, hi))
    return out


def _metrics_rows(data_dir: str, lineage_col: str, snap_id: str,
                  table: str) -> pa.Table:
    """One lineage row per data file under `data_dir`, from footers."""
    rows = [{"file_split": i, "n_rows": n, "key_min": lo, "key_max": hi,
             "snapshot_id": snap_id, "table": table}
            for i, (n, lo, hi) in enumerate(
                footer_lineage(data_dir, lineage_col))]
    return pa.Table.from_pylist(rows, schema=METRICS_SCHEMA)


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

    def _pending_dir(self, table: str) -> str:
        """A fresh, not yet existing dir under the table for files that
        a later ``append`` commits."""
        return os.path.join(self.root, table, f"_pending-{uuid.uuid4().hex}")

    def append(self, df: DataFrame | str, table: str,
               partition_by: str | None = None,
               lineage_col: str | None = None,
               meta: dict | None = None) -> str:
        """Commit `df` as one new snapshot; returns the snapshot id.

        `df` is a DataFrame, or the path of a directory of finished
        parquet files under ``<root>/<table>/`` (possibly in
        `partition_by` k=v subdirs) that the commit moves into the
        snapshot. The files are in place BEFORE the manifest commit: a
        crash between the two leaves an orphan dir that no reader sees
        (and that a retry simply ignores) — same contract as an Iceberg
        append that never reaches metadata swap.
        """
        table_dir = os.path.abspath(os.path.join(self.root, table))
        if isinstance(df, DataFrame):
            src = self._pending_dir(table)
            writer = df.write.mode("error")
            if partition_by:
                writer = writer.partitionBy(partition_by)
            writer.parquet(src)
        else:
            src = os.path.abspath(df)
            if (os.path.commonpath([src, table_dir]) != table_dir
                    or not os.path.isdir(src)):
                raise ValueError(f"{df!r} is not a directory under "
                                 f"{table_dir}")
        snap_id = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        # footers first: a non-integer lineage column fails the append
        # before anything is committed
        rows = (_metrics_rows(src, lineage_col, snap_id, table)
                if lineage_col is not None else None)
        data_dir = os.path.join(self.root, table, f"snap-{snap_id}")
        os.rename(src, data_dir)

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
        # durable files' footers (exercised in tests/test_scale_ops.py).
        if rows is not None and rows.num_rows:
            self._append_metrics(rows, table)
        return snap_id

    def _append_metrics(self, rows: pa.Table, table: str,
                        meta: dict | None = None) -> None:
        """Write the lineage rows as one file and commit it to
        ``<table>@metrics`` through ``append``."""
        mtable = f"{table}@metrics"
        pending = self._pending_dir(mtable)
        os.makedirs(pending)
        pq.write_table(rows, os.path.join(pending, "part-00000.parquet"))
        self.append(pending, mtable, meta=meta)

    def missing_metrics(self, spark: SparkSession, table: str) -> list[str]:
        """snapshot_ids committed in `table` that have no metrics rows
        (the crash-between-commits gap)."""
        committed = [s["snapshot_id"] for s in self.history(table)
                     if _part_files(s["dir"])]
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
        the data is durable, so the rows are re-readable from its
        footers; returns the backfilled snapshot ids. Run after crash
        recovery (or on a schedule) to restore the per-file lineage
        contract."""
        filled = []
        missing = set(self.missing_metrics(spark, table))
        for s in self.history(table):
            sid = s["snapshot_id"]
            if sid not in missing:
                continue
            self._append_metrics(
                _metrics_rows(s["dir"], lineage_col, sid, table), table,
                meta={"backfilled": True})
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
        dirs = [s["dir"] for s in snaps if _part_files(s["dir"])]
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

    def n_rows(self, table: str) -> int:
        """Committed rows of `table`, from the footers (no Spark job)."""
        return sum(n for s in self.history(table)
                   for n, _, _ in footer_lineage(s["dir"]))

    # -- resume -------------------------------------------------------------

    def done_keys(self, table: str, key: str = "batch_key") -> set:
        """Work-unit keys already durable in committed snapshots —
        driven from manifest metadata (no Spark needed on the resume
        decision path)."""
        out: set = set()
        for s in self.history(table):
            out.update(s["meta"].get(key, []))
        return out

    def assert_meta(self, table: str, **params) -> None:
        """Refuse to resume `table` with parameters other than those its
        committed snapshots record: a resumed job mixes old and new
        snapshots, so a different batch count or input silently drops or
        double-counts rows. A snapshot that lacks a key accepts any
        value; a recorded None still mismatches a non-None value."""
        for s in self.history(table):
            for key, value in params.items():
                if key in s["meta"] and s["meta"][key] != value:
                    raise ValueError(
                        f"{table} was built with {key}={s['meta'][key]!r}; "
                        f"this run asks for {key}={value!r} — use a fresh "
                        "table prefix/root for a different configuration")


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
    ``<table>.snapshots``. ``append`` takes the same arguments as
    ``ParquetTableIO.append``: a path of pre-written parquet files is
    read and appended, and ``lineage_col`` is accepted and ignored,
    because Iceberg's manifests already keep every data file's record
    count and column bounds.
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

    def append(self, df: DataFrame | str, table: str,
               partition_by: str | None = None,
               lineage_col: str | None = None,
               meta: dict | None = None) -> str:  # pragma: no cover
        if isinstance(df, str):
            df = self.spark.read.parquet(df)
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
