"""Deploy smoke with a MID-JOB KILL at 10M rows (VERDICT r4 #7).

Drives jobs/dedup_job.py the production way (spark-submit --py-files)
three times against the same deterministic 10M-doc corpus (sf0.1
documents x SPARK_GRAFT_DOCS_MULT):

  A. interrupted  — SIGKILL -9 the whole process group as soon as the
     sigs manifest shows >= 1 committed batch (so at least one batch is
     durable and at least one is in flight when the job dies);
  B. resume       — same out_root, runs to completion (manifest says
     which batches to skip — no Spark needed for that decision);
  C. uninterrupted — fresh out_root, runs to completion.

Equivalence gate: the committed keep tables of B and C are compared as
url SETS via DuckDB (read straight from the manifests' snapshot dirs —
orphan dirs from the kill are invisible exactly as the read contract
promises). Prints one JSON line with kill point, per-leg wall times,
batch bookkeeping, and the equivalence verdict; paste into
BENCH/BASELINE.md.

Run alone (~10-30 min at mult=2000): no concurrent Spark work.
"""
from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from s2geometry_spark.session import (default_cores,  # noqa: E402
                                      default_driver_memory)


def read_manifest(root: str, table: str) -> list[dict]:
    path = os.path.join(root, table, "_snapshots.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)["snapshots"]


def spawn(out_root: str, sf_dir: str, mult: int, cpus: int,
          log_path: str) -> subprocess.Popen:
    env = dict(os.environ,
               SPARK_GRAFT_OUT=out_root,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_DOCS_MULT=str(mult))
    cmd = ["spark-submit",
           "--master", f"local[{cpus}]",
           "--driver-memory", default_driver_memory(),
           "--conf", "spark.sql.shuffle.partitions=%d" % cpus,
           "--py-files", "/tmp/s2geometry_spark_smoke.zip",
           os.path.join(REPO, "s2geometry_spark", "jobs", "dedup_job.py")]
    log = open(log_path, "w")
    return subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            env=env, start_new_session=True, cwd=REPO)


def run_to_completion(out_root, sf_dir, mult, cpus, log_path):
    t0 = time.perf_counter()
    p = spawn(out_root, sf_dir, mult, cpus, log_path)
    rc = p.wait()
    dt = time.perf_counter() - t0
    assert rc == 0, f"job failed rc={rc}, see {log_path}"
    return dt


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mult = int(os.environ.get("SPARK_GRAFT_DOCS_MULT", "2000"))
    cpus = default_cores()
    base = "/tmp/s2g_killsmoke"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    subprocess.run(["zip", "-qr", "/tmp/s2geometry_spark_smoke.zip",
                    "s2geometry_spark"], cwd=REPO, check=True)

    root_i = os.path.join(base, "interrupted")
    root_u = os.path.join(base, "uninterrupted")

    # -- leg A: start, wait for the first committed batch, SIGKILL ---
    t0 = time.perf_counter()
    log_a = os.path.join(base, "legA.log")
    p = spawn(root_i, sf_dir, mult, cpus, log_a)
    while not read_manifest(root_i, "dedup_sigs") and p.poll() is None:
        time.sleep(0.5)
    if p.returncode:
        raise SystemExit(f"leg A failed before the kill "
                         f"(rc={p.returncode}), see {log_a}")
    if p.returncode == 0:
        raise SystemExit("job finished before the kill — corpus too "
                         "small for a mid-job kill; raise mult")
    kill_at = time.perf_counter() - t0
    # batch N+1 is in flight right now; kill the whole process group
    os.killpg(os.getpgid(p.pid), signal.SIGKILL)
    p.wait()
    # more batches may have committed between the poll and the kill:
    # count from the manifest as the kill left it
    committed_at_kill = len(read_manifest(root_i, "dedup_sigs"))
    orphans = [d for d in os.listdir(os.path.join(root_i, "dedup_sigs"))
               if d.startswith("snap-")]

    # -- leg B: resume on the same root ------------------------------
    t_resume = run_to_completion(root_i, sf_dir, mult, cpus,
                                 os.path.join(base, "legB.log"))
    resumed = read_manifest(root_i, "dedup_sigs")
    skipped = committed_at_kill  # batches the resume did NOT recompute

    # -- leg C: uninterrupted fresh run -------------------------------
    t_full = run_to_completion(root_u, sf_dir, mult, cpus,
                               os.path.join(base, "legC.log"))

    # -- equivalence: keep tables as url sets (DuckDB, manifest dirs) --
    import duckdb
    con = duckdb.connect()

    def keep_urls_rel(root, name):
        dirs = [s["dir"] for s in read_manifest(root, "dedup_keep")]
        assert dirs, f"no committed keep snapshot under {root}"
        files = ", ".join(f"'{d}/*.parquet'" for d in dirs)
        con.execute(f"CREATE VIEW {name} AS "
                    f"SELECT url FROM read_parquet([{files}])")

    keep_urls_rel(root_i, "k_resumed")
    keep_urls_rel(root_u, "k_full")
    extra = con.execute(
        "SELECT count(*) FROM (SELECT url FROM k_resumed EXCEPT "
        "SELECT url FROM k_full)").fetchone()[0]
    missing = con.execute(
        "SELECT count(*) FROM (SELECT url FROM k_full EXCEPT "
        "SELECT url FROM k_resumed)").fetchone()[0]
    n_resumed = con.execute("SELECT count(*) FROM k_resumed").fetchone()[0]
    n_full = con.execute("SELECT count(*) FROM k_full").fetchone()[0]

    result = {
        "metric": "dedup_job_kill_resume",
        "sf_dir": sf_dir, "docs_mult": mult, "cpus": cpus,
        "kill_after_sec": round(kill_at, 1),
        "batches_committed_at_kill": committed_at_kill,
        "orphan_snap_dirs_after_kill": len(orphans) - committed_at_kill,
        "resume_sec": round(t_resume, 1),
        "uninterrupted_sec": round(t_full, 1),
        "batches_total": len(resumed),
        "batches_skipped_on_resume": skipped,
        "keep_rows_resumed": n_resumed, "keep_rows_full": n_full,
        "except_resumed_minus_full": extra,
        "except_full_minus_resumed": missing,
        "equivalent": bool(extra == 0 and missing == 0
                           and n_resumed == n_full),
    }
    # persist next to the other evidence JSONs so run_scaling.py folds
    # the section into the regenerated BENCH/BASELINE.md
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "kill_resume.json"), "w") as f:
        json.dump(result, f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
