"""The engine's Python worker daemon (s2geometry_spark.worker_daemon)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pandas as pd
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter: it patches the zipimport machinery of the
# process it runs in.
LAZY_INVALIDATION = textwrap.dedent("""
    import importlib, os, sys, zipfile, zipimport
    from s2geometry_spark.worker_daemon import lazy_zip_invalidation

    archive = sys.argv[1]
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "A = 1\\n")
    sys.path.insert(0, archive)
    import a  # this importer exists before the patch
    if not lazy_zip_invalidation():
        print("skipped")
        sys.exit(0)

    calls = 0
    read_directory = zipimport._read_directory

    def counting(path):
        global calls
        calls += 1
        return read_directory(path)

    zipimport._read_directory = counting
    for _ in range(100):
        importlib.invalidate_caches()
    assert calls == 0, calls

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("b.py", "B = 2\\n")
    importlib.invalidate_caches()
    import b  # the lookup after invalidation re-reads the archive
    assert (a.A, b.B, calls) == (1, 2, 1), (a.A, b.B, calls)

    os.remove(archive)
    importlib.invalidate_caches()
    print("patched")
""")


def test_zip_invalidation_is_lazy(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", LAZY_INVALIDATION, str(tmp_path / "m.zip")],
        cwd=ROOT, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    want = "skipped" if sys.version_info >= (3, 13) else "patched"
    assert out.stdout.split() == [want]


def test_udfs_run_in_the_engine_daemon(spark):
    @F.pandas_udf("string")
    def worker_state(x: pd.Series) -> pd.Series:
        import gc
        import zipimport
        state = json.dumps({
            "main": sys.modules["__main__"].__spec__.name,
            "frozen": gc.get_freeze_count(),
            "invalidate": zipimport.zipimporter.invalidate_caches
                          .__code__.co_filename,
        })
        return pd.Series([state] * len(x))

    rows = (spark.range(8, numPartitions=4).select(worker_state("id"))
            .distinct().collect())
    states = [json.loads(r[0]) for r in rows]
    assert states
    for s in states:
        assert s["main"] == "s2geometry_spark.worker_daemon"
        assert s["frozen"] > 0
        if sys.version_info < (3, 13):
            assert s["invalidate"].endswith("worker_daemon.py")
