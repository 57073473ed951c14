"""Python worker daemon for the engine's Spark sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark starts ``python -m s2geometry_spark.worker_daemon pyspark.worker``
in place of ``pyspark.daemon``. Before handing over to
``pyspark.daemon.manager`` (which forks one worker per connection), it
does two things that every forked worker inherits:

1. On CPython < 3.13, zipimporter cache invalidation becomes lazy. Each
   task calls ``importlib.invalidate_caches()``
   (``pyspark.worker_util.setup_spark_files``), and before 3.13 every
   ``zipimporter`` on the path then re-reads its archive's central
   directory at once: pyspark.zip and its sub-packages, the spark-core
   jar and py4j, about 28k entries and 0.13 CPU-s per task. This is the
   3.13 behaviour (gh-103200): invalidation drops the cached directory
   and the next lookup re-reads it.
2. The modules engine UDFs need are imported once and ``gc.freeze()``
   moves them to the permanent generation, so workers share those pages
   and pyspark.daemon's per-task ``gc.collect()`` skips them.
"""

from __future__ import annotations

import gc
import sys
import zipimport


def _files(self):
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        pass
    try:
        files = zipimport._read_directory(self.archive)
    except zipimport.ZipImportError:  # the archive vanished
        return {}
    zipimport._zip_directory_cache[self.archive] = files
    return files


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def lazy_zip_invalidation() -> bool:
    """Back-port 3.13's lazy ``zipimporter.invalidate_caches``; returns
    whether it patched (False on 3.13+, which has it)."""
    if sys.version_info >= (3, 13):
        return False
    # the setter ignores the write in 3.11's __init__, which assigns
    # _files before self.archive exists and has already cached them
    zipimport.zipimporter._files = property(_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    lazy_zip_invalidation()
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark import daemon

    import s2geometry_spark.kernels  # noqa: F401
    import s2geometry_spark.regions  # noqa: F401

    gc.collect()
    gc.freeze()
    daemon.manager()
