"""The resumable batch-commit skeleton of geocode_job and dedup_job:
``pending_batches`` picks the batches the manifest lacks, the job
writes them all in ONE write ``partitionBy(BATCH_COL)`` into
``staging_dir``, and ``commit_batches`` commits each batch dir by
rename. A killed run's staging dir is never read: readers see only
manifest entries."""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

from s2geometry_spark.io.table_io import ParquetTableIO

BATCH_COL = "_batch"


def pending_batches(io: ParquetTableIO, table: str, n_batches: int,
                    max_batches_this_run: int | None = None,
                    **params) -> tuple[list[int], list[int]]:
    """(run, skipped): the batches to write, and the committed ones
    passed before the scan stops at `max_batches_this_run`. Raises
    ValueError if `table` was built with other `n_batches`/`params`
    (they decide batch membership)."""
    io.assert_meta(table, n_batches=n_batches, **params)
    done = io.done_keys(table)
    run, skipped = [], []
    for b in range(n_batches):
        if b in done:
            skipped.append(b)
        elif (max_batches_this_run is not None
                and len(run) >= max_batches_this_run):
            break
        else:
            run.append(b)
    return run, skipped


@contextmanager
def staging_dir(io: ParquetTableIO, table: str):
    """A fresh ``<root>/<table>/_staging-<uuid>``, removed on exit."""
    path = os.path.join(io.root, table, f"_staging-{uuid.uuid4().hex}")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def commit_batches(io: ParquetTableIO, table: str, staging: str,
                   run: list[int], meta: dict, **append_kw) -> None:
    """Commit each ``BATCH_COL=<b>`` dir of `staging`, in `run` order,
    with ``{"batch_key": [b], **meta}``. A batch with no rows has no
    dir: it commits an empty snapshot."""
    for b in run:
        files = os.path.join(staging, f"{BATCH_COL}={b}")
        os.makedirs(files, exist_ok=True)
        io.append(files, table, meta={"batch_key": [b], **meta},
                  **append_kw)
