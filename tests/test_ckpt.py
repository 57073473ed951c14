"""Version guard + behavior tests for ckpt.CheckpointRotator.

The rotator is the ONE place that touches the private
``sc._jsc.getPersistentRDDs()`` API (DataFrame.localCheckpoint exposes
no unpersist handle — see ckpt.py). These tests exercise the exact
call chain so a PySpark upgrade that changes the JVM surface fails
HERE, with a pointer to the helper, instead of deep inside an
iterative operator's round loop.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s2geometry_spark.ckpt import CheckpointRotator

GUARD_MSG = ("PySpark private API sc._jsc.getPersistentRDDs() changed "
             "— update s2geometry_spark/ckpt.py (the single wrapper "
             "for eager-localCheckpoint release)")


def test_private_api_surface_exists(spark):
    """The exact attribute/method chain the rotator relies on."""
    sc = spark.sparkContext
    assert hasattr(sc, "_jsc"), GUARD_MSG
    jmap = sc._jsc.getPersistentRDDs()
    assert hasattr(jmap, "keys"), GUARD_MSG
    # keys() must be iterable and membership-testable (dict-like view)
    ids = set(jmap.keys())
    assert isinstance(ids, set), GUARD_MSG


def test_checkpoint_tracks_and_release_frees(spark):
    spark.catalog.clearCache()
    sc = spark.sparkContext
    base = set(sc._jsc.getPersistentRDDs().keys())
    rot = CheckpointRotator(sc)
    df1 = rot.checkpoint(spark.range(100).withColumn("x", F.col("id") * 2))
    after1 = set(sc._jsc.getPersistentRDDs().keys())
    assert after1 - base, GUARD_MSG + " (no RDD pinned by localCheckpoint)"
    df2 = rot.checkpoint(df1.filter(F.col("x") > 10))
    rot.release_previous()
    after2 = set(sc._jsc.getPersistentRDDs().keys())
    # df1's backing RDDs freed, df2's retained
    assert not (after1 - base) & after2, "previous checkpoint not freed"
    assert after2 - base, "newest checkpoint must survive release_previous"
    assert df2.count() == 94  # newest still readable
    rot.unpersist()
    assert set(sc._jsc.getPersistentRDDs().keys()) == base, \
        "unpersist left cached RDDs behind"


def test_rotation_loop_keeps_at_most_one_round(spark):
    """The operator pattern: N rounds, each checkpointing and releasing
    the previous — storage must stay O(1) rounds, not O(N)."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    base = set(sc._jsc.getPersistentRDDs().keys())
    rot = CheckpointRotator(sc)
    cur = rot.checkpoint(spark.range(50))
    per_round_ids = []
    for _ in range(4):
        cur = rot.checkpoint(cur.withColumn("id", F.col("id") + 1))
        rot.release_previous()
        live = set(sc._jsc.getPersistentRDDs().keys()) - base
        per_round_ids.append(len(live))
    # exactly one round's checkpoint lives at any time (localCheckpoint
    # pins one RDD per frame here)
    assert max(per_round_ids) <= max(per_round_ids[0], 1)
    assert cur.agg(F.min("id")).collect()[0][0] == 4
    rot.unpersist()
    assert not set(sc._jsc.getPersistentRDDs().keys()) - base


def test_release_previous_on_empty_rotator_is_noop(spark):
    rot = CheckpointRotator(spark.sparkContext)
    rot.release_previous()
    rot.unpersist()
