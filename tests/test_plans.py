"""Physical-plan property tests (SURVEY.md §4.2/§4.4): the plans we
ship are the plans we claim — shuffle-free broadcast probe for the
flagship join, column pruning of the fat html column, pushdown."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from s2geometry_spark.demo_regions import demo_regions
from s2geometry_spark.operators.pip_join import pip_join
from s2geometry_spark.plans import explain as X
from s2geometry_spark.sources.pages import (documents_to_pages,
                                            load_documents, load_pages)

SF_DIR = "/root/testdata/sf0.01"


def test_flagship_equi_join_is_map_only(spark):
    pages = load_pages(spark, SF_DIR)
    out = pip_join(pages, spark, demo_regions(), strategy="equi", level=4) \
        .select("url", "region_id")
    plan = X.assert_map_only_probe(out)
    assert "ArrowEvalPython" in plan  # the geocode kernel rides along


def _assert_one_covering_hash_join(out) -> str:
    """The shared covering join: one BroadcastHashJoin on the exploded
    ancestor ids, no nested-loop join, a map-only probe and
    the geocode kernel evaluated exactly once. Returns the plan."""
    plan = X.assert_map_only_probe(out)
    assert X.count_nodes(plan, "BroadcastHashJoin") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("cell_id_udf(") == 1, plan
    return plan


def test_flagship_evaluates_geocode_kernel_exactly_once(spark):
    """Regression for the round-1 double-evaluation finding: a plain
    equality join key made Catalyst infer isnotnull(cell_l4), push it
    through the geocode projection and re-inline the whole cell_id_udf
    chain into a SECOND ArrowEvalPython over every scan row (~2x the
    Python-kernel bill at scale). The null-safe ancestor key prevents
    the inference. Both broadcast strategies run the one
    covering join (a hash join, never the old BETWEEN nested-loop
    join) on a map-only probe, and cross into Python equally often
    (geocode + containment)."""
    pages = load_pages(spark, SF_DIR)
    plans = {}
    for strategy, kwargs in [("equi", {"level": 4}),
                             ("range", {"max_cells": 64})]:
        out = pip_join(pages, spark, demo_regions(), strategy=strategy,
                       **kwargs).select("url", "region_id")
        plans[strategy] = _assert_one_covering_hash_join(out)
        assert "order_key_udf(" not in plans[strategy], plans[strategy]
    assert plans["range"].count("ArrowEvalPython") \
        == plans["equi"].count("ArrowEvalPython"), plans["range"]


def test_shuffle_join_is_one_shuffled_hash_join_built_without_a_job(
        spark, tmp_path):
    """The non-broadcast scale path is the covering join with the
    covering side hinted shuffle_hash: ONE ShuffledHashJoin (no
    broadcast of the big covering side, no sort of the pages side), no
    salt hash, the geocode kernel evaluated exactly once (the null-safe
    ancestor key keeps Catalyst from re-inlining the UDF chain), and
    building it runs no Spark job — skew is AQE's split at run time,
    not a hot-tile histogram collected while the plan is built. The
    pages' lat/lng are read back from Parquet, so the url hash that
    derives them is not in the plan and any xxhash64 would be a salt."""
    from s2geometry_spark.functions import geo
    located = str(tmp_path / "located")
    load_pages(spark, SF_DIR).select("url", "lat", "lng") \
        .write.parquet(located)
    pages = spark.read.parquet(located).withColumn(
        "cell_id", geo.cell_id_udf(F.col("lat"), F.col("lng")))
    sc = spark.sparkContext
    group = f"pip-shuffle-build-{time.monotonic_ns()}"
    sc.setJobGroup(group, "pip_join shuffle build")
    try:
        out = pip_join(pages, spark, demo_regions(), strategy="shuffle",
                       level=4).select("url", "region_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    plan = X.formatted_plan(out)
    assert X.count_nodes(plan, "ShuffledHashJoin") == 1, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "xxhash64" not in plan, plan
    assert plan.count("cell_id_udf(") == 1, plan


def test_range_join_is_broadcast_no_shuffle(spark):
    pages = load_pages(spark, SF_DIR)
    out = pip_join(pages, spark, demo_regions(), strategy="range",
                   max_cells=64).select("url", "region_id")
    _assert_one_covering_hash_join(out)


def test_minhash_signature_hash_not_reinlined(spark):
    """Signatures are one mapInArrow pass per document over (url, text)
    (functions/text.py shingle_hashes): the md5 runs in the worker, so
    no JVM md5( is left to be re-inlined into the 17 sh/sig references,
    and no ArrowEvalPython stage is added."""
    from s2geometry_spark.operators.dedup import minhash_signatures
    docs = documents_to_pages(load_documents(spark, SF_DIR))
    plan = X.formatted_plan(minhash_signatures(docs))
    assert X.count_nodes(plan, "MapInArrow") == 1, plan
    assert "md5(" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_simhash_df_is_one_map_in_arrow(spark):
    """simhash_df hashes and folds in the same single mapInArrow pass:
    no higher-order token-hash projection, no ArrowEvalPython."""
    from s2geometry_spark.operators.dedup import simhash_df
    docs = documents_to_pages(load_documents(spark, SF_DIR))
    plan = X.formatted_plan(simhash_df(docs))
    assert X.count_nodes(plan, "MapInArrow") == 1, plan
    assert "md5(" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_html_column_pruned_when_not_selected(spark):
    """html is the fat column; any plan not selecting it must not build
    it (it is derived via projection, so 'encode' appearing in the plan
    would mean wasted work per row)."""
    pages = documents_to_pages(load_documents(spark, SF_DIR),
                               with_html=True)
    slim = pages.select("url", "lang")
    plan = X.formatted_plan(slim)
    assert "encode" not in plan
    assert "<html>" not in plan


def test_filter_pushdown_reaches_scan(spark):
    docs = load_documents(spark, SF_DIR).filter(F.col("lang") == "en") \
        .select("doc_id", "lang")
    plan = X.formatted_plan(docs)
    pushed = X.pushed_filters(plan)
    assert pushed and any("lang" in p for p in pushed), plan


def test_count_shuffles_sees_aggregation_exchange(spark):
    pages = load_pages(spark, SF_DIR)
    agg = pages.groupBy("cell_l4").count()
    assert X.count_shuffles(X.formatted_plan(agg)) >= 1


def test_covering_candidate_gates_evaluate_kernels_once(spark):
    """The raw covering-candidates gate runs pip_join's covering join
    (round-2 review: it had copied the unguarded round-1 BETWEEN shape
    and was paying the double-ArrowEvalPython bill)."""
    import __spark_entry__ as E
    out = E.queries()["covering_candidates"](spark, SF_DIR)
    plan = _assert_one_covering_hash_join(out)
    assert "order_key_udf(" not in plan, plan


def test_distance_join_plan_equi_no_cartesian_udfs_cached(spark):
    """The within-distance self-join is one emit MapInPandas, ONE
    hash-partitioning Exchange on the cell key and one pairs
    MapInPandas: no join node of any kind (the d2 filter runs inside
    the pairs pass), nothing cached, and no geocode UDF (the emit pass
    derives the cell from lat/lng itself)."""
    import re

    from s2geometry_spark.operators.distjoin import distance_join
    pages = load_pages(spark, SF_DIR)
    plan = X.formatted_plan(distance_join(pages, 0.05))
    assert X.count_nodes(plan, "MapInPandas") == 2, plan
    assert X.count_shuffles(plan) == 1, plan
    assert re.search(r"hashpartitioning\(key#\d+L, \d+\)", plan), plan
    assert "InMemoryTableScan" not in plan, plan
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan, plan
    assert "cell_id_udf(" not in plan, plan


def test_distance_join_pins_nothing(spark):
    """Collecting the pairs leaves the session's persistent-RDD set as
    it was: the join holds no cache a caller would have to release."""
    from s2geometry_spark.operators.distjoin import distance_join
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    assert distance_join(load_pages(spark, SF_DIR), 0.05).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_knn_is_one_map_in_pandas_over_unshuffled_pages(spark):
    """knn_join scores pages in ONE MapInPandas and ranks above it: no
    geocode kernel or Arrow UDF node, and no Exchange beneath the
    MapInPandas, so the pages side is never shuffled."""
    from s2geometry_spark.operators.knn import demo_knn_queries, knn_join
    pages = load_pages(spark, SF_DIR)
    out = knn_join(pages, spark, demo_knn_queries())
    plan = X.formatted_plan(out, "simple")
    assert plan.count("MapInPandas") == 1, plan
    assert "cell_id_udf" not in plan and "ArrowEvalPython" not in plan, plan
    # the simple plan prints top-down and every node above the
    # MapInPandas has one child, so all text after it is its subtree
    above, below = plan.split("MapInPandas")
    assert "Exchange" in above and "Exchange" not in below, plan


def test_geocode_job_is_one_write_with_one_geocode(spark, tmp_path,
                                                   monkeypatch):
    """run_geocode_job writes every batch in ONE write of the keyed
    pages: that write's plan has one ArrowEvalPython and one parquet
    scan (no staging re-read, no hot-tile histogram), and a run starts
    at most 3 Spark jobs. (Filtering the geocoded pages by batch before
    the write is the null-intolerant-predicate trap: the filter is
    pushed below the geocode projection and re-runs the UDF per
    batch.)"""
    import re
    from pyspark.sql import DataFrameWriter
    from s2geometry_spark.io.table_io import ParquetTableIO
    from s2geometry_spark.jobs.geocode_job import run_geocode_job
    plans = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        plans.append(X.formatted_plan(self._df))
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    sc = spark.sparkContext
    sc.setJobGroup("geocode_job_one_write", "one full run")
    try:
        r = run_geocode_job(spark, SF_DIR, ParquetTableIO(str(tmp_path)))
    finally:
        sc._jsc.clearJobGroup()
    assert r["committed"] == list(range(8)), r
    assert len(plans) == 1, plans
    plan = plans[0]
    assert len(set(re.findall(r"ArrowEvalPython \((\d+)\)", plan))) == 1, \
        plan
    assert len(set(re.findall(r"Scan parquet [^(\n]*\((\d+)\)", plan))) \
        == 1, plan
    jobs = sc.statusTracker().getJobIdsForGroup("geocode_job_one_write")
    assert 1 <= len(jobs) <= 3, jobs


def test_vocab_topn_is_take_ordered(spark):
    """The global top-n must compile to TakeOrderedAndProject (per-
    partition top-n + driver merge), never a full global sort."""
    from s2geometry_spark.operators import corpus
    from s2geometry_spark.sources.pages import (documents_to_pages,
                                                load_documents)
    docs = documents_to_pages(load_documents(spark, SF_DIR))
    plan = X.formatted_plan(corpus.vocab_topn(docs, 25))
    assert "TakeOrderedAndProject" in plan, plan
    assert "GlobalLimit" not in plan or "Sort" not in plan.split(
        "TakeOrderedAndProject")[0], plan


def test_sessionize_single_exchange(spark):
    """Both session surfaces shuffle ONCE on user_id: the window sort
    is partition-local, and session_stats' aggregation reuses the
    grouping partitioning (no second Exchange)."""
    from s2geometry_spark.operators import sessions
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    gap = 4 * 3600 * 1_000_000
    import re
    for df in (sessions.sessionize(ev, gap),
               sessions.session_stats(ev, gap)):
        plan = X.formatted_plan(df)
        # formatted mode prints each node twice (tree + detail header);
        # count the detail headers "(n) Exchange"
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
