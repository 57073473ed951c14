"""Physical-plan property tests (SURVEY.md §4.2/§4.4): the plans we
ship are the plans we claim — shuffle-free broadcast probe for the
flagship join, column pruning of the fat html column, pushdown."""

from __future__ import annotations

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


def test_salted_join_is_shuffle_hash_single_kernel_eval(spark):
    """The non-broadcast scale path: the covering join must be a
    ShuffledHashJoin (no broadcast of the big covering side, no sort of
    the pages side) and the geocode kernel must still evaluate exactly
    once — the eqNullSafe (tile, salt) keys keep Catalyst from pushing
    an inferred isnotnull through the projection and re-inlining the
    UDF chain (the same trap the equi strategy guards against)."""
    pages = load_pages(spark, SF_DIR)
    out = pip_join(pages, spark, demo_regions(), strategy="salted",
                   level=4, hot_threshold=1, n_salt=4) \
        .select("url", "region_id")
    plan = X.formatted_plan(out)
    assert plan.count("cell_id_udf(") == 1, plan
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_range_join_is_broadcast_no_shuffle(spark):
    pages = load_pages(spark, SF_DIR)
    out = pip_join(pages, spark, demo_regions(), strategy="range",
                   max_cells=64).select("url", "region_id")
    _assert_one_covering_hash_join(out)


def test_minhash_signature_hash_not_reinlined(spark):
    """The round-4 signature restructure stages per-shingle (h1, h2)
    arrays in their own projection and references them 17x downstream
    (sh + 16 signature slots). Catalyst's projection collapse must NOT
    push the crypto hash into those references — the round-1 trap that
    motivated the aggregate fold (16 slots -> 17x shingle-pipeline
    recompute). One md5 per plan proves the staging holds."""
    from s2geometry_spark.operators.dedup import minhash_signatures
    docs = documents_to_pages(load_documents(spark, SF_DIR))
    plan_md5 = X.formatted_plan(minhash_signatures(docs))
    assert plan_md5.count("md5(") == 1, plan_md5


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
    """The within-distance self-join must be an equi join on the cell
    key (never BroadcastNestedLoop/Cartesian — the d2 filter is a
    post-condition, not the join condition) and both sides must probe
    the SAME persisted points projection, so the geocode/xyz/neighbor
    kernel chain appears only beneath the cache, exactly once."""
    from s2geometry_spark.operators.distjoin import distance_join
    pages = load_pages(spark, SF_DIR)
    reg: list = []
    out = distance_join(pages, 0.05, cache_registry=reg)
    plan = X.formatted_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # a corpus x corpus self-join must NEVER broadcast: Catalyst's size
    # estimate through the Python projection under-counted the cached
    # relation and picked a 12.7 GiB broadcast build at the 10M bench
    # (> the 8 GiB hard cap -> abort). The shuffle_hash hint pins it.
    assert "BroadcastHashJoin" not in plan, plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan), plan
    # both sides scan the SAME cached relation: two InMemoryTableScans,
    # and every Python-eval node id is shared between their printouts —
    # a re-inlined second kernel evaluation would mint NEW node ids
    import re
    tree = plan.split("\n\n")[0]
    assert tree.count("InMemoryTableScan") == 2, plan
    arrow_ids = set(re.findall(r"ArrowEvalPython \((\d+)\)", tree))
    assert len(arrow_ids) == 1, plan  # ONE fused projection hop
    assert tree.count("ArrowEvalPython") == 2, plan  # 1 id x 2 printouts
    # the upstream cell_id_udf must be PRUNED (the fused UDF re-derives
    # the cell from lat/lng precisely so the extra hop disappears)
    assert "cell_id_udf(" not in plan, plan
    while reg:
        reg.pop().unpersist()


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
