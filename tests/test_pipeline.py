"""corpus_pipeline + dedup_apply — the composed training-corpus
verdicts (r5).

The fused pipeline's contract is twofold: (1) its verdicts equal the
stage-by-stage composition of the individually-gated operators, and
(2) the plan is map-only — ONE scan, no Exchange, no Join, exactly one
ArrowEvalPython (the letter-count UDF evaluates once, not once per
centroid reference — the projection-collapse trap class)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from s2geometry_spark.functions import text as T
from s2geometry_spark.operators import corpus, dedup, pipeline, textstats
from s2geometry_spark.plans import explain as X
from s2geometry_spark.sources.pages import (documents_to_pages,
                                            load_documents)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return documents_to_pages(load_documents(spark, SF_DIR))


@pytest.fixture(scope="module")
def bench_grams(spark, docs):
    bench = docs.filter(T.h60(F.concat(F.lit("bm:"), F.col("url"))) % 7 == 0)
    return corpus.collect_bench_grams(bench, k=5)


def test_pipeline_plan_is_map_only_single_udf(spark, docs, bench_grams):
    cents = textstats.lang_centroids(docs)
    out = pipeline.corpus_pipeline(docs, bench_grams, centroids=cents)
    plan = X.formatted_plan(out)
    # formatted mode prints each node twice (tree + detail header);
    # count the "(n) Node" detail headers
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 0, plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_pipeline_equals_stage_composition(spark, docs, bench_grams):
    """The fused single-scan plan must reproduce, column for column,
    what the five separately-gated operators say when composed by
    url — the naive (5 scans + 4 joins) formulation it replaces."""
    allowed = ("en", "fr")
    got = {r["url"]: r for r in pipeline.corpus_pipeline(
        docs, bench_grams, allowed_langs=allowed).collect()}
    q = {r["url"]: r["keep"] for r in textstats.gopher_flags(docs).collect()}
    rep = {r["url"]: r["keep_rep"]
           for r in textstats.gopher_rep(docs, include_empty=True).collect()}
    lang = {r["url"]: r["lang_pred"]
            for r in textstats.lang_id(docs).collect()}
    dec = {r["url"]: (r["n_hit"], r["contaminated"])
           for r in corpus.decontaminate(docs, bench_grams, k=5).collect()}
    spl = {r["url"]: (r["bucket"], r["split"])
           for r in textstats.corpus_split(docs).collect()}
    assert set(got) == set(q) == set(rep) == set(lang)
    for url, r in got.items():
        assert r["keep_quality"] == q[url]
        assert r["keep_rep"] == rep[url]
        assert r["lang_pred"] == lang[url]
        assert (r["n_hit"], r["contaminated"]) == dec[url]
        assert (r["bucket"], r["split"]) == spl[url]
        assert r["lang_ok"] == (lang[url] in allowed)
        assert r["keep"] == (q[url] and rep[url] and r["lang_ok"]
                             and not r["contaminated"])


def test_pipeline_empty_doc_gets_vacuous_rep_row(spark):
    rows = [("u/1", "", "en"),
            ("u/2", "the quick brown fox jumps over the lazy dog "
                    "and it runs away fast " * 5, "en")]
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    cents = [("en", [1000] * 26)]   # fixed centroids — no bootstrap pass
    out = {r["url"]: r for r in pipeline.corpus_pipeline(
        df, bench_grams=[], centroids=cents).collect()}
    assert set(out) == {"u/1", "u/2"}
    e = out["u/1"]
    assert e["keep_rep"] is True          # vacuously satisfied
    assert e["keep_quality"] is False     # min word count fails
    assert e["keep"] is False
    assert out["u/2"]["keep_quality"] is True


def test_gopher_rep_include_empty_only_adds_rows(spark):
    """include_empty adds vacuous-pass rows for empty docs and changes
    NOTHING for non-empty docs."""
    rows = [("u/e", "", "en"), ("u/t", "alpha beta alpha beta", "en")]
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    b = {r["url"]: r for r in textstats.gopher_rep(df).collect()}
    w = {r["url"]: r
         for r in textstats.gopher_rep(df, include_empty=True).collect()}
    assert set(b) == {"u/t"} and set(w) == {"u/e", "u/t"}
    assert b["u/t"] == w["u/t"]
    assert w["u/e"]["keep_rep"] is True and w["u/e"]["n_lines"] == 0


def test_pipeline_streams_equal_batch(spark, docs, bench_grams,
                                      tmp_path_factory):
    """With fixed centroids and a collected gram set the fused pipeline
    is a stateless projection chain, so the SAME operator applies to a
    file stream unchanged (append mode, no state store) and must equal
    the batch verdicts row-for-row across micro-batch splits."""
    from s2geometry_spark.streaming import tile_stream as TS

    d = str(tmp_path_factory.mktemp("pipe_stream") / "pages")
    docs.select("url", "text").repartition(4).write.parquet(d)
    cents = textstats.lang_centroids(docs)
    batch_in = spark.read.parquet(d)
    expect = {r["url"]: tuple(r)[1:] for r in pipeline.corpus_pipeline(
        batch_in, bench_grams, centroids=cents).collect()}
    stream = (spark.readStream.schema(batch_in.schema)
              .option("maxFilesPerTrigger", 2).parquet(d))
    out = pipeline.corpus_pipeline(stream, bench_grams, centroids=cents)
    assert out.isStreaming
    TS.run_stream_to_memory(out, "pipe_stream_out", output_mode="append")
    got = {r["url"]: tuple(r)[1:]
           for r in spark.table("pipe_stream_out").collect()}
    assert got == expect and len(got) == docs.count()


def test_dedup_apply_matches_union_find(spark, docs):
    """End-to-end verdict vs an independent driver-side union-find over
    the same minhash pair graph: exactly one kept doc per component
    (its min url), every unpaired doc kept as its own cluster."""
    reg: list = []
    verdict = {r["url"]: (r["cluster"], r["kept"])
               for r in dedup.dedup_apply(docs, threshold=0.2,
                                          cache_registry=reg).collect()}
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.2,
                                    cache_registry=reg).collect()
    dedup.release_caches(reg)

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in pairs:
        ra, rb = find(p["url_a"]), find(p["url_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict = {}
    for u in list(parent):
        comp.setdefault(find(u), []).append(u)
    expect = {u: min(members)
              for root, members in comp.items() for u in members}

    assert len(verdict) == docs.count()
    assert any(not kept for _, kept in verdict.values())  # non-trivial
    for url, (cluster, kept) in verdict.items():
        exp = expect.get(url, url)
        assert cluster == exp
        assert kept == (url == exp)
