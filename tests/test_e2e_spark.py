"""End-to-end gate mirror (SURVEY.md §5.2.5–6): every queries() entry
must match its oracle_sql() twin on the sf0.01 tables — same columns,
same row multiset, exact values (the driver's CORRECTNESS gate)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # array-typed cells (list from Spark, ndarray from DuckDB) are not
    # sortable/hashable — canonicalize to tuples first
    for col in df.columns:
        if df[col].dtype == object and len(df) and \
                isinstance(df[col].iloc[0], (list, np.ndarray)):
            df[col] = df[col].map(
                lambda v: v if v is None else
                tuple(v.tolist()) if isinstance(v, np.ndarray) else tuple(v))
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def assert_frames_match(name: str, got: pd.DataFrame, exp: pd.DataFrame):
    assert sorted(got.columns) == sorted(exp.columns), \
        f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}"
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    g, e = normalize(got), normalize(exp)
    for col in g.columns:
        gv, ev = g[col].to_numpy(), e[col].to_numpy()
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            ok = (gv == ev) | (pd.isna(gv) & pd.isna(ev))
            assert ok.all(), \
                f"{name}.{col}: {np.sum(~ok)} float mismatches, first at " \
                f"{np.argmax(~ok)}: {gv[np.argmax(~ok)]!r} vs {ev[np.argmax(~ok)]!r}"
        else:
            assert (pd.Series(gv).astype(object) == pd.Series(ev).astype(object)).all(), \
                f"{name}.{col}: value mismatch"


@pytest.fixture(scope="module")
def query_names():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    # every oracle has a query; queries without oracle are rows-only
    assert set(o).issubset(set(q))
    return q, o


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert {"url", "region_id"}.issubset(set(df.columns))


@pytest.mark.parametrize("name", list(entrymod.oracle_sql().keys()))
def test_query_matches_oracle(spark, duck, name):
    qfn = entrymod.queries()[name]
    got = qfn(spark, SF_DIR).toPandas()
    exp = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    assert_frames_match(name, got, exp)


def test_xxhash64_golden(spark):
    """Pin Spark's xxhash64 (golden vector recorded in SURVEY.md)."""
    from pyspark.sql import functions as F
    v = spark.range(1).select(F.xxhash64(F.lit("abc")).alias("h")).collect()[0].h
    assert v == 1423657621850124518


def test_text_passthrough_invariant(spark):
    """BASELINE.md #4: text is byte-identical per url through the pipeline."""
    from pyspark.sql import functions as F

    from s2geometry_spark.sources.pages import load_pages
    pages = load_pages(spark, SF_DIR)
    orig = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", F.col("text").alias("orig_text"))
    diff = (pages.join(orig, "doc_id")
            .filter(F.col("text") != F.col("orig_text")).count())
    assert diff == 0


def test_equi_and_range_strategies_agree(spark):
    """Same logical query, both physical strategies, identical output."""
    from s2geometry_spark.demo_regions import demo_regions
    from s2geometry_spark.operators.pip_join import pip_join
    from s2geometry_spark.sources.pages import load_pages
    pages = load_pages(spark, SF_DIR)
    a = pip_join(pages, spark, demo_regions(), strategy="equi", level=4) \
        .select("url", "region_id")
    b = pip_join(pages, spark, demo_regions(), strategy="range", max_cells=64) \
        .select("url", "region_id")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_map_strategy_equals_equi(spark):
    """The join-free one-hop 'map' strategy must produce exactly the
    broadcast equi-join's rows."""
    from s2geometry_spark.demo_regions import demo_regions
    from s2geometry_spark.operators.pip_join import pip_join
    from s2geometry_spark.sources.pages import load_pages
    pages = load_pages(spark, SF_DIR)
    a = pip_join(pages, spark, demo_regions(), strategy="equi", level=4) \
        .select("url", "region_id")
    m = pip_join(pages, spark, demo_regions(), strategy="map", level=4) \
        .select("url", "region_id")
    assert a.exceptAll(m).count() == 0
    assert m.exceptAll(a).count() == 0


def test_map_strategy_plan_is_join_free(spark):
    from s2geometry_spark.demo_regions import demo_regions
    from s2geometry_spark.operators.pip_join import pip_join
    from s2geometry_spark.plans import explain as X
    from s2geometry_spark.sources.pages import load_pages
    pages = load_pages(spark, SF_DIR)
    m = pip_join(pages, spark, demo_regions(), strategy="map", level=4) \
        .select("url", "region_id")
    plan = X.formatted_plan(m)
    assert "Join" not in plan
    assert X.count_shuffles(plan) == 0


def test_sql_function_surface(spark):
    """The s2_* SQL registrations must agree with the kernels and be
    usable in a pure-SQL pipeline over a temp view."""
    import numpy as np

    from s2geometry_spark import kernels as K
    from s2geometry_spark.functions.sql_api import register_sql_functions
    names = register_sql_functions(spark)
    assert names == ["s2_cell_id", "s2_level", "s2_neighbors",
                     "s2_order_key", "s2_parent", "s2_range_max_key",
                     "s2_range_min_key", "s2_token"]

    row = spark.sql(
        "SELECT s2_parent(s2_cell_id(10.5D, 20.25D), 4) AS tile,"
        "       s2_level(s2_cell_id(10.5D, 20.25D)) AS lvl,"
        "       s2_token(s2_parent(s2_cell_id(10.5D, 20.25D), 4)) AS tok"
    ).collect()[0]
    leaf = K.latlng_degrees_to_cell_id(np.array([10.5]), np.array([20.25]))
    tile = int(K.uint64_to_signed(K.parent(leaf, 4))[0])
    assert row["tile"] == tile
    assert row["lvl"] == 30
    assert row["tok"] == K.token_of(K.parent(leaf, 4))[0]

    # the five integer functions are SQL-bodied: JVM bit math, no
    # Python node, equal to the kernels on every face and level
    from s2geometry_spark.plans import explain as X
    from tests.test_kernels_property import seeded_cell_ids
    ids = K.uint64_to_signed(seeded_cell_ids(n=2000))
    spark.createDataFrame(pd.DataFrame({"id": ids})) \
        .createOrReplaceTempView("sql_api_ids")
    keys = spark.sql("""
        SELECT id, s2_order_key(id) AS key, s2_range_min_key(id) AS rmin,
               s2_range_max_key(id) AS rmax, s2_level(id) AS lvl,
               s2_parent(id, 0) AS face_cell
        FROM sql_api_ids
    """)
    assert "EvalPython" not in X.formatted_plan(keys)
    got = keys.toPandas().sort_values("id", kind="stable")
    u = K.signed_to_uint64(np.sort(ids))
    assert np.array_equal(got["key"].to_numpy(), K.signed_order_key(u))
    assert np.array_equal(got["rmin"].to_numpy(),
                          K.signed_order_key(K.range_min(u)))
    assert np.array_equal(got["rmax"].to_numpy(),
                          K.signed_order_key(K.range_max(u)))
    assert np.array_equal(got["lvl"].to_numpy(), K.level(u))
    assert np.array_equal(got["face_cell"].to_numpy(),
                          K.uint64_to_signed(K.parent(u, 0)))

    from s2geometry_spark.sources.pages import (documents_to_pages,
                                                load_documents)
    docs = documents_to_pages(load_documents(spark, SF_DIR)).limit(50)
    docs.createOrReplaceTempView("sql_api_pages")
    out = spark.sql("""
        SELECT s2_parent(s2_cell_id(
                   (((CAST((h - (h & 4294967295)) AS DOUBLE) / 4294967296)
                     + 2147483648) / 4294967296) * 180.0 - 90.0,
                   (CAST((h & 4294967295) AS DOUBLE) / 4294967296)
                     * 360.0 - 180.0), 8) AS tile,
               COUNT(*) AS n
        FROM (SELECT xxhash64(url) AS h FROM sql_api_pages)
        GROUP BY 1
    """).collect()
    assert sum(r["n"] for r in out) == 50
    from pyspark.sql import functions as F

    from s2geometry_spark.sources.pages import geocode_pages
    expect = {(r["cell_l8"], r["n"]) for r in
              geocode_pages(docs, tile_levels=(8,))
              .groupBy("cell_l8").agg(F.count("*").alias("n")).collect()}
    assert {(r["tile"], r["n"]) for r in out} == expect
