"""Tests for the as-of join (B11) and Structured Streaming (B25)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from s2geometry_spark.operators.asof import asof_join
from s2geometry_spark.streaming import tile_stream as TS

SF_DIR = "/root/testdata/sf0.01"


def test_asof_join_small_fixture(spark):
    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    left = spark.createDataFrame(
        [(1, 10, ts(5)), (2, 10, ts(10)), (3, 10, ts(2)),
         (4, 20, ts(7)), (5, 30, ts(7))],
        "id long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(100, 10, ts(4)), (101, 10, ts(5)), (102, 10, ts(9)),
         (103, 20, ts(8)), (99, 10, ts(9)), (104, 10, ts(9))],
        "rid long, k long, ts timestamp")
    out = {r["id"]: (r["rid_r"], r["ts_r"]) for r in
           asof_join(left, right, on=["k"], right_cols=["rid"],
                     tiebreak="rid").collect()}
    assert out[1] == (101, ts(5))   # tie: inclusive match
    assert out[2] == (104, ts(9))   # 3 rows share ts(9): max rid wins
    assert 3 not in out             # nothing at or before ts(2)
    assert 4 not in out             # right ts(8) is after left ts(7)
    assert 5 not in out             # key 30 has no right rows


def test_asof_tiebreak_requires_selected_column(spark):
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame([(1, 1, t0)], "id long, k long, ts timestamp")
    with pytest.raises(ValueError):
        asof_join(df, df, on=["k"], right_cols=["id"], tiebreak="missing")


def test_asof_matches_brute_force_on_events(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error") \
        .select(F.col("event_id").alias("err_id"), "user_id", "ts")
    got = {(r["event_id"], r["err_id_r"]) for r in
           asof_join(clicks, errors, on=["user_id"],
                     right_cols=["err_id"],
                     tiebreak="err_id").collect()}

    # brute force mirrors the tiebreak: sort by (ts, err_id), take last
    err_rows = sorted(errors.collect(), key=lambda r: (r["ts"], r["err_id"]))
    by_user: dict[int, list] = {}
    for r in err_rows:
        by_user.setdefault(r["user_id"], []).append(r)
    expect = set()
    for c in clicks.collect():
        cands = [e for e in by_user.get(c["user_id"], [])
                 if e["ts"] <= c["ts"]]
        if cands:
            expect.add((c["event_id"], cands[-1]["err_id"]))
    assert got == expect
    assert len(got) > 0


@pytest.fixture(scope="module")
def pages_stream_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream") / "pages")
    from s2geometry_spark.sources.pages import (documents_to_pages,
                                                load_documents)
    documents_to_pages(load_documents(spark, SF_DIR)) \
        .select("url", "warc_ts", "text", "lang") \
        .repartition(4).write.parquet(out)
    return out


def test_streaming_tile_counts_equal_batch(spark, pages_stream_dir):
    stream = TS.stream_pages(spark, pages_stream_dir,
                             max_files_per_trigger=2)
    agg = TS.streaming_tile_counts(stream, level=8, window="10 minutes")
    assert agg.isStreaming
    TS.run_stream_to_memory(agg, "tiles_stream")
    got = {(r["win_start"], r["cell_l8"]): r["n_docs"]
           for r in spark.table("tiles_stream").collect()}

    from s2geometry_spark.sources.pages import geocode_pages
    batch = geocode_pages(
        spark.read.parquet(pages_stream_dir), tile_levels=(8,))
    expect = {(r["win"]["start"], r["cell_l8"]): r["n"]
              for r in batch.groupBy(F.window("warc_ts", "10 minutes")
                                     .alias("win"), "cell_l8")
              .agg(F.count("*").alias("n")).collect()}
    assert got == expect
    assert len(got) > 0


def test_streaming_event_rollup_with_dup_injection(spark, tmp_path):
    src = str(tmp_path / "events")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(500)
    ev.write.parquet(src)
    ev.limit(100).write.mode("append").parquet(src)  # duplicate deliveries

    stream = spark.readStream.schema(TS.EVENTS_SCHEMA).parquet(src)
    agg = TS.streaming_event_rollup(stream, window="1 hour")
    TS.run_stream_to_memory(agg, "ev_rollup")
    got = spark.table("ev_rollup")
    # dedup-by-event_id means totals equal the 500 distinct events
    n_total = got.agg(F.sum("n")).collect()[0][0]
    assert n_total == 500


def test_streaming_first_seen_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState: each url admitted exactly once even when
    re-delivered in the same or a later micro-batch."""
    from s2geometry_spark.streaming.stateful import streaming_first_seen
    from s2geometry_spark.sources.pages import (documents_to_pages,
                                                load_documents)
    src = str(tmp_path / "pages")
    base = documents_to_pages(load_documents(spark, SF_DIR)).limit(100) \
        .select("url", "warc_ts", "text", "lang")
    base.write.parquet(src)                      # file 1: originals
    base.limit(40).write.mode("append").parquet(src)  # file 2: re-delivery

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string, lang string") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_first_seen(stream)
    q = (out.writeStream.format("memory").queryName("first_seen")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.table("first_seen").collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls)) == 100
    n_chars = {r["url"]: r["n_chars"] for r in rows}
    for r in base.collect():
        assert n_chars[r["url"]] == len(r["text"])


def test_streaming_pip_counts_equal_batch(spark, pages_stream_dir):
    """The full spatial pipeline (geocode -> covering prefilter ->
    exact PIP -> windowed counts) runs incrementally via the map
    strategy and must equal the batch computation."""
    from s2geometry_spark.demo_regions import demo_regions
    from s2geometry_spark.operators.pip_join import pip_join
    from s2geometry_spark.sources.pages import geocode_pages

    stream = TS.stream_pages(spark, pages_stream_dir,
                             max_files_per_trigger=2)
    agg = TS.streaming_pip_counts(stream, demo_regions(), level=4)
    TS.run_stream_to_memory(agg, "pip_stream")
    got = {(r["win_start"], r["region_id"]): r["n_docs"]
           for r in spark.table("pip_stream").collect()}

    batch = geocode_pages(spark.read.parquet(pages_stream_dir),
                          tile_levels=(4,))
    hits = pip_join(batch, spark, demo_regions(), strategy="equi", level=4)
    expect = {(r["win"]["start"], r["region_id"]): r["n"]
              for r in hits.groupBy(F.window("warc_ts", "10 minutes")
                                    .alias("win"), "region_id")
              .agg(F.count("*").alias("n")).collect()}
    assert got == expect
    assert len(got) > 0


class _StubState:
    """Minimal GroupState stand-in for unit-testing the stateful
    function's admit/suppress/evict logic without a streaming query
    (processing-time timeouts cannot be deterministically triggered in
    a fast test; the callback contract can)."""

    def __init__(self, exists=False, timed_out=False):
        self.exists = exists
        self.hasTimedOut = timed_out
        self.updated = None
        self.removed = False
        self.timeout_set = None

    def update(self, v):
        self.updated = v
        self.exists = True

    def remove(self):
        self.removed = True
        self.exists = False

    def setTimeoutDuration(self, d):
        self.timeout_set = d


def test_first_seen_fn_ttl_contract():
    import pandas as pd

    from s2geometry_spark.streaming.stateful import make_first_seen_fn
    fn = make_first_seen_fn("30 minutes")
    rows = pd.DataFrame({"url": ["u", "u"],
                         "warc_ts": pd.to_datetime(["2025-01-01 00:00:05",
                                                    "2025-01-01 00:00:01"]),
                         "text": ["later", "first"]})

    # fresh key: emits earliest row, arms the TTL clock
    st = _StubState()
    out = list(fn(("u",), iter([rows]), st))
    assert len(out) == 1 and out[0]["n_chars"][0] == len("first")
    assert st.updated == (1,) and st.timeout_set == "30 minutes"

    # seen key: suppresses and REFRESHES the TTL (sliding window)
    st2 = _StubState(exists=True)
    assert list(fn(("u",), iter([rows]), st2)) == []
    assert st2.timeout_set == "30 minutes" and not st2.removed

    # TTL expiry callback: evicts state so the next delivery re-admits
    st3 = _StubState(exists=True, timed_out=True)
    assert list(fn(("u",), iter([]), st3)) == []
    assert st3.removed
    st4 = _StubState()
    assert len(list(fn(("u",), iter([rows]), st4))) == 1

    # no-TTL variant never arms a timeout
    fn0 = make_first_seen_fn(None)
    st5 = _StubState()
    list(fn0(("u",), iter([rows]), st5))
    assert st5.timeout_set is None


def test_streaming_pip_supports_polyline_region(spark, pages_stream_dir):
    """The polyline buffer region composes into the streaming PIP path
    (the containment UDF dispatches on contains_points_np, which
    Polyline provides) — counts must equal the batch computation."""
    from s2geometry_spark.demo_regions import demo_polyline
    from s2geometry_spark.operators.pip_join import pip_join
    from s2geometry_spark.sources.pages import geocode_pages

    stream = TS.stream_pages(spark, pages_stream_dir,
                             max_files_per_trigger=2)
    agg = TS.streaming_pip_counts(stream, [demo_polyline()], level=4)
    TS.run_stream_to_memory(agg, "pl_stream")
    got = {(r["win_start"], r["region_id"]): r["n_docs"]
           for r in spark.table("pl_stream").collect()}

    batch = geocode_pages(spark.read.parquet(pages_stream_dir),
                          tile_levels=(4,))
    hits = pip_join(batch, spark, [demo_polyline()], strategy="equi",
                    level=4)
    expect = {(r["win"]["start"], r["region_id"]): r["n"]
              for r in hits.groupBy(F.window("warc_ts", "10 minutes")
                                    .alias("win"), "region_id")
              .agg(F.count("*").alias("n")).collect()}
    assert got == expect


def test_asof_fill_is_row_atomic(spark):
    """Review regression: the matched right row must come back WHOLE —
    a winning row with a null attribute must not inherit that field
    from an earlier (losing) right row."""
    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    left = spark.createDataFrame([(1, 10, ts(9))],
                                 "id long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(1, 10, ts(5), "loser"), (2, 10, ts(5), None),
         (3, 10, ts(3), "older")],
        "rid long, k long, ts timestamp, tag string")
    out = asof_join(left, right, on=["k"], right_cols=["rid", "tag"],
                    tiebreak="rid").collect()
    assert len(out) == 1
    r = out[0]
    # winner is rid=2 (max tiebreak at the latest ts); its tag is NULL
    # and must STAY null, not borrow "loser"/"older" from other rows
    assert r["rid_r"] == 2
    assert r["tag_r"] is None
    assert r["ts_r"] == ts(5)


def test_asof_tolerance_semantics(spark):
    """tolerance_us: huge tolerance ≡ no tolerance; tiny tolerance
    keeps only exact/near matches; results are always a subset."""
    from s2geometry_spark.operators.asof import asof_join
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error") \
        .select(F.col("event_id").alias("err_id"), "user_id", "ts")

    def rows(tol):
        out = asof_join(clicks, errors, on=["user_id"],
                        right_cols=["err_id"], tiebreak="err_id",
                        tolerance_us=tol)
        return {(r["event_id"], r["err_id_r"]) for r in out.collect()}

    base = rows(None)
    assert rows(10 ** 18) == base          # huge tolerance = no-op
    mid = rows(100_000_000_000)
    assert mid < base and len(mid) > 0     # strict nonempty subset
    assert rows(0) <= mid                  # only equal-ts matches left


def test_streaming_pip_supports_region_union(spark, pages_stream_dir):
    """RegionUnion composes into the streaming PIP path — counts must
    equal the batch computation."""
    from s2geometry_spark.demo_regions import demo_region_union
    from s2geometry_spark.operators.pip_join import pip_join
    from s2geometry_spark.sources.pages import geocode_pages

    stream = TS.stream_pages(spark, pages_stream_dir,
                             max_files_per_trigger=2)
    agg = TS.streaming_pip_counts(stream, [demo_region_union()], level=4)
    TS.run_stream_to_memory(agg, "ru_stream")
    got = {(r["win_start"], r["region_id"]): r["n_docs"]
           for r in spark.table("ru_stream").collect()}

    batch = geocode_pages(spark.read.parquet(pages_stream_dir),
                          tile_levels=(4,))
    hits = pip_join(batch, spark, [demo_region_union()], strategy="equi",
                    level=4)
    expect = {(r["win"]["start"], r["region_id"]): r["n"]
              for r in hits.groupBy(F.window("warc_ts", "10 minutes")
                                    .alias("win"), "region_id")
              .agg(F.count("*").alias("n")).collect()}
    assert got == expect and len(got) > 0


def test_asof_rejects_reserved_column_names(spark):
    from s2geometry_spark.operators.asof import asof_join
    l = spark.createDataFrame([(1, 1, dt.datetime(2024, 1, 1), 0)],
                              "event_id long, user_id long, ts timestamp,"
                              " _ts long")
    r = spark.createDataFrame([(2, 1, dt.datetime(2024, 1, 1))],
                              "err_id long, user_id long, ts timestamp")
    with pytest.raises(ValueError, match="reserves"):
        asof_join(l, r, on=["user_id"], right_cols=["err_id"])


def test_streaming_quality_and_split_equal_batch(spark, pages_stream_dir):
    """gopher_flags and corpus_split are pure per-row projections (no
    shuffle, no UDF), so they compose into Structured Streaming
    unchanged — the filtering/splitting front of a streaming ingest
    pipeline. Stream output must equal the batch run exactly."""
    from s2geometry_spark.operators import textstats

    stream = TS.stream_pages(spark, pages_stream_dir,
                             max_files_per_trigger=2)
    flagged = textstats.gopher_flags(stream)
    assert flagged.isStreaming
    TS.run_stream_to_memory(flagged, "gopher_stream",
                            output_mode="append")
    got = {r["url"]: r for r in spark.table("gopher_stream").collect()}
    batch = spark.read.parquet(pages_stream_dir)
    expect = {r["url"]: r
              for r in textstats.gopher_flags(batch).collect()}
    assert len(got) == len(expect) > 0
    assert all(got[u] == expect[u] for u in expect)

    split = textstats.corpus_split(stream)
    assert split.isStreaming
    TS.run_stream_to_memory(split, "split_stream",
                            output_mode="append")
    got_s = {r["url"]: (r["bucket"], r["split"])
             for r in spark.table("split_stream").collect()}
    exp_s = {r["url"]: (r["bucket"], r["split"])
             for r in textstats.corpus_split(batch).collect()}
    assert got_s == exp_s and len(got_s) > 0


# ---------------------------------------------------------------------------
# Sessionization (gaps-and-islands)
# ---------------------------------------------------------------------------

def test_sessionize_small_fixture(spark):
    """Split/continue boundaries: gap == gap_us continues, > splits;
    ts ties order by event_id."""
    import datetime as dt

    from s2geometry_spark.operators import sessions
    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    ev = spark.createDataFrame(
        [(1, 10, ts(0)), (2, 10, ts(60)), (3, 10, ts(120)),
         (4, 10, ts(121)), (5, 10, ts(300)),   # 179s > 60s -> new
         (6, 20, ts(0)), (7, 20, ts(0)),       # tie: event_id order
         (8, 20, ts(61))],                     # 61s > 60s from id 7
        "event_id long, user_id long, ts timestamp")
    got = {r["event_id"]: r["session_idx"] for r in
           sessions.sessionize(ev, 60_000_000).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 2, 6: 1, 7: 1, 8: 2}


def test_session_stats_native_equals_lag_twin(spark):
    """F.session_window's merge rule must equal the sessionize()
    lag-split rule on the real events table (6940 sessions at
    sf0.01/4h)."""
    from s2geometry_spark.operators import sessions
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    gap = 4 * 3600 * 1_000_000
    native = sorted(tuple(r) for r in
                    sessions.session_stats(ev, gap).collect())
    twin = sorted(tuple(r) for r in
                  sessions.stats_from_sessionize(ev, gap).collect())
    assert native == twin
    assert len(native) > 5000


def test_sessionize_value_sum_exact(spark):
    """value_cents is quantize-then-sum: exact int64, order-free."""
    import datetime as dt

    from s2geometry_spark.operators import sessions
    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 1, t0, 0.1), (2, 1, t0 + dt.timedelta(seconds=1), 0.2),
         (3, 1, t0 + dt.timedelta(seconds=2), 6.55)],
        "event_id long, user_id long, ts timestamp, value double")
    [r] = sessions.session_stats(ev, 60_000_000).collect()
    assert (r["n_events"], r["value_cents"], r["duration_us"],
            r["first_event"], r["last_event"]) == (3, 685, 2_000_000, 1, 3)


def test_streaming_session_stats_equal_batch(spark, tmp_path):
    """session_stats is built on the native session_window aggregate,
    so the SAME operator sessionizes a stream: watermark + groupBy
    session-window. Complete-mode output over a bounded multi-file
    stream must equal the batch run exactly."""
    from s2geometry_spark.operators import sessions
    gap = 4 * 3600 * 1_000_000
    src = str(tmp_path / "ev_stream")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev.repartition(4).write.parquet(src)

    # watermarks require TIMESTAMP_LTZ; the parquet column is NTZ —
    # cast on BOTH sides (differential outputs, so tz-interp cancels)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              # files are split randomly (not by time), so each batch
              # carries rows older than the previous batch's max ts; a
              # delay wider than the whole data span keeps the
              # watermark from dropping them as late
              .withWatermark("ts", "60 days"))
    stats = sessions.session_stats(stream, gap)
    assert stats.isStreaming
    TS.run_stream_to_memory(stats, "sess_stream", output_mode="complete")
    got = sorted(tuple(r) for r in spark.table("sess_stream").collect())
    expect = sorted(tuple(r) for r in sessions.session_stats(
        ev.withColumn("ts", F.col("ts").cast("timestamp")), gap).collect())
    assert got == expect and len(got) > 5000


def test_streaming_sessionize_equal_batch(spark, tmp_path):
    """Row-level streaming sessionization (applyInPandasWithState) must
    assign the SAME session indexes as the batch lag+cumsum operator
    when events arrive in time order across micro-batches — including
    sessions that SPAN batch boundaries (state carries last_ts + idx)."""
    import time

    from s2geometry_spark.operators import sessions
    from s2geometry_spark.streaming import stateful
    gap = 4 * 3600 * 1_000_000
    ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
          .select("event_id", "user_id", "ts"))
    # three files split BY TIME (the operator's ordering contract);
    # sequential writes give increasing mtimes, which is the file
    # source's processing order with maxFilesPerTrigger=1
    src = str(tmp_path / "ev_time_stream")
    all_ts = sorted(r["ts"] for r in ev.select("ts").collect())
    q1, q2 = all_ts[len(all_ts) // 3], all_ts[2 * len(all_ts) // 3]
    parts = [ev.filter(F.col("ts") <= q1),
             ev.filter((F.col("ts") > q1) & (F.col("ts") <= q2)),
             ev.filter(F.col("ts") > q2)]
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(f"{src}/f{i}", mode="overwrite")
        time.sleep(0.1)
    stream = (spark.readStream.schema(parts[0].schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/f*"))
    out = stateful.streaming_sessionize(stream, gap)
    assert out.isStreaming
    TS.run_stream_to_memory(out, "sess_rows_stream", output_mode="append")
    got = {r["event_id"]: (r["user_id"], r["session_idx"])
           for r in spark.table("sess_rows_stream").collect()}
    expect = {r["event_id"]: (r["user_id"], r["session_idx"])
              for r in sessions.sessionize(ev, gap).collect()}
    assert len(got) == len(expect) == 10000
    assert got == expect
    # sanity: sessions really do span batch boundaries in this split
    b0 = {r["event_id"] for r in parts[0].collect()}
    b1 = {r["event_id"] for r in parts[1].collect()}
    spans = {u for e, (u, s) in got.items() if e in b0
             } & {u for e, (u, s) in got.items() if e in b1}
    assert spans


def test_streaming_hll_tiles_equal_batch(spark, pages_stream_dir):
    """The incrementally-maintained HLL register relation must equal
    the batch hll_register_rows over the same pages — max() per
    (tile, reg) is the merge operator, so micro-batch order cannot
    matter (complete mode; state = 64 regs x tiles, bounded)."""
    from s2geometry_spark.operators import sketches as SK
    from s2geometry_spark.sources.pages import geocode_pages
    stream = TS.stream_pages(spark, pages_stream_dir,
                             max_files_per_trigger=1)
    regs = TS.streaming_hll_tiles(stream, level=4)
    assert regs.isStreaming
    TS.run_stream_to_memory(regs, "hll_regs_stream", output_mode="complete")
    got = sorted(tuple(r) for r in spark.table("hll_regs_stream").collect())
    batch = geocode_pages(spark.read.parquet(pages_stream_dir),
                          tile_levels=(4,))
    expect = sorted(tuple(r) for r in
                    SK.hll_register_rows(batch, "cell_l4").collect())
    assert got == expect and len(got) > 100


def test_asof_forward_matches_brute_force(spark):
    """Forward as-of: nearest error at-or-after each click, brute-force
    expectation per user; inclusive ties; inner semantics."""
    from s2geometry_spark.operators.asof import asof_join
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error") \
        .select(F.col("event_id").alias("err_id"), "user_id", "ts")
    out = asof_join(clicks, errors, on=["user_id"],
                    right_cols=["err_id"], tiebreak="err_id",
                    direction="forward")
    got = {(r["event_id"], r["err_id_r"]) for r in out.collect()}
    by_user = {}
    for e in errors.collect():
        by_user.setdefault(e["user_id"], []).append(e)
    expect = set()
    for c in clicks.collect():
        cands = [e for e in by_user.get(c["user_id"], [])
                 if e["ts"] >= c["ts"]]
        if cands:
            m = min(e["ts"] for e in cands)
            best = max(e["err_id"] for e in cands if e["ts"] == m)
            expect.add((c["event_id"], best))
    assert got == expect and len(got) > 0


def test_asof_forward_tolerance_subset(spark):
    """Forward tolerance keeps exactly the matches within the window
    (matched_ts - left_ts <= tol), a subset of the untolerated join."""
    from s2geometry_spark.operators.asof import asof_join
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error") \
        .select(F.col("event_id").alias("err_id"), "user_id", "ts")
    tol = 3600 * 1_000_000
    base = asof_join(clicks, errors, on=["user_id"],
                     right_cols=["err_id"], tiebreak="err_id",
                     direction="forward")
    lim = asof_join(clicks, errors, on=["user_id"],
                    right_cols=["err_id"], tiebreak="err_id",
                    direction="forward", tolerance_us=tol)
    base_rows = {r["event_id"]: r for r in base.collect()}
    lim_rows = {r["event_id"]: r for r in lim.collect()}
    assert set(lim_rows) < set(base_rows)
    for eid, r in base_rows.items():
        gap = (r["ts_r"] - r["ts"]).total_seconds() * 1e6
        assert (eid in lim_rows) == (gap <= tol)


def test_streaming_decontaminate_equal_batch(spark, pages_stream_dir):
    """decontaminate is a map-only projection, so it runs unchanged on
    a stream (append mode, no state) and must give the batch verdicts
    row-for-row on the same docs."""
    from s2geometry_spark.functions import text as T
    from s2geometry_spark.operators import corpus
    docs = spark.read.parquet(pages_stream_dir).select("url", "text")
    bench = docs.filter(
        T.h60(F.concat(F.lit("bm:"), F.col("url"))) % 7 == 0)
    grams = corpus.collect_bench_grams(bench, k=5)
    assert grams
    stream = TS.stream_pages(spark, pages_stream_dir,
                             max_files_per_trigger=2)
    out = corpus.decontaminate(stream, grams, k=5)
    assert out.isStreaming
    TS.run_stream_to_memory(out, "decontam_stream", output_mode="append")
    got = {r["url"]: (r["n_hit"], r["contaminated"])
           for r in spark.table("decontam_stream").collect()}
    expect = {r["url"]: (r["n_hit"], r["contaminated"])
              for r in corpus.decontaminate(docs, grams, k=5).collect()}
    assert got == expect and any(v[1] for v in got.values())


def test_streaming_cm_tokens_equal_batch(spark, pages_stream_dir):
    """Streaming CM counters (built-in sum aggregation, complete mode)
    equal the batch sketch regardless of micro-batch split."""
    from s2geometry_spark.operators import sketches as SK
    stream = TS.stream_pages(spark, pages_stream_dir,
                             max_files_per_trigger=1)
    out = TS.streaming_cm_tokens(stream)
    assert out.isStreaming
    TS.run_stream_to_memory(out, "cm_stream", output_mode="complete")
    got = sorted(tuple(r) for r in spark.table("cm_stream").collect())
    docs = spark.read.parquet(pages_stream_dir).select("url", "text")
    expect = sorted(tuple(r) for r in SK.cm_sketch_tokens(docs).collect())
    assert got == expect and len(got) > 0
