"""Structured Streaming over the pages/events shapes — SURVEY.md B25.

Streams use the SAME geocode kernels and tile algebra as batch (one
code path, two execution modes — the Spark-native way to keep batch
and streaming consistent). Late data is handled with event-time
watermarks; exactly-once at the sink comes from checkpointed state +
idempotent (foreachBatch → TableIO snapshot) writes.

* ``stream_pages``        — readStream over a pages-shaped parquet
  directory (Iceberg/Kafka at deploy time; same DataFrame from there).
* ``streaming_tile_counts`` — tumbling-window counts per tile with
  watermark: the incremental version of operators/tiles.tile_histogram.
* ``streaming_event_rollup`` — windowed per-type value sums over the
  events stream with in-stream dedup (dropDuplicates within the
  watermark on event_id — the standard at-least-once → effectively-once
  pattern).

Per-row operators need no streaming twin: a map-only projection such
as ``corpus.decontaminate`` (its benchmark gram set collected up front
with ``corpus.collect_bench_grams``) runs unchanged on the stream
returned by ``stream_pages``, in append mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType, TimestampType)

from ..sources.pages import geocode_pages

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def stream_pages(spark: SparkSession, src_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def streaming_tile_counts(pages_stream: DataFrame, level: int = 8,
                          window: str = "10 minutes",
                          watermark: str = "1 hour") -> DataFrame:
    """(window, cell_l{K}, n_docs): incremental tile histogram.

    The geocode kernel chain (xxhash64 → lat/lng → Hilbert cell) runs
    unchanged inside the stream — Arrow-batched pandas UDFs are
    streaming-compatible map operators.
    """
    geo = geocode_pages(pages_stream, tile_levels=(level,))
    return (geo
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("win"),
                     F.col(f"cell_l{level}"))
            .agg(F.count("*").alias("n_docs"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    f"cell_l{level}", "n_docs"))


def streaming_event_rollup(events_stream: DataFrame,
                           window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """(window, event_type, n, total_value) with in-stream dedup."""
    return (events_stream
            .withWatermark("ts", watermark)
            .dropDuplicates(["event_id", "ts"])
            .groupBy(F.window("ts", window).alias("win"),
                     F.col("event_type"))
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("total_value"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "event_type", "n", "total_value"))


def run_stream_to_memory(stream_df: DataFrame, name: str,
                         timeout_s: int = 120,
                         output_mode: str = "complete") -> None:
    """Drain a bounded stream with the availableNow trigger into a
    memory sink (test/dev harness; production uses foreachBatch →
    TableIO.append for snapshot-committed exactly-once output).
    output_mode: "complete" for aggregations (the default here),
    "append" for pure projection streams (quality flags, splits)."""
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    q.awaitTermination(timeout_s)


def streaming_pip_counts(pages_stream: DataFrame, regions,
                         level: int = 4,
                         window: str = "10 minutes",
                         watermark: str = "1 hour") -> DataFrame:
    """(window, region_id, n_docs): incremental point-in-region counts.

    Uses the batch "equi" PIP strategy (operators/pip_join.py): the
    uniform-level covering is a static broadcast side, and Spark
    supports an inner stream-static join, so the full geocode →
    covering join → exact containment → windowed count pipeline runs
    incrementally with ordinary watermark semantics. Any number of
    regions.
    """
    from ..operators.pip_join import pip_join

    geo = geocode_pages(pages_stream, tile_levels=(level,))
    hits = pip_join(geo, geo.sparkSession, regions, strategy="equi",
                    level=level)
    return (hits
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("win"),
                     F.col("region_id"))
            .agg(F.count("*").alias("n_docs"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "region_id", "n_docs"))


def streaming_hll_tiles(pages_stream: DataFrame, level: int = 4) -> DataFrame:
    """Incremental per-tile HLL register relation — the streaming twin
    of operators/sketches.hll_register_rows.

    Sketches are the natural streaming aggregate: the register state is
    a plain MAX per (tile, register), so Spark's built-in stateful
    aggregation maintains it incrementally with bounded state —
    64 registers x live tiles, independent of stream length — and
    'complete'/'update' output modes emit mergeable sketch rows at any
    point. No custom applyInPandasWithState needed: max() IS the merge
    operator (the same property tests/test_sketches.py proves for
    shard merges). Feed the emitted rows to sketches.hll_estimate via
    one tiny per-tile rollup downstream.
    """
    from ..operators.sketches import hll_register_rows

    geocoded = geocode_pages(pages_stream, tile_levels=(level,))
    return hll_register_rows(geocoded, f"cell_l{level}")


def streaming_cm_tokens(pages_stream: DataFrame) -> DataFrame:
    """Incremental Count-Min token sketch over the pages stream — the
    streaming twin of operators/sketches.cm_sketch_tokens. Counter
    state is a SUM per (r, col), bounded at d*w = 4096 rows forever,
    so like the HLL twin it rides Spark's built-in stateful
    aggregation (sum IS the sketch merge) in complete/update mode."""
    from ..operators.sketches import cm_sketch_tokens

    return cm_sketch_tokens(pages_stream)
