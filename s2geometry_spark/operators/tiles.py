"""Tile (cell_l{K}) partitioning and skew (SURVEY.md B20/B21;
north_star: "tile assignment = S2CellId.parent(level) partitioning").

Hash-geocoded urls are uniform, but real web corpora are not (a
popular host's pages share a tile). AQE handles that skew for writes
and for joins alike:

* a tile-partitioned WRITE is a ``rebalance`` on the tile, and AQE's
  rebalance split (``optimizeSkewsInRebalancePartitions``) breaks a
  partition above ``advisoryPartitionSizeInBytes`` up across the map
  tasks that produced it, so no single task writes a mega-tile (it
  cannot split what one map task wrote);
* the shuffle covering JOIN (``pip_join(strategy="shuffle")``) leaves a
  hot tile to AQE's skew-join split (``spark.sql.adaptive.skewJoin``),
  which beat explicit salting plus its hot-tile histogram in 10 of 10
  pairs (BENCH/PLAN_EVIDENCE.md, BENCH/salted_skew_bench.py).

1. ``tile_histogram`` — one cheap pass: rows per tile (B12).
2. ``hot_tiles``      — tiles whose count exceeds a threshold.
3. ``write_tiled``    — the tile-partitioned write, rebalanced on the
   tile.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tile_col(level: int) -> str:
    return f"cell_l{level}"


def tile_histogram(pages: DataFrame, level: int) -> DataFrame:
    """(tile, n_rows) — partial+final hash agg, one shuffle of counts."""
    return (pages.groupBy(F.col(tile_col(level)).alias("tile"))
            .agg(F.count("*").alias("n_rows")))


def hot_tiles(pages: DataFrame, level: int, threshold: int) -> list[int]:
    """Tiles with more than `threshold` rows (driver-side list; the hot
    set is small by definition — it's the skewed head). The NULL tile
    (no point) joins nothing; a Spark filter on it would re-inline the
    geocode UDF, so it is dropped here."""
    rows = (tile_histogram(pages, level)
            .filter(F.col("n_rows") > threshold)
            .select("tile").collect())
    return sorted(r["tile"] for r in rows if r["tile"] is not None)


def write_tiled(pages: DataFrame, path: str, level: int,
                mode: str = "overwrite") -> None:
    """B21: tile-partitioned parquet layout (identity partition on
    cell_l{K}), skew-safe via AQE's rebalance split of oversized tile
    partitions. The Iceberg deployment swaps .partitionBy for an
    identity partition spec — see io/table_io.py."""
    (pages.hint("rebalance", tile_col(level))
     .write.mode(mode).partitionBy(tile_col(level)).parquet(path))


def write_bucketed(pages: DataFrame, table_name: str, level: int,
                   n_buckets: int = 32) -> None:
    """B21 variant: bucketed layout for repeat co-located joins.

    ``bucketBy(n, tile) + sortBy(tile)`` persists the shuffle: any
    later equi-join or aggregation on the tile column between tables
    bucketed the same way runs WITHOUT an Exchange (asserted in
    tests/test_scale_ops.py). This is the right layout when the same
    tile key joins many times per day at 10^12 rows — pay the shuffle
    once at write time. Uses saveAsTable (bucketing metadata lives in the
    catalog; plain parquet paths cannot carry bucketing info).
    """
    spark = pages.sparkSession
    # with an in-memory catalog the managed-table LOCATION outlives the
    # catalog entry across sessions; clear both or saveAsTable refuses
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table_name.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc)
    (pages.write.bucketBy(n_buckets, tile_col(level))
     .sortBy(tile_col(level))
     .mode("overwrite")
     .format("parquet")
     .saveAsTable(table_name))


def observed_tile_histogram(pages: DataFrame, level: int):
    """B26: tile histogram with a driver-side Observation attached —
    free global counters (rows in, distinct-ish tile count via the agg
    itself) collected with NO extra pass over the data.

    Returns (df, observation); read observation.get after an action.
    """
    from pyspark.sql import Observation

    obs = Observation("tile_histogram_metrics")
    observed = pages.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.min(tile_col(level)).alias("tile_min"),
        F.max(tile_col(level)).alias("tile_max"))
    return (observed.groupBy(F.col(tile_col(level)).alias("tile"))
            .agg(F.count("*").alias("n_rows")), obs)


def vectorize_tiles(pages: DataFrame, level: int, min_rows: int = 1,
                    id_col: str = "cell_id") -> DataFrame:
    """Raster→vector (the north_rule's raster↔vector leg): threshold
    the level-L tile raster at `min_rows` density, then collapse
    complete sibling quartets bottom-up into a NORMALIZED cell union —
    the vector region "where density >= min_rows" as (cell, lvl) rows.
    The inverse direction (vector→raster) is the coverer + tile
    aggregation the engine is built around.

    Distributed shape: ONE groupBy over the fact table builds the
    raster, which is eagerly localCheckpoint'ed — the fact scan and
    its geocode-UDF chain run EXACTLY once (a review measured the
    first lazy version re-executing the scan ~10x through the round
    branches). Each of the <= L merge rounds is then one groupBy over
    the ever-shrinking checkpointed cell set (dimension-sized), with
    merge-vs-keep decided in a single pass (no anti-join) and the
    previous round's checkpoint released (the connected_components
    pattern). All starting cells share one level and a merge replaces
    exactly the 4 children by their parent, so containment overlaps
    cannot arise — the quartet fixpoint alone yields a normalized
    union (unions.normalize is the driver-side twin, asserted in
    tests).

    Like connected_components, this runs its (bounded, <= L) rounds
    eagerly at call time and the RETURNED frame stays
    checkpoint-backed.
    """
    from ..ckpt import CheckpointRotator
    from ..functions import geo

    rot = CheckpointRotator(pages.sparkSession.sparkContext)
    cur = rot.checkpoint(
        pages
        .groupBy(geo.parent_col(F.col(id_col), level).alias("cell"))
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= min_rows)
        .select("cell", F.lit(level).alias("lvl")))
    for lv in range(level, 0, -1):
        at = cur.filter(F.col("lvl") == lv)
        rest = cur.filter(F.col("lvl") != lv)
        # one pass: a full quartet collapses to its parent, a partial
        # one re-emits its children unchanged
        grouped = (at.withColumn("par",
                                 geo.parent_col(F.col("cell"), lv - 1))
                   .groupBy("par")
                   .agg(F.count("*").alias("_k"),
                        F.collect_list("cell").alias("_cells")))
        stepped = grouped.select(
            F.explode(F.when(F.col("_k") == 4,
                             F.array(F.col("par")))
                      .otherwise(F.col("_cells"))).alias("cell"),
            F.when(F.col("_k") == 4, F.lit(lv - 1))
            .otherwise(F.lit(lv)).alias("lvl"))
        cur = rot.checkpoint(rest.unionByName(stepped))
        rot.release_previous()
    return cur


def vectorize_tiles_sql(cells_rel: str, level: int,
                        min_rows: int = 1,
                        continuation: bool = False) -> str:
    """DuckDB twin of vectorize_tiles over `cells_rel` (a relation
    providing cell_id): the same thresholded raster + unrolled
    bottom-up quartet merge, one CTE stage per level.

    continuation=True emits ", s{L} AS (..." instead of "WITH s{L} AS
    (..." so the twin splices after a caller's WITH chain without
    string surgery on this function's output (review finding: a
    .replace("WITH ", ...) splice breaks silently if this prefix ever
    changes)."""
    def lsb(lv: int) -> int:
        return 1 << (2 * (30 - lv))

    def par(col: str, lv: int) -> str:
        return f"(({col} & {-lsb(lv)}) | {lsb(lv)})"

    head = ", " if continuation else "WITH "
    parts = [f"{head}s{level} AS ("
             f"SELECT {par('cell_id', level)} AS cell, {level} AS lvl"
             f" FROM {cells_rel} GROUP BY 1"
             f" HAVING COUNT(*) >= {min_rows})"]
    for lv in range(level, 0, -1):
        parts.append(
            f", f{lv} AS (SELECT {par('cell', lv - 1)} AS par"
            f" FROM s{lv} WHERE lvl = {lv} GROUP BY 1"
            f" HAVING COUNT(*) = 4)")
        parts.append(
            f", s{lv - 1} AS ("
            f"SELECT cell, lvl FROM s{lv} WHERE lvl != {lv}"
            f" UNION ALL "
            f"SELECT cell, lvl FROM s{lv} WHERE lvl = {lv}"
            f" AND {par('cell', lv - 1)} NOT IN (SELECT par FROM f{lv})"
            f" UNION ALL "
            f"SELECT par AS cell, {lv - 1} AS lvl FROM f{lv})")
    parts.append(
        f" SELECT cell, CAST(lvl AS INT) AS lvl FROM s0")
    return "".join(parts)


def grouped_quantiles_disc(df: DataFrame, group_col: str, val_col: str,
                           qs=((1, 4), (1, 2), (9, 10))) -> DataFrame:
    """Exact discrete quantiles per group: for each q = num/den, the
    value at 1-based rank ceil(q*n) in the group's sorted multiset
    (SQL quantile_disc — no interpolation, so the result is an actual
    data value and the gate is hash-exact for ANY q, unlike the
    interpolated percentile which is engine-portable only at g in
    {0, 0.5}, see tile_median).

    Integer-only rank test: cum >= ceil(n*num/den) == cum*den >= n*num
    for integer cum — no float ranks anywhere.

    Scale shape: the window runs over the DISTINCT (group, value)
    relation, not the rows — one count aggregation (partial map-side)
    shrinks 10^12 rows to |distinct values| per group before any sort.
    Caveat: a single group with 10^6+ distinct values serializes its
    cumsum into one window task; for that regime use hll/t-digest-style
    sketching or pre-bucketed values — this operator is the EXACT path.

    Output: (group, n_rows, q{num}_{den}...) one row per group.
    """
    cnt = (df.groupBy(F.col(group_col).alias("grp"),
                      F.col(val_col).alias("val"))
           .agg(F.count("*").alias("cnt")))
    w_cum = Window.partitionBy("grp").orderBy("val")
    w_all = Window.partitionBy("grp")
    c = cnt.select("grp", "val", "cnt",
                   F.sum("cnt").over(w_cum).alias("cum"),
                   F.sum("cnt").over(w_all).alias("n"))
    aggs = [F.max("n").alias("n_rows")]
    for num, den in qs:
        aggs.append(
            F.min(F.when(F.col("cum") * den >= F.col("n") * num,
                         F.col("val"))).alias(f"q{num}_{den}"))
    return c.groupBy("grp").agg(*aggs)


def grouped_quantiles_disc_sql(rel: str, group_col: str, val_col: str,
                               qs=((1, 4), (1, 2), (9, 10))) -> str:
    """DuckDB twin of grouped_quantiles_disc over relation `rel`."""
    picks = ",\n               ".join(
        f"MIN(CASE WHEN cum * {den} >= n * {num} THEN val END)"
        f" AS q{num}_{den}" for num, den in qs)
    return f"""
        WITH qc AS (SELECT {group_col} AS grp, {val_col} AS val,
                           CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM {rel} GROUP BY 1, 2),
        qw AS (SELECT grp, val, cnt,
                      SUM(cnt) OVER (PARTITION BY grp ORDER BY val
                                     ROWS UNBOUNDED PRECEDING) AS cum,
                      SUM(cnt) OVER (PARTITION BY grp) AS n
               FROM qc)
        SELECT grp, CAST(MAX(n) AS BIGINT) AS n_rows,
               {picks}
        FROM qw GROUP BY grp
    """
