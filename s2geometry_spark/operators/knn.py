"""kNN join in one lazy pass (SURVEY.md B10, north_star).

One ``mapInPandas`` over ``pages.select("url", "lat", "lng")`` scores
every page against every query in numpy and keeps, per partition and
per query, the rows whose squared chord distance d2 = ‖p − q‖²
(monotone with angle) is at most the partition's running k-th
smallest d2, ties included. A ``row_number`` window over query_id,
ordered by (d2, url), then ranks the survivors and keeps rank 1..k.

Why the keep set is exact: the k-th smallest d2 of any subset of the
pages is ≥ the k-th smallest of all of them. So a row of the global
top-k has d2 ≤ every threshold a partition ever holds, and survives
its partition's pruning; keeping ties at the threshold means the
window sees every row the (d2, url) order could rank ≤ k.

Cost and shape:
  * pages are never shuffled — the only Exchange is the window's,
    above the MapInPandas, over ≤ partitions × (Σk + ties) rows;
  * one scan and one Spark job per collect: no driver loop, no
    collect inside the operator, nothing persisted or checkpointed;
  * Python work is O(rows × queries): linear in the query count, so
    the operator suits a few queries per call (every caller sends 20).

d2 uses the DuckDB oracle's operand order, (dx*dx + dy*dy) + dz*dz,
with page xyz from the numpy kernel and query xyz from math.cos/sin, so
it is bit-identical to the brute-force oracle. A page without a point
(``K.has_point``: null, NaN, ±inf or |lat| > 90) has no distance and
is never returned.
"""

from __future__ import annotations

import math
import numbers

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from .. import kernels as K

_KEPT_SCHEMA = StructType([
    StructField("query_id", LongType(), False),
    StructField("url", StringType(), True),
    StructField("d2", DoubleType(), False),
    StructField("k", LongType(), False),
])


def _query_arrays(queries, k_default: int) -> tuple:
    """Validate the queries; return (query_id, qx, qy, qz, k) arrays.

    A missing query_id/lat/lng raises KeyError. A duplicate query_id, a
    non-finite lat or lng, a lat outside [-90, 90] or a k that is not
    an integer ≥ 1 raises ValueError."""
    qids: dict = {}  # query_id -> (qx, qy, qz, k), in query order
    for q in queries:
        qid, lat, lng = int(q["query_id"]), float(q["lat"]), float(q["lng"])
        k = q.get("k", k_default)
        if qid in qids:
            raise ValueError(f"duplicate query_id {qid}")
        if not (math.isfinite(lat) and math.isfinite(lng)):
            raise ValueError(f"query {qid}: non-finite lat/lng "
                             f"({lat}, {lng})")
        if not -90.0 <= lat <= 90.0:
            raise ValueError(f"query {qid}: lat {lat} outside [-90, 90]")
        if isinstance(k, bool) or not isinstance(k, numbers.Integral) \
                or k < 1:
            raise ValueError(f"query {qid}: k must be an integer >= 1, "
                             f"got {k!r}")
        la, ln = math.radians(lat), math.radians(lng)
        cl = math.cos(la)
        qids[qid] = (cl * math.cos(ln), cl * math.sin(ln), math.sin(la),
                     int(k))
    vals = list(qids.values())
    qx, qy, qz = (np.array([v[j] for v in vals], dtype=np.float64)
                  for j in range(3))
    return (np.array(list(qids), dtype=np.int64), qx, qy, qz,
            np.array([v[3] for v in vals], dtype=np.int64))


def _within_kth(d2: np.ndarray, k: int) -> np.ndarray:
    """Mask of the rows whose d2 is ≤ the k-th smallest (ties kept)."""
    if d2.size <= k:
        return np.ones(d2.size, dtype=bool)
    return d2 <= np.partition(d2, k - 1)[k - 1]


def _partition_top_k(qid, qx, qy, qz, k):
    """mapInPandas body: each query's keep set for one partition."""
    def run(batches):
        kept_d2 = [np.empty(0, dtype=np.float64)] * qid.size
        kept_url = [np.empty(0, dtype=object)] * qid.size
        for pdf in batches:
            lat = pdf["lat"].to_numpy("float64")
            lng = pdf["lng"].to_numpy("float64")
            urls = pdf["url"].to_numpy(dtype=object)
            located = K.has_point(lat, lng)
            if not located.all():
                lat, lng, urls = lat[located], lng[located], urls[located]
            x, y, z = K.latlng_to_xyz(np.radians(lat), np.radians(lng))
            for i in range(qid.size):
                dx, dy, dz = x - qx[i], y - qy[i], z - qz[i]
                d2 = (dx * dx + dy * dy) + dz * dz
                m = _within_kth(d2, k[i])
                d2 = np.concatenate([kept_d2[i], d2[m]])
                url = np.concatenate([kept_url[i], urls[m]])
                m = _within_kth(d2, k[i])
                kept_d2[i], kept_url[i] = d2[m], url[m]
        sizes = [a.size for a in kept_d2]
        if sum(sizes):
            yield pd.DataFrame({"query_id": np.repeat(qid, sizes),
                                "url": np.concatenate(kept_url),
                                "d2": np.concatenate(kept_d2),
                                "k": np.repeat(k, sizes)})
    return run


def knn_join(pages: DataFrame, spark: SparkSession, queries,
             k_default: int = 10) -> DataFrame:
    """queries: list of dicts {query_id, lat, lng, k} (degrees).

    Returns a lazy DataFrame (query_id, url, rank, d2) with rank 1..k per
    query, ordered by (d2, url). `pages` needs url/lat/lng. Queries are
    validated (see _query_arrays) before any plan is built. `spark` is
    unused; it keeps the operators' (pages, spark, ...) call shape.
    """
    qid, qx, qy, qz, k = _query_arrays(queries, k_default)
    kept = pages.select("url", "lat", "lng").mapInPandas(
        _partition_top_k(qid, qx, qy, qz, k), _KEPT_SCHEMA)
    w = Window.partitionBy("query_id").orderBy("d2", "url")
    return (kept.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= F.col("k"))
            .select("query_id", "url", "rank", "d2"))


def demo_knn_queries(n: int = 20):
    """Deterministic query points (FIXTURES.md F6): LCG on query_id,
    k cycling {1, 10, 100}. Exactly reproducible in oracle SQL."""
    out = []
    for i in range(n):
        h1 = (i * 48271 + 12345) % 2147483647
        h2 = (h1 * 69621 + 7) % 2147483647
        lat = (h1 / 2147483647) * 170.0 - 85.0
        lng = (h2 / 2147483647) * 360.0 - 180.0
        k = (1, 10, 100)[i % 3]
        out.append({"query_id": i, "lat": lat, "lng": lng, "k": k})
    return out
