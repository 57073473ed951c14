"""Seeded input generation.

The benchmark hands the engine only parquet files written here. Every
table has the shape of the engine's ``documents.parquet`` source
(doc_id, text, lang, source, n_chars) and is a pure function of the
seed: ``doc_id = (seed % SEED_SLOTS) * DOC_ID_STRIDE + i``, so a new
seed moves every url, hence every xxhash64-derived point. Text, lang
and source are drawn from xxhash64 of the doc id, with a text length
spread like the sf0.1 corpus (40 to 540 characters).

Doc ids stay below 1e11: the engine's page source turns a doc id into a
timestamp offset of that many seconds through a Decimal(18, 6), which
overflows at 1e12, so the seed is folded into ``SEED_SLOTS`` offsets.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

DOC_ID_STRIDE = 1_000_000
SEED_SLOTS = 100_000
N_SPLITS = 16
N_SOURCES = 20
LANGS = ("en", "en", "zh", "es", "fr", "de")
WORDS = ("batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query key window row table stream "
         "merge data vector join big the customer a ") * 20

# The regional extract for the tiled write: pages whose url-derived
# point falls in this (lat, lng) box, about 1.5% of the sphere.
REGION_BOX = (35.0, 60.0, -10.0, 30.0)


def seed_offset(seed: int) -> int:
    return (seed % SEED_SLOTS) * DOC_ID_STRIDE


def _documents(spark: SparkSession, n: int, seed: int):
    if n > DOC_ID_STRIDE:
        raise ValueError(f"{n} documents overrun one seed's doc-id range")
    ids = spark.range(0, n, 1, N_SPLITS).select(
        (F.col("id") + F.lit(seed_offset(seed))).alias("doc_id"))
    h = F.xxhash64(F.col("doc_id"), F.lit(seed))
    start = (F.pmod(h, F.lit(200)) + 1).cast("int")
    length = (F.pmod(F.shiftright(h, 16), F.lit(500)) + 40).cast("int")
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]),
                        (F.pmod(F.shiftright(h, 40), F.lit(len(LANGS)))
                         + 1).cast("int"))
    source = F.concat(F.lit("src"),
                      F.pmod(F.col("doc_id"), F.lit(N_SOURCES)).cast("string"))
    return ids.select(
        "doc_id", F.substring(F.lit(WORDS), start, length).alias("text"),
        lang.alias("lang"), source.alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))


def url_point(docs):
    """(lat, lng) degrees of each document's page url: the engine's
    documented geocoding (url = source/doc_id, h = xxhash64(url)),
    written out here so the generator does not call the engine."""
    h = F.xxhash64(F.concat_ws("/", "source", F.col("doc_id").cast("string")))
    lo = h.bitwiseAND(F.lit(4294967295))
    lat = ((h - lo) / F.lit(4294967296) + F.lit(2147483648)) \
        / F.lit(4294967296) * F.lit(180.0) - F.lit(90.0)
    lng = lo / F.lit(4294967296) * F.lit(360.0) - F.lit(180.0)
    return lat, lng


def write_documents(spark: SparkSession, out_dir: str, n: int, seed: int,
                    region: tuple | None = None) -> int:
    """Write ``out_dir/documents.parquet`` in N_SPLITS files; returns the
    row count. With ``region`` only documents whose page point lies in
    the (lat_lo, lat_hi, lng_lo, lng_hi) box are kept, drawn from a
    pool sized so that about ``n`` survive."""
    path = os.path.join(out_dir, "documents.parquet")
    if region is None:
        _documents(spark, n, seed).write.parquet(path)
        return n
    lat_lo, lat_hi, lng_lo, lng_hi = region
    share = (lat_hi - lat_lo) / 180.0 * (lng_hi - lng_lo) / 360.0
    docs = _documents(spark, int(n / share), seed)
    lat, lng = url_point(docs)
    kept = docs.filter(lat.between(lat_lo, lat_hi)
                       & lng.between(lng_lo, lng_hi)).coalesce(N_SPLITS)
    kept.write.parquet(path)
    return spark.read.parquet(path).count()


def sample_doc_ids(seed: int, n_rows: int, k: int) -> list[int]:
    rng = np.random.default_rng(seed)
    picks = rng.choice(n_rows, size=min(k, n_rows), replace=False)
    return sorted(int(i) + seed_offset(seed) for i in picks)


def knn_queries(seed: int, n: int = 20) -> list[dict]:
    """n seeded query points, k cycling through 1, 10 and 100."""
    rng = np.random.default_rng(seed + 7919)
    lats = rng.uniform(-85.0, 85.0, n)
    lngs = rng.uniform(-180.0, 180.0, n)
    return [{"query_id": i, "lat": float(lats[i]), "lng": float(lngs[i]),
             "k": (1, 10, 100)[i % 3]} for i in range(n)]
