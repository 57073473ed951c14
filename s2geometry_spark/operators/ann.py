"""Similarity search over an embedding column.

Over ``embeddings (vec_id long, embedding array<float>, label int)``:

* ``ann_brute_topk`` — the one top-k path, exact: broadcast the (small)
  query set, fixed-order cosine against every corpus vector, per-query
  top-k via window rank. The corpus side never shuffles before ranking;
  only the (n_queries x k-bounded) candidate stream does. Its cost is
  O(N x Q). Approximate top-k strategies (random-hyperplane LSH, its
  multi-probe variant, seeded and trained IVF) were measured against it
  at sf0.1 in one session and deleted: brute force was both faster and
  exact there (BENCH/PLAN_EVIDENCE.md, "ANN strategies").

* ``emb_near_dup_lsh`` — bucketed embedding near-dup pairs, the scale
  path for ``dedup.emb_near_dup``'s O(n²) self-join: a 16-bit
  random-hyperplane signature bucket per vector (sign of 16 fixed
  hyperplane dots), candidates within hamming 1, exact cosine verify.
  Bucketing is a map-only JVM fold (``lsh_bucket_col``) — the one
  bucketing path, because it is the one the DuckDB oracle reproduces
  bit-for-bit.

Determinism/oracle contract: hyperplanes are module-level constants
generated once from a seeded RNG and embedded as double literals into
BOTH the Spark plan and the DuckDB oracle SQL — the two engines consume
byte-identical coefficients, and every dot product is a left-to-right
double fold (no FMA, no reassociation), so bucket bits, cosines, and
ranks match bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import _fold_dot, cosine_col, norm_col

N_PLANES = 16
EMB_DIM = 64
_rng = np.random.RandomState(42)
HYPERPLANES: list[list[float]] = [
    [float(x) for x in _rng.standard_normal(EMB_DIM)]
    for _ in range(N_PLANES)
]


def _plane_lit(plane: list[float]) -> Column:
    return F.array(*[F.lit(x) for x in plane])


def lsh_bucket_col(vec: Column) -> Column:
    """16-bit signature: bit b set iff dot(vec, plane_b) >= 0."""
    out = F.lit(0).cast("long")
    for b, plane in enumerate(HYPERPLANES):
        dot = _fold_dot(vec, _plane_lit(plane))
        out = out + F.when(dot >= 0.0, F.lit(1 << b)).otherwise(F.lit(0))
    return out


def lsh_bucket_sql(vec_col: str) -> str:
    """DuckDB twin of lsh_bucket_col — same literals, same fold order
    (list_reduce over [0.0] ++ products is the left fold 0.0+p1+...)."""
    bits = []
    for b, plane in enumerate(HYPERPLANES):
        coeffs = ", ".join(repr(x) for x in plane)
        dot = (f"list_reduce([0.0] || [CAST({vec_col}[i] AS DOUBLE)"
               f" * ([{coeffs}])[i] for i in range(1, {EMB_DIM + 1})],"
               " (a, v) -> a + v)")
        bits.append(f"CASE WHEN {dot} >= 0.0 THEN {1 << b}::BIGINT"
                    " ELSE 0::BIGINT END")
    return "(" + " + ".join(bits) + ")"


def cosine_sql(a_col: str, b_col: str, dim: int = EMB_DIM) -> str:
    """DuckDB twin of dedup.cosine_col (left-fold dots, one division)."""

    def fold(u: str, v: str) -> str:
        return (f"list_reduce([0.0] || [CAST({u}[i] AS DOUBLE)"
                f" * CAST({v}[i] AS DOUBLE) for i in range(1, {dim + 1})],"
                " (a, v) -> a + v)")

    return (f"({fold(a_col, b_col)} / "
            f"(sqrt({fold(a_col, a_col)}) * sqrt({fold(b_col, b_col)})))")


def ann_brute_topk(embs: DataFrame, queries: DataFrame, k: int = 10,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """(query_id, vec_id, rank): exact cosine top-k per query vector.

    `queries` must carry (query_id, embedding); it is broadcast, so the
    corpus scan is shuffle-free until the per-query rank exchange.
    Ties break on vec_id ascending.
    """
    q = queries.select(F.col("query_id"), F.col(vec_col).alias("_qv"),
                       norm_col(F.col(vec_col)).alias("_qn"))
    cand = embs.select(F.col(id_col), F.col(vec_col).alias("_cv"),
                       norm_col(F.col(vec_col)).alias("_cn")) \
        .crossJoin(F.broadcast(q))
    scored = cand.withColumn("_cos", cosine_col(
        F.col("_cv"), F.col("_qv"), F.col("_cn"), F.col("_qn")))
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(),
                                               F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "rank"))


def emb_near_dup_lsh(embs: DataFrame, tau: float = 0.4,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     max_hamming: int = 1) -> DataFrame:
    """Bucketed embedding near-dup pairs — the 100 TB scale path for
    dedup.emb_near_dup's brute-force baseline.

    Candidates are vector pairs whose 16-bit LSH buckets differ in at
    most `max_hamming` (0 or 1) hyperplane signs; survivors get the
    exact fold-cosine verify (>= tau). Recall semantics (documented,
    part of the operator contract, and replicated exactly by the DuckDB
    oracle): a true near-dup pair is missed iff its two vectors fall on
    opposite sides of > max_hamming hyperplanes — for the random
    hyperplane family P[one plane splits a pair at angle theta] =
    theta/pi, so at tau=0.4 (theta ~ 66 deg) expected recall at
    max_hamming=1 is low for ANTIPODAL-ish pairs but high for tight
    near-dups (theta -> 0), which is the dedup use case.

    Measured at sf0.1 (2,000 vectors, tau 0.35, local[4] on a 4-vCPU
    host, 3 alternating pairs in one session): 2.03 s [2.00, 2.05]
    against 35.6 s [34.4, 36.6] for the brute-force
    dedup.emb_near_dup, 17x faster, at recall 0.008 (34 of its 4,137
    pairs — wide pairs near tau rarely stay within hamming 1). Brute
    force itself fell to 10.0 s once cosine_col took per-vector norms
    (BENCH/PLAN_EVIDENCE.md, "Embedding cosine").

    Plan shape (minhash-style): only (id, bucket) pairs shuffle for the
    candidate join — side A fans out 1+16 probe rows per vector, side B
    keeps its single bucket, and the wide embedding arrays are
    re-joined AFTER the candidate set is formed.
    """
    if max_hamming not in (0, 1):
        raise ValueError("max_hamming must be 0 or 1 (probe set is the "
                         "1-bit-flip ring)")
    ids = embs.select(F.col(id_col),
                      lsh_bucket_col(F.col(vec_col)).alias("_bkt"))
    if max_hamming == 0:
        a = ids.select(F.col(id_col).alias("vec_a"), "_bkt")
    else:
        probe = F.concat(
            F.array(F.col("_bkt")),
            F.array(*[F.col("_bkt").bitwiseXOR(F.lit(1 << b).cast("long"))
                      for b in range(N_PLANES)]))
        a = ids.select(F.col(id_col).alias("vec_a"),
                       F.explode(probe).alias("_bkt"))
    b = ids.select(F.col(id_col).alias("vec_b"), "_bkt")
    # a pair with equal buckets matches on the 0-flip probe; a pair one
    # bit apart matches on exactly one flip -> no duplicate candidates
    cand = a.join(b, ["_bkt"]).filter(F.col("vec_a") < F.col("vec_b")) \
        .select("vec_a", "vec_b")
    va = embs.select(F.col(id_col).alias("vec_a"),
                     F.col(vec_col).alias("_va"),
                     norm_col(F.col(vec_col)).alias("_na"))
    vb = va.toDF("vec_b", "_vb", "_nb")
    return (cand.join(va, "vec_a").join(vb, "vec_b")
            .filter(cosine_col(F.col("_va"), F.col("_vb"), F.col("_na"),
                               F.col("_nb")) >= tau)
            .select("vec_a", "vec_b"))
