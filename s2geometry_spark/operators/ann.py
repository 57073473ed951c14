"""Approximate-nearest-neighbor search over an embedding column.

Two physical strategies over ``embeddings (vec_id long, embedding
array<float>, label int)``:

* ``ann_brute_topk`` — exact baseline: broadcast the (small) query set,
  fixed-order cosine against every corpus vector, per-query top-k via
  window rank. The corpus side never shuffles before ranking; only the
  (n_queries x k-bounded) candidate stream does. This is the
  verification baseline; at 10^12 rows its cost is O(N x Q) and you use
  the LSH variant below.

* ``ann_lsh_topk`` — random-hyperplane LSH: a 16-bit signature bucket
  per vector (sign of 16 fixed hyperplane dots), query joins its own
  bucket (plus optional 1-bit-flip probes), exact cosine rank within
  the candidates. Bucketing is a map-only JVM fold (``lsh_bucket_col``,
  also used by ``emb_near_dup_lsh``) — the one bucketing path, because
  it is the one the DuckDB oracle reproduces bit-for-bit; the join is a
  bucket equi-join, so at scale work is proportional to bucket
  occupancy, not corpus size.

Determinism/oracle contract: hyperplanes are module-level constants
generated once from a seeded RNG and embedded as double literals into
BOTH the Spark plan and the DuckDB oracle SQL — the two engines consume
byte-identical coefficients, and every dot product is a left-to-right
double fold (no FMA, no reassociation), so bucket bits, cosines, and
ranks match bit-for-bit.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import _fold_dot, cosine_col

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
    q = queries.select(F.col("query_id"), F.col(vec_col).alias("_qv"))
    cand = embs.select(F.col(id_col), F.col(vec_col).alias("_cv")) \
        .crossJoin(F.broadcast(q))
    scored = cand.withColumn("_cos", cosine_col(F.col("_cv"), F.col("_qv")))
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(),
                                               F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "rank"))


def _probe_query_df(queries: DataFrame, vec_col: str,
                    probes: int) -> DataFrame:
    """Explode the (tiny) query side into 1 + `probes` LSH buckets per
    query: its own bucket, then 1-bit-flip neighbor buckets in
    ascending |hyperplane margin| order — the flips most likely to
    recover near-boundary neighbors probe first (classic multi-probe
    LSH; ties in margin break on probe-bucket value, deterministic).
    Staged projections keep the 16 x 64-term dot folds computed ONCE
    (_dots), not re-inlined into every bit/margin reference."""
    dots = F.array(*[_fold_dot(F.col(vec_col), _plane_lit(p))
                     for p in HYPERPLANES])
    q0 = queries.select(F.col("query_id"), F.col(vec_col).alias("_qv"),
                        dots.alias("_dots"))
    d = F.col("_dots")
    bits = F.lit(0).cast("long")
    for b in range(N_PLANES):
        bits = bits + F.when(F.element_at(d, b + 1) >= 0.0,
                             F.lit(1 << b)).otherwise(F.lit(0))
    q1 = q0.select("query_id", "_qv", d.alias("_dots"),
                   bits.alias("_bits"))
    structs = F.array_sort(F.array(*[
        F.struct(F.abs(F.element_at(F.col("_dots"), b + 1)).alias("m"),
                 F.col("_bits").bitwiseXOR(F.lit(1 << b)).alias("pb"))
        for b in range(N_PLANES)]))
    pbs = F.concat(F.array(F.col("_bits")),
                   F.transform(F.slice(structs, 1, probes),
                               lambda s: s["pb"]))
    return q1.select("query_id", "_qv", F.explode(pbs).alias("_bkt"))


def ann_lsh_topk(embs: DataFrame, queries: DataFrame, k: int = 10,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 probes: int = 0) -> DataFrame:
    """(query_id, vec_id, rank): cosine top-k *within the query's LSH
    probe set* — the scale path. Smaller recall than brute force by
    construction; the approximation is part of the spec and the oracle
    reproduces it exactly (same hyperplanes, same fold).

    probes: number of 1-bit-flip neighbor buckets each query probes IN
    ADDITION to its own, chosen in ascending |hyperplane margin| order
    (the flips most likely to hide true neighbors). 0 = round-1
    exact-bucket behavior; N_PLANES = all flips (hamming<=1 probe set,
    gated as `ann_lsh_probe` because its oracle is a clean
    bit_count(xor)<=1 predicate). The corpus is NEVER exploded — only
    the tiny broadcast query side fans out 1+probes rows, so the scale
    shape (bucket equi-join, work proportional to bucket occupancy) is
    unchanged. Measured recall vs brute on the fixture corpus:
    tests/test_text_ops.py::test_ann_multiprobe_recall."""
    if not 0 <= probes <= N_PLANES:
        raise ValueError(f"probes must be in [0, {N_PLANES}]")
    bucketed = embs.select(F.col(id_col), F.col(vec_col).alias("_cv"),
                           lsh_bucket_col(F.col(vec_col)).alias("_bkt"))
    if probes == 0:
        q = queries.select(
            F.col("query_id"), F.col(vec_col).alias("_qv"),
            lsh_bucket_col(F.col(vec_col)).alias("_bkt"))
    else:
        q = _probe_query_df(queries, vec_col, probes)
    # probe buckets are distinct per query and each corpus vector lives
    # in exactly one bucket, so no (query_id, vec_id) pair duplicates
    cand = bucketed.join(F.broadcast(q), "_bkt")
    scored = cand.withColumn("_cos", cosine_col(F.col("_cv"), F.col("_qv")))
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(),
                                               F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "rank"))


def fold_dot_sql(a_col: str, b_col: str, dim: int = EMB_DIM) -> str:
    """DuckDB twin of dedup._fold_dot (left fold, [0.0] prefix)."""
    return (f"list_reduce([0.0] || [CAST({a_col}[i] AS DOUBLE)"
            f" * CAST({b_col}[i] AS DOUBLE) for i in range(1, {dim + 1})],"
            " (a, v) -> a + v)")


def ivf_centroids(embs: DataFrame, n_centroids: int = 8,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> list:
    """Deterministic coarse quantizer for the IVF index: the
    n_centroids smallest-id vectors ARE the centroids — reproducible
    in plain SQL (WHERE vec_id < n), which is what makes ann_ivf_topk
    gate-able. Production swaps in offline-trained centroids (k-means
    over a sample, persisted via TableIO) through the same list shape;
    the driver-side collect here is bounded by n_centroids (<= 256).
    Returns [(centroid_id, [float64 coords])] sorted by id."""
    rows = (embs.filter(F.col(id_col) < n_centroids)
            .select(F.col(id_col), F.col(vec_col)).collect())
    return sorted((int(r[id_col]), [float(x) for x in r[vec_col]])
                  for r in rows)


IVF_TRAIN_SCALE = 1 << 20  # quantization step for exact-int means


def ivf_train_centroids(embs: DataFrame, n_centroids: int = 8,
                        iters: int = 2, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        scale: int = IVF_TRAIN_SCALE) -> list:
    """Spherical k-means refinement of the seed centroids — the
    trained-quantizer path next to the seed-centroid gate.

    Per Lloyd iteration: assign every vector to its max-inner-product
    centroid (map-only literal fold, zero shuffles), then recompute
    each centroid as the L2-normalized elementwise mean of its bucket
    (posexplode -> groupBy(bucket, dim) — one shuffle of
    n_vectors x dim scalar rows; the k x dim result collects to the
    driver, bounded like ivf_centroids). Returns the same
    [(centroid_id, coords)] shape ann_ivf_topk consumes.

    Determinism (what makes this gate-able, round-4): the bucket mean
    is computed as SUM(floor(v * scale)) over exact int64 — integer
    addition is order-independent, so the result does not depend on
    shuffle/partition order, unlike a float avg() (the round-3 reason
    this path had no oracle). The only float ops are the final
    (sum / n) / scale per dim, the left-to-right norm fold over dims,
    and one division per coord — a fixed sequential recipe the DuckDB
    twin replays bit-for-bit (lang_id's exact-int-centroid trick).
    Quantization bias is <= 1/scale per dim (~1e-6) — irrelevant to
    clustering quality, asserted harmless by the objective-
    monotonicity test. No overflow: |v| ~ 1, so per-row |floor(v *
    2^20)| ~ 2^20, leaving room for ~2^43 rows per bucket in int64.
    """
    cents = ivf_centroids(embs, n_centroids, id_col, vec_col)
    for _ in range(iters):
        assigned = embs.select(
            F.col(vec_col),
            F.element_at(_ivf_probe_col(F.col(vec_col), cents, 1), 1)
            .alias("_bkt"))
        rows = (assigned
                .select("_bkt", F.posexplode(F.col(vec_col))
                        .alias("_dim", "_v"))
                .groupBy("_bkt", "_dim")
                .agg(F.sum(F.floor(F.col("_v").cast("double")
                                   * F.lit(float(scale))).cast("long"))
                     .alias("_s"),
                     F.count("*").alias("_n"))
                .collect())
        by_bkt: dict = {}
        for r in rows:
            by_bkt.setdefault(int(r["_bkt"]), {})[int(r["_dim"])] = \
                (int(r["_s"]), int(r["_n"]))
        new_cents = []
        for cid, coords in cents:
            dims = by_bkt.get(cid)
            if not dims:           # empty bucket keeps its old centroid
                new_cents.append((cid, coords))
                continue
            # fixed float recipe, mirrored by ivf_trained_oracle_sql:
            # (double(sum)/n)/scale per dim, then a left-to-right
            # sum-of-squares fold for the norm
            vec = [(float(dims[i][0]) / dims[i][1]) / scale
                   for i in range(len(coords))]
            norm = math.sqrt(sum(v * v for v in vec)) or 1.0
            new_cents.append((cid, [v / norm for v in vec]))
        cents = new_cents
    return cents


def ivf_trained_oracle_sql(n_queries: int, k: int, n_centroids: int = 8,
                           nprobe: int = 2, dim: int = EMB_DIM,
                           scale: int = IVF_TRAIN_SCALE) -> str:
    """DuckDB twin of ONE ivf_train_centroids Lloyd iteration feeding
    ann_ivf_topk: seed-centroid assignment, exact-int quantized bucket
    sums, the same fixed float recipe ((double(sum)/n)/scale per dim,
    [0.0]-prefixed sum-of-squares fold, sqrt-or-1, one division per
    coord), trained-centroid re-assignment, nprobe probing, cosine
    rank. Every float step replays the engine's operation order
    bit-for-bit; the integer sums are order-independent by
    construction, which is what made this path gateable (round 4)."""
    fold = fold_dot_sql
    cos = cosine_sql("e.embedding", "q.qv")
    nrm = "(CASE WHEN sqrt(nn) = 0 THEN 1.0 ELSE sqrt(nn) END)"
    return f"""
        WITH cent0 AS (SELECT vec_id AS cid, embedding AS cv
                       FROM embeddings WHERE vec_id < {n_centroids}),
        s0 AS (SELECT e.vec_id, e.embedding, c.cid,
                      {fold('e.embedding', 'c.cv')} AS dot
               FROM embeddings e CROSS JOIN cent0 c),
        a0 AS (SELECT vec_id, embedding, cid,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dot DESC, cid ASC) AS r
               FROM s0),
        b0 AS (SELECT vec_id, embedding, cid FROM a0 WHERE r = 1),
        sums AS (SELECT cid, d,
                        SUM(CAST(floor(CAST(embedding[d] AS DOUBLE)
                                       * {scale}) AS BIGINT)) AS s,
                        COUNT(*) AS n
                 FROM b0, unnest(range(1, {dim + 1})) t(d)
                 GROUP BY cid, d),
        raw1 AS (SELECT cid,
                        list((CAST(s AS DOUBLE) / n) / {scale}
                             ORDER BY d) AS rc
                 FROM sums GROUP BY cid),
        nrmd AS (SELECT cid, rc,
                        list_reduce([0.0] || [c * c for c in rc],
                                    (a, v) -> a + v) AS nn
                 FROM raw1),
        cent1 AS (SELECT c0.cid,
                         COALESCE([c / {nrm} for c in t.rc],
                                  [CAST(x AS DOUBLE) for x in c0.cv])
                             AS cv
                  FROM cent0 c0 LEFT JOIN nrmd t ON c0.cid = t.cid),
        s1 AS (SELECT e.vec_id, e.embedding, c.cid,
                      {fold('e.embedding', 'c.cv')} AS dot
               FROM embeddings e CROSS JOIN cent1 c),
        a1 AS (SELECT vec_id, embedding, cid,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dot DESC, cid ASC) AS r
               FROM s1),
        corpus AS (SELECT vec_id, embedding, cid FROM a1 WHERE r = 1),
        qprobe AS (SELECT vec_id AS query_id, embedding AS qv, cid
                   FROM a1 WHERE vec_id < {n_queries} AND r <= {nprobe})
        SELECT query_id, vec_id, rank FROM (
            SELECT q.query_id, e.vec_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {cos} DESC, e.vec_id ASC) AS INT)
                       AS rank
            FROM qprobe q JOIN corpus e ON q.cid = e.cid)
        WHERE rank <= {k}
    """


def _ivf_probe_col(vec: Column, centroids: list, nprobe: int) -> Column:
    """array<long> of the nprobe highest-inner-product centroid ids
    for a vector (ties break on centroid id ascending). Map-only:
    centroid coordinates are plan literals, the argsort is a per-row
    array_sort over n_centroids structs — NO shuffle, so corpus-side
    bucket assignment (nprobe=1) scales like the LSH bucketing."""
    entries = F.array(*[
        F.struct((-_fold_dot(vec, _plane_lit(cv))).alias("nd"),
                 F.lit(cid).alias("cid"))
        for cid, cv in centroids])
    return F.transform(F.slice(F.array_sort(entries), 1, nprobe),
                       lambda s: s["cid"].cast("long"))


def ann_ivf_topk(embs: DataFrame, queries: DataFrame, k: int = 10,
                 n_centroids: int = 8, nprobe: int = 2,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 centroids: list | None = None) -> DataFrame:
    """(query_id, vec_id, rank): IVF-style ANN — the second scale path
    next to random-hyperplane LSH. Corpus vectors are assigned to
    their single nearest centroid (max inner product, map-only literal
    fold); each query probes its `nprobe` nearest centroids' inverted
    lists; exact cosine ranks within the candidates. The approximation
    (nearest-centroid partition + nprobe probing) is part of the spec
    and the DuckDB oracle reproduces it exactly (seed centroids; pass
    `centroids` from ivf_train_centroids for the trained-quantizer
    path — engine-only, not SQL-reproducible)."""
    cents = (centroids if centroids is not None
             else ivf_centroids(embs, n_centroids, id_col, vec_col))
    corpus = embs.select(
        F.col(id_col), F.col(vec_col).alias("_cv"),
        F.element_at(_ivf_probe_col(F.col(vec_col), cents, 1), 1)
        .alias("_bkt"))
    q = queries.select(
        F.col("query_id"), F.col(vec_col).alias("_qv"),
        F.explode(_ivf_probe_col(F.col(vec_col), cents, nprobe))
        .alias("_bkt"))
    cand = corpus.join(F.broadcast(q), "_bkt")
    scored = cand.withColumn("_cos", cosine_col(F.col("_cv"), F.col("_qv")))
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
                     F.col(vec_col).alias("_va"))
    vb = embs.select(F.col(id_col).alias("vec_b"),
                     F.col(vec_col).alias("_vb"))
    return (cand.join(va, "vec_a").join(vb, "vec_b")
            .filter(cosine_col(F.col("_va"), F.col("_vb")) >= tau)
            .select("vec_a", "vec_b"))
