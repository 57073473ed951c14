"""Deduplication operators for the training-data pipeline layer.

Four family members, each a first-class distributed operator over the
``pages`` shape (url, text, ...) or ``embeddings`` (vec_id, embedding):

* ``exact_dedup``      — content-hash groupBy (one shuffle on digest).
* ``minhash_lsh_pairs``— shingle → minhash → LSH band bucket self-join
                         → exact n-gram-Jaccard verification.
* ``simhash_pairs``    — 60-bit simhash → 15-bit-chunk LSH self-join →
                         hamming verify. With max_hamming <= 3 the
                         4-chunk pigeonhole makes the LSH itself
                         exhaustive; the result equals the brute-force
                         O(n²) answer when the max_bucket cap is off or
                         never fires (see the function docstring).
* ``emb_near_dup``     — embedding-cosine near-duplicate pairs
                         (brute-force; the LSH-bucketed scale path is
                         operators/ann.py::emb_near_dup_lsh, which
                         buckets with ann.lsh_bucket_col).
* ``connected_components`` — cluster verdicts over any pair stream
                         (label propagation to fixpoint; min-url
                         canonical label per component).

Scale notes (10^12 rows):
- All self-joins key on (band/chunk, key-hash): shuffle carries only
  (key, url) pairs — text/sig arrays are re-joined AFTER the candidate
  set is formed, so the wide columns never shuffle twice.
- Degenerate buckets (boilerplate pages → one bucket with 10^6 urls →
  quadratic pair blowup) are dropped via ``max_bucket``: a bucket with
  more members than the cap is by definition a *cluster*, not a pair
  stream — those are reported separately by ``oversize_buckets`` and
  handled by representative sampling, exactly how production dedup
  treats boilerplate.
- Everything JVM-side (higher-order functions); the only Python is the
  simhash bit-fold, an Arrow-batched numpy reduceat.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ..functions import text as T

DEFAULT_MAX_BUCKET = 1000


def release_caches(cache_registry: list) -> None:
    """Unpersist every handle collected through a `cache_registry=`
    argument — persisted DataFrames, and the checkpoint rotator behind
    connected_components' labels. Call AFTER materializing the
    returned result — it is lazy, so releasing earlier would force a
    full recompute of the signature pipeline. Long-lived sessions that
    skip the registry can still spark.catalog.clearCache(); the
    production path (jobs/dedup_job) checkpoints signatures through
    TableIO instead of persisting."""
    while cache_registry:
        cache_registry.pop().unpersist()


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(pages: DataFrame, id_col: str = "url",
                text_col: str = "text") -> DataFrame:
    """Group by md5(text): (digest, n_docs, canonical_url=min url).

    One hash-aggregate shuffle keyed on the 32-hex digest; partial
    aggregation halves the shuffle. The text column itself never
    shuffles — only (digest, url).
    """
    return (pages
            .select(F.md5(F.encode(F.col(text_col), "UTF-8")).alias("digest"),
                    F.col(id_col))
            .groupBy("digest")
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("canonical_url")))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _bucket_filter(buckets: DataFrame, keys,
                   max_bucket: int | None) -> DataFrame:
    """Drop LSH buckets larger than max_bucket (boilerplate clusters).
    max_bucket=None disables the cap (exact recall, quadratic risk)."""
    if max_bucket is None:
        return buckets
    hot = (buckets.groupBy(*keys).agg(F.count("*").alias("_n"))
           .filter(F.col("_n") > max_bucket).drop("_n"))
    return buckets.join(F.broadcast(hot), list(keys), "left_anti")


def oversize_buckets(buckets: DataFrame, keys,
                     max_bucket: int) -> DataFrame:
    """The buckets _bucket_filter drops: (*keys, n_members) with
    n_members > max_bucket. A bucket past the cap is a boilerplate
    *cluster*, not a pair stream — production pipelines route these to
    representative sampling. Use `minhash_band_buckets` /
    `simhash_chunk_buckets` to build the bucket stream to inspect."""
    return (buckets.groupBy(*keys).agg(F.count("*").alias("n_members"))
            .filter(F.col("n_members") > max_bucket))


def minhash_signatures(pages: DataFrame, id_col: str = "url",
                       text_col: str = "text", k: int = 3) -> DataFrame:
    """(url, sh: array<long> distinct shingle hashes, sigs: array<long>
    minhash signature). One md5 per shingle feeds BOTH outputs (sh is
    the h1 part; sigs are affine combinations — functions/text.py), the
    hash family the DuckDB oracle replays.

    Docs with < k tokens have no shingles and are excluded (a 2-token
    page cannot be a shingle near-dup of anything).
    """
    toks = T.tokens(F.col(text_col))
    df = pages.select(
        F.col(id_col),
        T.shingles(toks, k).alias("_shingles"))
    df = df.filter(F.size("_shingles") > 0)
    # stage the per-shingle (h1, h2) arrays in their OWN projection,
    # then build sh and the 16 signature slots from the staged columns
    # (T.affine_min_sigs) — value-identical to the round-1 aggregate
    # fold but ~7x cheaper (one flat zip_with+array_min pass per slot
    # instead of a 16-wide array allocation per shingle), and sh now
    # REUSES the h1 array instead of recomputing the hash. The staging
    # also keeps Catalyst from re-inlining the crypto hash into the 17
    # downstream references (plan-asserted in tests/test_plans.py).
    df = df.select(id_col,
                   T.shingle_md5s(F.col("_shingles")).alias("_md5s"))
    df = df.select(
        id_col,
        F.transform(F.col("_md5s"), T.h60_from_md5).alias("_h1s"),
        F.transform(F.col("_md5s"), T.md5_h2).alias("_h2s"))
    return df.select(
        id_col,
        F.array_distinct(F.col("_h1s")).alias("sh"),
        T.affine_min_sigs(F.col("_h1s"), F.col("_h2s")).alias("sigs"))


def minhash_band_buckets(sigs: DataFrame, id_col: str = "url") -> DataFrame:
    """(url, band, band_key) LSH bucket stream from minhash_signatures
    output — feed to oversize_buckets for boilerplate reporting."""
    return sigs.select(
        F.col(id_col),
        F.posexplode(T.band_keys(F.col("sigs"))).alias("band", "band_key"))


def minhash_lsh_pairs(pages: DataFrame, threshold: float = 0.5,
                      id_col: str = "url", text_col: str = "text",
                      k: int = 3,
                      max_bucket: int | None = DEFAULT_MAX_BUCKET,
                      cache_registry: list | None = None) -> DataFrame:
    """Near-dup pairs (url_a, url_b, jaccard) with set-Jaccard over
    k-token shingle hashes >= threshold, candidates from 4x4 minhash
    LSH banding.

    Plan shape: sigs (map-only) → explode bands (map-only) → self-join
    on (band, key) → distinct pairs → re-join sh arrays → verify.

    Caching note: the signatures intermediate is persist()ed (it feeds
    three plan branches and the result stays lazy, so it cannot be
    unpersisted here without recompute). Pass `cache_registry=[]` and
    call release_caches(registry) after materializing the result; or
    spark.catalog.clearCache() in a long-lived session; or persist
    signatures to a table (TableIO) as the production pipeline does.
    """
    # materialize signatures once: they feed BOTH sides of the band
    # self-join plus the verification re-join, and without a persist
    # each reference recomputes the full shingle+hash pipeline (at
    # 10^12 rows the production job writes signatures to a table —
    # TableIO — before pairing; persist is the in-session equivalent)
    sigs = minhash_signatures(pages, id_col, text_col, k).persist()
    if cache_registry is not None:
        cache_registry.append(sigs)
    return pairs_from_signatures(sigs, threshold=threshold, id_col=id_col,
                                 max_bucket=max_bucket)


def pairs_from_signatures(sigs: DataFrame, threshold: float = 0.5,
                          id_col: str = "url",
                          max_bucket: int | None = DEFAULT_MAX_BUCKET
                          ) -> DataFrame:
    """The pair stage alone, over a (url, sh, sigs) signatures relation
    — either the in-session persist from minhash_lsh_pairs or a
    TableIO-committed signatures table (jobs/dedup_job.py), which is
    how the production pipeline runs it: signatures are computed once,
    checkpointed, and every pairing/threshold experiment reads the
    table instead of re-hashing the corpus.

    Candidate-stage shape, settled by measurement (r4): the two-sided
    band self-join LOOKS like it shuffles the band stream twice, but
    both sides are the same subplan over the persisted signatures, so
    Spark's ReuseExchange materializes ONE shuffle. Two groupBy-
    collect_list + in-bucket-expansion rewrites (tail-slice pairs and
    index-sequence pairs) both benched ~1.7x SLOWER at sf0.1 (cand
    stage 3.8s join vs 6.9s grouped; full pairs 4.2s vs 8.5s) — the
    array materialization + 1.3M-struct explode costs more than the
    hash join it saves. Keep the join; the cap anti-join is a
    broadcast against the (small) oversize-bucket list."""
    bands = minhash_band_buckets(sigs, id_col)
    bands = _bucket_filter(bands, ("band", "band_key"), max_bucket)

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("url_a"),
                    F.col(f"b.{id_col}").alias("url_b"))
            .distinct())

    sh = sigs.select(F.col(id_col), F.col("sh"))
    cand = (cand
            .join(sh.withColumnRenamed(id_col, "url_a")
                    .withColumnRenamed("sh", "sh_a"), "url_a")
            .join(sh.withColumnRenamed(id_col, "url_b")
                    .withColumnRenamed("sh", "sh_b"), "url_b"))

    # sh arrays are distinct, so |a ∪ b| = |a| + |b| - |a ∩ b| — one
    # hash-set pass (intersect) instead of two (the oracle's _JACC is
    # already written this way)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (cand
            .withColumn("jaccard",
                        inter.cast("double") / union.cast("double"))
            .filter(F.col("jaccard") >= threshold)
            .select("url_a", "url_b", "jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

@pandas_udf(LongType())
def simhash_udf(token_hashes: pd.Series) -> pd.Series:
    """60-bit simhash from per-token h60 hashes (multiplicity kept).

    Bit b of the result is set iff sum over tokens of (2*bit_b(h) - 1)
    is >= 0, i.e. 2*ones_b >= n — exact integer arithmetic, identical
    to the DuckDB oracle's per-bit majority.

    Vectorized (r5 restaging, ~3x less work than the r4 shape): one
    np.unpackbits view turns the flat hash array into an (n, 64) uint8
    bit matrix — 8 bytes/hash, same footprint as the int64 input, far
    below the (n, 60) int64 sign matrix that OOM'd workers in r2 —
    and ONE int64-accumulated reduceat sums all 64 bit columns per doc
    in a single pass (the r4 shape re-scanned the flat array 60 times,
    shift+mask+reduceat per bit). Bits 60-63 of an h60 hash are zero,
    so their majority is never reached and they pack back to zero.
    """
    lens = token_hashes.str.len().to_numpy(dtype=np.int64)
    out = np.zeros(len(lens), dtype=np.int64)
    total = int(lens.sum())
    if total:
        arrs = [np.asarray(row, dtype=np.int64)
                for row in token_hashes if len(row)]
        flat = arrs[0] if len(arrs) == 1 else np.concatenate(arrs)
        nonempty = lens > 0
        ne_lens = lens[nonempty]
        ne_off = np.zeros(len(ne_lens), dtype=np.int64)
        np.cumsum(ne_lens[:-1], out=ne_off[1:])
        bits = np.unpackbits(flat.view(np.uint8).reshape(-1, 8),
                             axis=1, bitorder="little")
        ones = np.add.reduceat(bits, ne_off, axis=0, dtype=np.int64)
        vals = np.packbits(
            (2 * ones >= ne_lens[:, None]).astype(np.uint8),
            axis=1, bitorder="little").view(np.int64).ravel()
        out[nonempty] = vals
    return pd.Series(out)


def simhash_df(pages: DataFrame, id_col: str = "url",
               text_col: str = "text") -> DataFrame:
    """(url, simhash) — docs with >= 1 token."""
    th = T.token_hashes(F.col(text_col))
    return (pages.select(F.col(id_col), th.alias("_th"))
            .filter(F.size("_th") > 0)
            .select(id_col, simhash_udf(F.col("_th")).alias("simhash")))


def simhash_chunk_buckets(sims: DataFrame,
                          id_col: str = "url") -> DataFrame:
    """(url, simhash, chunk, chunk_val) LSH bucket stream from
    simhash_df output — feed to oversize_buckets for reporting."""
    return sims.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(F.array(*[T.simhash_chunk(F.col("simhash"), c)
                               for c in range(T.SIMHASH_CHUNKS)]))
        .alias("chunk", "chunk_val"))


def simhash_pairs(pages: DataFrame, max_hamming: int = 3,
                  id_col: str = "url", text_col: str = "text",
                  max_bucket: int | None = DEFAULT_MAX_BUCKET,
                  cache_registry: list | None = None) -> DataFrame:
    """Near-dup pairs (url_a, url_b, hamming) with hamming(simhash) <=
    max_hamming, candidates from 4x15-bit chunk LSH.

    Recall contract: for max_hamming <= SIMHASH_CHUNKS - 1 the chunk
    LSH itself is exhaustive (pigeonhole: <=3 flipped bits leave at
    least one of the 4 chunks identical), so the result equals the
    brute-force O(n²) answer IFF the bucket cap does not fire — i.e.
    max_bucket=None, or no 15-bit chunk value is shared by more than
    max_bucket docs. On a boilerplate-heavy corpus with the cap on,
    pairs inside oversize buckets are intentionally dropped; inspect
    them via oversize_buckets(simhash_chunk_buckets(simhash_df(...)),
    ("chunk", "chunk_val"), max_bucket). The DuckDB-gated query runs
    with max_bucket=None so its brute-force oracle is exact.
    """
    if max_hamming > T.SIMHASH_CHUNKS - 1:
        raise ValueError("chunk-LSH guarantees recall only for "
                         f"max_hamming <= {T.SIMHASH_CHUNKS - 1}")
    # persist: both sides of the chunk self-join reuse the simhashes
    # (release via cache_registry + release_caches, as in
    # minhash_lsh_pairs)
    sims = simhash_df(pages, id_col, text_col).persist()
    if cache_registry is not None:
        cache_registry.append(sims)

    chunks = simhash_chunk_buckets(sims, id_col)
    chunks = _bucket_filter(chunks, ("chunk", "chunk_val"), max_bucket)

    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # hamming BEFORE distinct: hamming is a pure function of the pair,
    # so filter-then-distinct ≡ distinct-then-filter — but the filter
    # kills the (far) majority of LSH candidates, so the distinct's
    # shuffle carries only true near-dups instead of every candidate
    # (r5: measured ~2x on the join phase at bench scale)
    return (a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.chunk_val") == F.col("b.chunk_val"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("url_a"),
                    F.col(f"b.{id_col}").alias("url_b"),
                    ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs (cluster verdicts)
# ---------------------------------------------------------------------------

def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star operation (Kiveris et al. 2014, "Connected Components
    in MapReduce and Beyond" — public): every vertex u connects each
    strictly-LARGER neighbor to m = min(N(u) ∪ {u}). Emitted edges are
    oriented (larger, smaller). Implemented as groupBy-min + re-join
    (NOT collect_list): a 10^6-degree hub costs one partial-aggregated
    min and a 1:1 fan-in join — no single-task neighbor list."""
    und = edges.union(edges.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
    mins = und.groupBy("u").agg(F.min("v").alias("_mv"))
    return (und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"),
                    F.least(F.col("_mv"), F.col("u")).alias("v"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star operation: direct every edge large→small, then every
    vertex u connects itself and each smaller neighbor to
    m = min(N(u)); output stays oriented (larger, smaller)."""
    dird = edges.select(F.greatest("u", "v").alias("u"),
                        F.least("u", "v").alias("v"))
    mins = dird.groupBy("u").agg(F.min("v").alias("_mv"))
    nbrs = (dird.join(mins, "u")
            .filter(F.col("v") != F.col("_mv"))
            .select(F.col("v").alias("u"), F.col("_mv").alias("v")))
    self_edges = mins.select("u", F.col("_mv").alias("v"))
    return nbrs.union(self_edges).distinct()


def connected_components(pairs: DataFrame, id_a: str = "url_a",
                         id_b: str = "url_b",
                         max_iters: int = 50,
                         cache_registry: list | None = None) -> DataFrame:
    """(url, cluster) labeling of the near-dup pair graph: every vertex
    gets the MINIMUM url of its connected component — the canonical
    per-cluster dedup verdict (jobs/dedup_job.py's keep-min-neighbor
    rule keeps >= 1 representative per cluster without iterating; this
    operator yields exactly-one-per-cluster semantics when that is
    required).

    Algorithm: alternating large-star / small-star (Kiveris et al.
    2014 — public MapReduce literature), which converges in O(log n)
    rounds on ANY graph — replacing round 3's min-label propagation,
    whose O(diameter) rounds meant one adversarial 10^2-link chain in
    a 100 TB corpus hit the max_iters abort (round-3 verdict item).
    At the fixpoint every component is a star rooted at its minimum
    vertex, so labels read directly off the final edge set. Each round
    is two groupBy-min + join passes over the (shrinking) edge set —
    vertex pairs only, never payloads — and is localCheckpoint'ed with
    the previous round released (ckpt.CheckpointRotator). Convergence
    is edge-set fixpoint of BOTH operations (per op: |E| unchanged AND
    E_new \\ E_old empty — distinct sets, so together set equality);
    the per-round counts are single aggregate rows, like kNN's loop.
    max_iters stays as a safety bound; non-convergence raises rather
    than returning a partial labeling.

    The returned labels are backed by one checkpoint; pass
    `cache_registry` and call release_caches after materializing them,
    as with minhash_lsh_pairs.
    """
    from ..ckpt import CheckpointRotator

    rot = CheckpointRotator(pairs.sparkSession.sparkContext)
    # canonical orientation (larger, smaller), self-loops dropped; the
    # input pipeline (often the full minhash stack) is read EXACTLY
    # once — everything after round 0 reads checkpointed edge sets
    edges = rot.checkpoint(
        pairs.select(F.greatest(id_a, id_b).alias("u"),
                     F.least(id_a, id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct())
    prev_cnt = edges.count()
    for _ in range(max_iters):
        # checkpoint the large-star intermediate too: small_star reads
        # it twice (groupBy + re-join) and the stability check a third
        # time. Converged iff BOTH ops were no-ops this round — each
        # side is a distinct set, so (same count, empty new-minus-old)
        # means set equality; the theorem's fixpoint-of-both is what
        # guarantees the edge set is a union of min-rooted stars.
        large = rot.checkpoint(_large_star(edges))
        cnt_l = large.count()
        stable_l = (cnt_l == prev_cnt
                    and large.exceptAll(edges).count() == 0)
        small = rot.checkpoint(_small_star(large))
        new_cnt = small.count()
        stable_s = (new_cnt == cnt_l
                    and small.exceptAll(large).count() == 0)
        rot.release_previous()     # frees `edges` and `large`
        edges, prev_cnt = small, new_cnt
        if stable_l and stable_s:
            break
    else:
        rot.unpersist()
        raise RuntimeError(f"connected_components did not converge in "
                           f"{max_iters} rounds")
    # Fixpoint edges are (vertex, component-min) stars: every non-root
    # vertex is exactly one u-side row, every root appears only as a
    # v-side (components have >= 2 vertices since every input vertex
    # carried an edge), so the full vertex set reads off the final
    # edges alone — no reference back to the released round-0
    # checkpoint. Checkpointing the labels (then releasing the edge
    # checkpoint they read) keeps the round-3 contract: the input
    # pipeline is fully consumed at call time and exactly ONE cached
    # RDD — the returned labels — survives, held by the rotator that
    # goes into cache_registry.
    labels = rot.checkpoint(
        edges.select(F.col("u").alias("url"), F.col("v").alias("cluster"))
        .union(edges.select(F.col("v").alias("url"),
                            F.col("v").alias("cluster")).distinct()))
    rot.release_previous()
    if cache_registry is not None:
        cache_registry.append(rot)
    return labels


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (brute-force; LSH scale path in ann.py)
# ---------------------------------------------------------------------------

def _fold_dot(a: Column, b: Column) -> Column:
    """Deterministic left-to-right double dot product (JVM aggregate —
    the SAME operation order as the DuckDB oracle's list_reduce, so the
    result is bit-identical; no FMA, no reassociation)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm_col(v: Column) -> Column:
    """sqrt of the vector's self fold: computed once per vector, before
    any pair join, and passed to cosine_col."""
    return F.sqrt(_fold_dot(v, v))


def cosine_col(va: Column, vb: Column, na: Column, nb: Column) -> Column:
    """Fold cosine of va and vb given their norm_col values na and nb —
    the same arithmetic as the oracle's fold(a,b) / (sqrt(fold(a,a)) *
    sqrt(fold(b,b))), with the two self folds hoisted out of the pair."""
    return _fold_dot(va, vb) / (na * nb)


def emb_near_dup(embs: DataFrame, tau: float = 0.4,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """All pairs (vec_a, vec_b) with cosine >= tau — brute force O(n²),
    the verification baseline for ann.py's LSH variant. Cosine itself is
    excluded from the output (pair membership is integer-exact because
    the fold order matches the oracle bit-for-bit)."""
    a = embs.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("_va"),
                    norm_col(F.col(vec_col)).alias("_na"))
    b = a.toDF("vec_b", "_vb", "_nb")
    return (a.join(b, F.col("vec_a") < F.col("vec_b"))
            .filter(cosine_col(F.col("_va"), F.col("_vb"), F.col("_na"),
                               F.col("_nb")) >= tau)
            .select("vec_a", "vec_b"))


def dedup_apply(pages: DataFrame, threshold: float = 0.5,
                id_col: str = "url", text_col: str = "text", k: int = 3,
                max_bucket: int | None = DEFAULT_MAX_BUCKET,
                cache_registry: list | None = None) -> DataFrame:
    """(url, cluster, kept) — the END-TO-END near-duplicate removal
    verdict, one row per input document: MinHash-LSH pairs →
    connected components → keep exactly the MIN url of each near-dup
    cluster. This is the single call a corpus owner runs to
    deduplicate; the stages stay available separately for pipelines
    that checkpoint signatures or tune thresholds (jobs/dedup_job.py).

    kept is true iff the doc is its own cluster representative —
    unclustered docs (no near-dup partner) label themselves and are
    always kept, so exactly one doc per cluster survives.

    Scale shape: the pair graph and label rounds touch vertex ids
    only (connected_components); the final verdict is a LEFT join of
    the corpus' url column against the (near-dup members only) label
    relation — payloads never shuffle, and the label side is the
    duplicate subset, not the corpus. Pass cache_registry and call
    release_caches after materializing, as with minhash_lsh_pairs.
    """
    pairs = minhash_lsh_pairs(pages, threshold, id_col, text_col, k,
                              max_bucket=max_bucket,
                              cache_registry=cache_registry) \
        .select("url_a", "url_b")
    labels = connected_components(            # eager; checkpoint-backed
        pairs, cache_registry=cache_registry)
    cluster = F.coalesce("cluster", F.col(id_col))
    return (pages.select(id_col)
            .join(labels.withColumnRenamed("url", id_col), id_col, "left")
            .select(id_col, cluster.alias("cluster"),
                    (cluster == F.col(id_col)).alias("kept")))


# ---------------------------------------------------------------------------
# Line-level (boilerplate) dedup — CCNet-style paragraph dedup
# ---------------------------------------------------------------------------

def line_dedup(pages: DataFrame, min_docs: int = 2, id_col: str = "url",
               text_col: str = "text",
               broadcast_boiler: bool | None = True,
               max_broadcast_lines: int = 2_000_000,
               cache_registry: list | None = None) -> DataFrame:
    """Remove boilerplate lines: any line (exact bytes, '\\n'-split)
    appearing in >= ``min_docs`` DISTINCT documents is dropped from
    every document (the CCNet/C4 shard-dedup rule — nav bars, cookie
    banners, footers repeat across pages; real content rarely does).

    Returns (url, n_lines, n_kept, text_clean) for EVERY input doc —
    text_clean is the surviving lines re-joined in original order
    (byte-identical to the source bytes of those lines; the input
    ``text`` column itself is never rewritten — CLAUDE.md invariant).

    Scale shape (10^12 rows): two passes over the text column.
    Pass 1 aggregates line -> distinct-doc count (partial map-side
    agg; only (line, url) pairs shuffle) and keeps the frequent set;
    pass 2 LEFT-joins that set against the line stream and reassembles
    per doc with one hash-aggregate on url. The frequent-line set is
    bounded by lines occurring >= min_docs times (boilerplate
    vocabulary), not by corpus size — USUALLY a small head that
    broadcasts, so pages never shuffle. But a pathological corpus
    (templated boilerplate at web scale) can outgrow the 8 GiB
    broadcast cap and ABORT the job, the same failure mode as r4's
    dist_join 12.7 GiB broadcast bug — so the join side is guarded:

    * ``broadcast_boiler=True``  — hint broadcast (the common case);
    * ``broadcast_boiler=False`` — pin ``shuffle_hash``: both sides
      shuffle on line, no driver-side build, works at any set size
      (decontaminate's ``broadcast_bench=False`` twin);
    * ``broadcast_boiler=None``  — AUTO: persist the frequent set,
      count it (the count is against the aggregated output, not the
      corpus), and pick broadcast iff count <= max_broadcast_lines.
      The persist also keeps pass 1 from running twice (count + join);
      register it via ``cache_registry`` + release_caches, as with
      minhash_lsh_pairs.
    """
    lines = pages.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"))
    boiler = (lines.groupBy("line")
              .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
              .filter(F.col("_nd") >= min_docs)
              .select("line", F.lit(True).alias("_boiler")))
    if broadcast_boiler is None:
        boiler = boiler.persist()
        if cache_registry is not None:
            cache_registry.append(boiler)
        broadcast_boiler = boiler.count() <= max_broadcast_lines
    boiler = (F.broadcast(boiler) if broadcast_boiler
              else boiler.hint("shuffle_hash"))
    flagged = lines.join(boiler, "line", "left")
    keep = F.col("_boiler").isNull()
    # collect_list skips nulls; array_sort orders by pos (unique per
    # url), so reassembly is deterministic and order-preserving
    kept_struct = F.when(keep, F.struct(F.col("pos"), F.col("line")))
    return (flagged.groupBy(id_col)
            .agg(F.count("*").alias("n_lines"),
                 F.count(F.when(keep, F.lit(1))).alias("n_kept"),
                 F.array_join(
                     F.transform(F.array_sort(F.collect_list(kept_struct)),
                                 lambda s: s["line"]),
                     "\n").alias("text_clean")))
