"""Unit tests for the training-data pipeline operators (dedup /
similarity / text analysis / multimodal) — scalar twins and invariants,
independent of the DuckDB e2e gate in test_e2e_spark.py."""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.functions import text as T
from s2geometry_spark.operators import ann, dedup, media, textstats

SF_DIR = "/root/testdata/sf0.01"


def h60_py(s: str) -> int:
    """Scalar twin of functions/text.h60 (independent implementation)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def simhash_py(text: str) -> int:
    toks = [t for t in text.split() if t]
    hashes = [h60_py(t) for t in toks]
    out = 0
    for b in range(T.SIMHASH_BITS):
        acc = sum(2 * ((h >> b) & 1) - 1 for h in hashes)
        if acc >= 0:
            out |= 1 << b
    return out


@pytest.fixture(scope="module")
def docs(spark):
    from s2geometry_spark.sources.pages import (documents_to_pages,
                                                load_documents)
    return documents_to_pages(load_documents(spark, SF_DIR)).cache()


def test_h60_spark_matches_scalar(spark):
    vals = ["", "a", "hello world", "0|x y z", "äöü"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [r[0] for r in df.select(T.h60(F.col("s"))).collect()]
    assert got == [h60_py(v) for v in vals]
    assert all(0 <= g < 1 << 60 for g in got)


def test_simhash_udf_matches_scalar(spark, docs):
    sample = dedup.simhash_df(docs.limit(50)).collect()
    texts = {r["url"]: r["text"]
             for r in docs.limit(50).select("url", "text").collect()}
    assert len(sample) == 50
    for r in sample:
        assert r["simhash"] == simhash_py(texts[r["url"]]), r["url"]


def test_simhash_pairs_equal_brute_force(spark, docs):
    """Chunk-LSH with max_hamming=3 must equal the O(n²) answer."""
    sims = {r["url"]: r["simhash"]
            for r in dedup.simhash_df(docs).collect()}
    brute = set()
    urls = sorted(sims)
    for i, a in enumerate(urls):
        for b in urls[i + 1:]:
            if bin(sims[a] ^ sims[b]).count("1") <= 3:
                brute.add((a, b))
    got = {(r["url_a"], r["url_b"])
           for r in dedup.simhash_pairs(docs, max_hamming=3).collect()}
    assert got == brute


def test_simhash_pairs_rejects_unsafe_hamming(spark, docs):
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs, max_hamming=T.SIMHASH_CHUNKS)


def test_minhash_pairs_find_planted_near_dups(spark, docs):
    """The sf0.01 corpus contains planted shingle near-dups (max
    Jaccard ≈ 0.99); banding must surface high-similarity pairs, and
    every reported jaccard must match a set-based recompute."""
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.2).collect()
    assert len(pairs) > 0
    assert any(p["jaccard"] > 0.8 for p in pairs)
    texts = {r["url"]: r["text"]
             for r in docs.select("url", "text").collect()}

    def shingle_set(t):
        toks = [x for x in t.split() if x]
        return {h60_py(" ".join(toks[i:i + 3]))
                for i in range(len(toks) - 2)}

    for p in pairs:
        a, b = shingle_set(texts[p["url_a"]]), shingle_set(texts[p["url_b"]])
        expect = len(a & b) / len(a | b)
        assert p["jaccard"] == pytest.approx(expect, abs=0)


def test_minhash_signatures_equal_aggregate_fold(spark, docs):
    """minhash_signatures' numpy signatures must be VALUE-identical to the
    JVM aggregate fold T.minhash_sigs over the same shingles (the
    DuckDB oracle replays the fold, so any drift would show up as a
    gate hash mismatch — catch it here first)."""
    small = docs.limit(120)
    got = dedup.minhash_signatures(small).orderBy("url").collect()
    shingles = T.shingles(T.tokens(F.col("text")), 3)
    fold = (small.select("url", shingles.alias("_shingles"))
            .filter(F.size("_shingles") > 0)
            .select("url", T.minhash_sigs(F.transform(
                "_shingles", lambda s: F.md5(F.encode(s, "UTF-8"))))
                .alias("sigs"))
            .orderBy("url").collect())
    assert [(r["url"], r["sigs"]) for r in got] == \
        [(r["url"], r["sigs"]) for r in fold]


def test_signature_schemas_unchanged(spark, docs):
    """dedup_job resumes over signature tables written by earlier
    versions, so names, types and nullability are part of the contract."""
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)
    longs = ArrayType(LongType(), True)
    assert dedup.minhash_signatures(docs).schema == StructType([
        StructField("url", StringType(), False),
        StructField("sh", longs, True),
        StructField("sigs", longs, False)])
    assert dedup.simhash_df(docs).schema == StructType([
        StructField("url", StringType(), False),
        StructField("simhash", LongType(), True)])


def test_exact_dedup_finds_planted_duplicate(spark, docs):
    dup = docs.limit(3).withColumn(
        "url", F.concat(F.lit("copy/"), F.col("url")))
    out = dedup.exact_dedup(docs.unionByName(dup))
    groups = out.filter(F.col("n_docs") > 1).collect()
    assert len(groups) == 3
    for g in groups:
        assert g["n_docs"] == 2
        assert g["canonical_url"].startswith("copy/")  # min(url): 'c' < 's'


def test_lsh_bucket_matches_numpy_signs(spark):
    """JVM fold bucket bits vs numpy matmul signs (no near-zero dots in
    this corpus, so reassociation cannot flip any sign)."""
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(100)
    got = {r["vec_id"]: r["bkt"] for r in embs.select(
        "vec_id", ann.lsh_bucket_col(F.col("embedding")).alias("bkt")).collect()}
    rows = embs.collect()
    H = np.array(ann.HYPERPLANES)
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        dots = H @ v
        assert np.min(np.abs(dots)) > 1e-9
        expect = int(((dots >= 0).astype(np.int64)
                      << np.arange(ann.N_PLANES)).sum())
        assert got[r["vec_id"]] == expect


def test_media_features_scalar_twin(spark, docs):
    from s2geometry_spark.sources.pages import (documents_to_pages,
                                                load_documents)
    pages = documents_to_pages(load_documents(spark, SF_DIR),
                               with_html=True).limit(20)
    payloads = {r["url"]: bytes(r["html"])
                for r in pages.select("url", "html").collect()}
    out = media.media_features(pages).collect()
    assert len(out) == 20
    for r in out:
        expect = media.fake_decode_features(payloads[r["url"]])
        assert list(r["features"]) == expect.tolist()
        assert sum(r["features"]) == len(payloads[r["url"]])


def test_decode_media_is_a_marked_stub():
    with pytest.raises(NotImplementedError):
        media.decode_media(b"\x89PNG", "png")


def test_frame_sample_reconstructs_payload(spark):
    """Frames at stride == width tile the payload exactly."""
    from s2geometry_spark.sources.pages import (documents_to_pages,
                                                load_documents)
    pages = documents_to_pages(load_documents(spark, SF_DIR),
                               with_html=True).limit(5)
    frames = media.frame_sample(pages, stride=64, width=64).collect()
    payloads = {r["url"]: bytes(r["html"]).decode()
                for r in pages.select("url", "html").collect()}
    by_url: dict[str, list] = {}
    for fr in frames:
        by_url.setdefault(fr["url"], []).append(fr)
    for url, frs in by_url.items():
        frs.sort(key=lambda r: r["frame_idx"])
        s = payloads[url]
        assert [f["frame_idx"] for f in frs] == list(range(len(frs)))
        for f in frs:
            chunk = s[f["frame_idx"] * 64:f["frame_idx"] * 64 + 64]
            assert f["frame_md5"] == hashlib.md5(chunk.encode()).hexdigest()
        assert sum(f["frame_bytes"] for f in frs) == len(s)


def test_lang_id_deterministic_and_total(spark, docs):
    out = textstats.lang_id(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    langs = {r["lang"] for r in rows}
    assert {r["lang_pred"] for r in rows}.issubset(langs)
    again = {(r["url"], r["lang_pred"]) for r in textstats.lang_id(docs).collect()}
    assert again == {(r["url"], r["lang_pred"]) for r in rows}


def test_bucket_filter_drops_hot_buckets(spark, docs):
    """A max_bucket cap of 1 must produce no candidate pairs at all."""
    out = dedup.minhash_lsh_pairs(docs, threshold=0.0, max_bucket=1)
    assert out.count() == 0


def test_simhash_cap_contract_and_oversize_reporting(spark):
    """The recall contract on a boilerplate corpus: identical texts
    land in one chunk bucket, so (a) a cap below the cluster size drops
    ALL their pairs, (b) oversize_buckets reports exactly the dropped
    buckets with the cluster size, and (c) max_bucket=None restores the
    full brute-force answer (the gated-query configuration)."""
    n = 6
    rows = [(f"boiler/{i}", "the same boilerplate text") for i in range(n)]
    rows.append(("unique/0", "a completely different page body"))
    docs = spark.createDataFrame(rows, "url string, text string")

    exact = dedup.simhash_pairs(docs, max_hamming=3, max_bucket=None)
    assert exact.count() == n * (n - 1) // 2  # identical sims pair up

    capped = dedup.simhash_pairs(docs, max_hamming=3, max_bucket=n - 1)
    assert capped.count() == 0

    buckets = dedup.simhash_chunk_buckets(dedup.simhash_df(docs))
    over = dedup.oversize_buckets(buckets, ("chunk", "chunk_val"),
                                  max_bucket=n - 1).collect()
    # one oversize bucket per chunk position (all 4 chunks collide for
    # identical simhashes), each holding the whole boilerplate cluster
    assert len(over) == T.SIMHASH_CHUNKS
    assert all(r["n_members"] == n for r in over)


def test_approx_count_distinct_error_bounds(spark, docs):
    """B13 sketch path: HLL++ approx distinct per tile within its
    documented rsd (engine-side only — sketches are not cross-engine
    deterministic, so the gated query uses exact countDistinct)."""
    from s2geometry_spark.sources.pages import load_pages
    pages = load_pages(spark, SF_DIR)
    exact = {r["cell_l4"]: r["n"] for r in
             pages.groupBy("cell_l4")
             .agg(F.countDistinct("url").alias("n")).collect()}
    approx = {r["cell_l4"]: r["n"] for r in
              pages.groupBy("cell_l4")
              .agg(F.approx_count_distinct("url", rsd=0.05).alias("n"))
              .collect()}
    assert set(exact) == set(approx)
    # absolute slack for tiny tiles (observed HLL under-count of 2 on a
    # 4-element set), relative for larger ones
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(3, 0.2 * n), (k, n, approx[k])
    total_exact = sum(exact.values())
    total_approx = sum(approx.values())
    assert abs(total_approx - total_exact) <= 0.1 * total_exact


def _planted_embeddings(spark, n=100, dim=64, noise=0.05, seed=7):
    """n base vectors + n perturbed copies: planted near-dup pair
    (i, i+n) at cosine ~0.9988 — the workload LSH bucketing exists
    for (the uniform fixture corpus has max pair cosine ~0.51, where
    bucket recall is inherently low and multi-probe can't help)."""
    rng = np.random.RandomState(seed)
    base = rng.standard_normal((n, dim))
    vecs = np.vstack([base, base + noise * rng.standard_normal((n, dim))])
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(2 * n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_emb_near_dup_lsh_recall_on_planted_pairs(spark):
    """The bucketed near-dup scale path must recover planted near-dups:
    hamming<=1 candidate ring lifts recall from ~0.77 (exact bucket)
    to >=0.9 on seeded data (deterministic — fixed hyperplanes+seed)."""
    df = _planted_embeddings(spark)
    planted = {(i, i + 100) for i in range(100)}
    h0 = {(r["vec_a"], r["vec_b"]) for r in
          ann.emb_near_dup_lsh(df, tau=0.95, max_hamming=0).collect()}
    h1 = {(r["vec_a"], r["vec_b"]) for r in
          ann.emb_near_dup_lsh(df, tau=0.95, max_hamming=1).collect()}
    assert len(h1 & planted) / 100 >= 0.9
    assert len(h1 & planted) > len(h0 & planted)
    # no false positives: every reported pair really has cosine >= tau
    assert h0 <= h1
    assert all(a < b for a, b in h1)


def test_letter_counts_udf_non_ascii_batches(spark):
    """The mixed-batch path (vectorized byte→row mapping, no per-row
    encode loop): non-ASCII rows must not shift counts for their
    neighbors, and a-z counting is byte-exact on any input."""
    vals = ["abc", "äöü abc", "z" * 5 + "ß", "", "Ünïcodé favor",
            "plain ascii row", "日本語 with latin abc"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [r[0] for r in
           df.select(textstats.letter_counts_udf(F.col("s"))).collect()]
    for v, counts in zip(vals, got):
        low = v.lower().encode("utf-8")
        expect = [low.count(bytes([ord("a") + i])) for i in range(26)]
        assert list(counts) == expect, v


def test_media_resize_scalar_twin(spark):
    """Block-mean fake resize: scalar recompute incl. zero-padding for
    short payloads."""
    vals = ["x" * 100, "short", "", "a" * 64]
    df = spark.createDataFrame(
        [(str(i), v.encode()) for i, v in enumerate(vals)],
        "url string, html binary")
    got = {r["url"]: list(r["grid"]) for r in media.media_resize(df).collect()}
    for i, v in enumerate(vals):
        b = v.encode()[:64] + b"\x00" * max(0, 64 - len(v.encode()))
        expect = []
        for br in range(4):
            for bc in range(4):
                s = sum(b[(br * 2 + dr) * 8 + (bc * 2 + dc)]
                        for dr in range(2) for dc in range(2))
                expect.append(s // 4)
        assert got[str(i)] == expect, (i, v)


def _uf_components(edges):
    """Independent scalar union-find twin for CC validation."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = {}
    for v in list(parent):
        r = find(v)
        labels.setdefault(r, set()).add(v)
    return {v: min(mem) for r, mem in labels.items() for v in mem}


def test_connected_components_vs_union_find(spark):
    """Label propagation must equal an independent union-find on random
    sparse graphs (chains, stars, cliques, singleton pairs) and on the
    corpus's real minhash pair graph."""
    import random
    rng = random.Random(5)
    verts = [f"v{i:03d}" for i in range(60)]
    edges = set()
    for i in range(0, 12):             # a 12-chain (worst-case diameter)
        edges.add((f"c{i:02d}", f"c{i + 1:02d}"))
    for i in range(1, 8):              # a star
        edges.add(("hub", f"s{i}"))
    for _ in range(40):                # random sparse edges
        a, b = rng.sample(verts, 2)
        edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "url_a string, url_b string")
    got = {r["url"]: r["cluster"]
           for r in dedup.connected_components(df).collect()}
    assert got == _uf_components(edges)

    # real corpus pair graph
    from s2geometry_spark.sources.pages import (documents_to_pages,
                                                load_documents)
    docs = documents_to_pages(load_documents(spark, SF_DIR))
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.2) \
        .select("url_a", "url_b")
    got2 = {r["url"]: r["cluster"]
            for r in dedup.connected_components(pairs).collect()}
    edges2 = {(r["url_a"], r["url_b"]) for r in pairs.collect()}
    assert got2 == _uf_components(edges2)
    assert len(got2) > 0


def test_connected_components_releases_round_checkpoints(spark):
    """Each round's localCheckpoint must be released once the next
    round materializes — only the returned labels' backing cache may
    remain (round-2 review: long-diameter graphs piled up max_iters
    full copies of the vertex-label set in executor storage)."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    before = set(sc._jsc.getPersistentRDDs().keys())
    edges = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(12)]
    df = spark.createDataFrame(edges, "url_a string, url_b string")
    labels = dedup.connected_components(df)  # 12-chain: several rounds
    assert labels.count() == 13
    leaked = set(sc._jsc.getPersistentRDDs().keys()) - before
    assert len(leaked) <= 1, f"{len(leaked)} cached RDDs survive CC"
    # the surviving cache IS the result — still readable afterwards
    assert {r["cluster"] for r in labels.collect()} == {"c00"}


def test_connected_components_path_graph_logn_rounds(spark):
    """The round-3 scale risk: min-label propagation needed O(diameter)
    rounds, so a 10k-link chain blew past max_iters=50. The alternating
    large-star/small-star rewrite must converge on a 10k-vertex PATH
    graph (the adversarial diameter case) within 2*log2(n) rounds —
    max_iters is set to exactly that bound, so slow convergence raises
    instead of silently passing."""
    import math
    n = 10_000
    edges = [(f"p{i:05d}", f"p{i + 1:05d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, "url_a string, url_b string")
    bound = 2 * math.ceil(math.log2(n))         # 28 rounds
    labels = dedup.connected_components(df, max_iters=bound)
    rows = labels.collect()
    assert len(rows) == n
    assert {r["cluster"] for r in rows} == {"p00000"}
    spark.catalog.clearCache()


def test_connected_components_nonconvergence_raises(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")],
                               "url_a string, url_b string")
    spark.catalog.clearCache()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError):
        dedup.connected_components(df, max_iters=1)
    # the error path must not strand the final round's checkpoint
    leaked = set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before
    assert not leaked, f"{len(leaked)} cached RDDs survive the raise"


def test_pair_ops_cache_registry_releases(spark):
    """materialize + release_caches must leave no cached RDDs behind
    (round-2 review: minhash/simhash persisted without an unpersist
    contract, accumulating cache across long-lived sessions). Covers
    dedup_apply too: its connected-components label checkpoint must
    reach the registry, not only the signature persist."""
    from s2geometry_spark.sources.pages import (documents_to_pages,
                                                load_documents)
    docs = documents_to_pages(load_documents(spark, SF_DIR))
    sc = spark.sparkContext
    spark.catalog.clearCache()
    before = set(sc._jsc.getPersistentRDDs().keys())

    reg: list = []
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.2,
                                    cache_registry=reg)
    n1 = pairs.count()  # materialize BEFORE releasing
    sims = dedup.simhash_pairs(docs, max_hamming=3, cache_registry=reg)
    n2 = sims.count()
    verdicts = dedup.dedup_apply(docs, threshold=0.2, cache_registry=reg)
    n3 = verdicts.filter(~F.col("kept")).count()
    # signatures x2, simhashes, and dedup_apply's label checkpoint
    assert len(reg) == 4 and n1 > 0 and n2 > 0 and n3 > 0
    dedup.release_caches(reg)
    assert not reg
    leaked = set(sc._jsc.getPersistentRDDs().keys()) - before
    assert not leaked, f"{len(leaked)} cached RDDs survive release"


# ---------------------------------------------------------------------------
# Line-level dedup / Gopher quality rules / corpus split
# ---------------------------------------------------------------------------

def test_line_dedup_drops_shared_lines_preserves_order(spark):
    rows = [("d1", "keep one\nBOILER\nkeep two"),
            ("d2", "BOILER\nonly in two"),
            ("d3", "BOILER")]
    df = spark.createDataFrame(rows, ["url", "text"])
    got = {r["url"]: r for r in dedup.line_dedup(df, min_docs=2).collect()}
    assert got["d1"]["text_clean"] == "keep one\nkeep two"
    assert (got["d1"]["n_lines"], got["d1"]["n_kept"]) == (3, 2)
    assert got["d2"]["text_clean"] == "only in two"
    # fully-boilerplate doc keeps its row with empty text
    assert got["d3"]["text_clean"] == ""
    assert (got["d3"]["n_lines"], got["d3"]["n_kept"]) == (1, 0)


def test_line_dedup_byte_identity_and_threshold(spark):
    weird = "kéép \tthis line"
    rows = [("a", weird + "\nshared"), ("b", "shared\nother"),
            ("c", "third doc")]
    df = spark.createDataFrame(rows, ["url", "text"])
    # min_docs=3: nothing qualifies, every doc survives byte-identical
    got3 = {r["url"]: r["text_clean"]
            for r in dedup.line_dedup(df, min_docs=3).collect()}
    assert got3 == {"a": weird + "\nshared", "b": "shared\nother",
                    "c": "third doc"}
    got2 = {r["url"]: r["text_clean"]
            for r in dedup.line_dedup(df, min_docs=2).collect()}
    assert got2["a"] == weird and got2["b"] == "other"


def test_line_dedup_shuffle_fallback_same_result(spark):
    """broadcast_boiler=False (the over-8-GiB-frequent-set escape
    hatch) must keep the anti-join AS a shuffle join — no driver-side
    broadcast build anywhere in the plan — and produce byte-identical
    output to the broadcast path."""
    from s2geometry_spark.plans import explain as X
    rows = [("d1", "keep one\nBOILER\nkeep two"),
            ("d2", "BOILER\nonly in two"),
            ("d3", "BOILER")]
    df = spark.createDataFrame(rows, ["url", "text"])
    base = sorted(tuple(r) for r in
                  dedup.line_dedup(df, min_docs=2).collect())
    out = dedup.line_dedup(df, min_docs=2, broadcast_boiler=False)
    plan = X.formatted_plan(out)
    assert "ShuffledHashJoin" in plan, plan
    assert not X.has_broadcast_join(plan), plan
    assert sorted(tuple(r) for r in out.collect()) == base


def test_line_dedup_auto_guard_counts_and_releases(spark):
    """broadcast_boiler=None: the frequent set is counted (persisted,
    registered) and the join side picked by max_broadcast_lines —
    cap 0 forces the shuffle fallback, a huge cap keeps broadcast."""
    from s2geometry_spark.plans import explain as X
    rows = [("d1", "keep\nBOILER"), ("d2", "BOILER\nother")]
    df = spark.createDataFrame(rows, ["url", "text"])
    reg: list = []
    out_shuf = dedup.line_dedup(df, min_docs=2, broadcast_boiler=None,
                                max_broadcast_lines=0, cache_registry=reg)
    assert not X.has_broadcast_join(X.formatted_plan(out_shuf))
    out_bc = dedup.line_dedup(df, min_docs=2, broadcast_boiler=None,
                              max_broadcast_lines=10_000,
                              cache_registry=reg)
    assert X.has_broadcast_join(X.formatted_plan(out_bc))
    assert {r["url"]: r["text_clean"] for r in out_bc.collect()} == \
        {r["url"]: r["text_clean"] for r in out_shuf.collect()} == \
        {"d1": "keep", "d2": "other"}
    assert len(reg) == 2
    dedup.release_caches(reg)


def test_gopher_flags_rules(spark):
    long_ok = " ".join(f"the word of number item{i}" for i in range(20))
    rows = [
        ("ok", long_ok),                      # passes everything
        ("short", "the of words"),            # word count < 50
        ("longtok", " ".join("superlongtoken" + str(i) for i in range(60))),
        ("hashy", "the of " + "# " * 60),     # hash ratio + alpha
        ("bullets", "\n".join("- the item of x" for _ in range(10))
         + "\n" + "the of plain " * 20),
        ("nostop", " ".join(f"w{i}" for i in range(60))),
    ]
    df = spark.createDataFrame(rows, ["url", "text"])
    got = {r["url"]: r for r in textstats.gopher_flags(df).collect()}
    assert got["ok"]["keep"]
    assert not got["short"]["flag_word_count"] and not got["short"]["keep"]
    assert not got["longtok"]["flag_mean_len"]
    assert not got["hashy"]["flag_hash_ratio"]
    assert not got["hashy"]["flag_alpha_words"]
    assert not got["bullets"]["flag_bullet"]
    assert not got["nostop"]["flag_stopwords"]


def test_gopher_ellipsis_flag(spark):
    bad = "\n".join("the line of text ..." for _ in range(8))
    good = bad + "\n" + "\n".join("the plain line of text"
                                  for _ in range(92))
    df = spark.createDataFrame([("bad", bad), ("good", good)],
                               ["url", "text"])
    got = {r["url"]: r for r in textstats.gopher_flags(df).collect()}
    assert not got["bad"]["flag_ellipsis"]    # 100% of lines end ...
    assert got["good"]["flag_ellipsis"]       # 8% <= 30%


def test_corpus_split_deterministic_and_partitioned(spark, docs):
    a = {r["url"]: (r["bucket"], r["split"])
         for r in textstats.corpus_split(docs).collect()}
    b = {r["url"]: (r["bucket"], r["split"])
         for r in textstats.corpus_split(docs).collect()}
    assert a == b and len(a) == docs.count()
    for url, (bucket, split) in a.items():
        assert 0 <= bucket < textstats.SPLIT_BUCKETS
        exp = ("train" if bucket < textstats.SPLIT_TRAIN_LT
               else "valid" if bucket < textstats.SPLIT_VALID_LT
               else "test")
        assert split == exp
        # stability: the scalar md5 twin reproduces the bucket
        assert bucket == h60_py(url) % textstats.SPLIT_BUCKETS
    n_train = sum(1 for v in a.values() if v[1] == "train")
    assert n_train > 0.9 * len(a)


# ---------------------------------------------------------------------------
# Corpus shaping: domain cap + vocabulary
# ---------------------------------------------------------------------------

def test_domain_cap_matches_full_window(spark, docs):
    """The hot/cool split must equal the naive all-rows window rank."""
    from pyspark.sql import Window

    from s2geometry_spark.operators import corpus
    cap = 18
    got = {r["url"]: (r["domain"], r["kept"])
           for r in corpus.domain_cap(docs, cap).collect()}
    w = Window.partitionBy(F.substring_index("url", "/", 1)) \
        .orderBy(T.h60(F.col("url")), F.col("url"))
    naive = docs.select(
        "url", F.substring_index("url", "/", 1).alias("domain"),
        (F.row_number().over(w) <= cap).alias("kept")).collect()
    assert got == {r["url"]: (r["domain"], r["kept"]) for r in naive}
    assert sum(1 for v in got.values() if not v[1]) > 0


def test_domain_cap_under_cap_keeps_everything(spark, docs):
    from s2geometry_spark.operators import corpus
    out = corpus.domain_cap(docs, 25).collect()  # every domain has 25
    assert len(out) == docs.count()
    assert all(r["kept"] for r in out)


def test_vocab_topn_counts_and_tiebreak(spark):
    from s2geometry_spark.operators import corpus
    rows = [("u1", "b b b a a c"), ("u2", "a c d"), ("u3", "d b")]
    # totals: a=3, b=4, c=2, d=2  (c and d tie -> token order)
    df = spark.createDataFrame(rows, ["url", "text"])
    got = [(r["token"], r["n_occurrences"], r["n_docs"])
           for r in corpus.vocab_topn(df, 3).collect()]
    assert got == [("b", 4, 2), ("a", 3, 2), ("c", 2, 2)]


# ---------------------------------------------------------------------------
# Gopher repetition rules
# ---------------------------------------------------------------------------

def _rep_rows(spark, rows):
    df = spark.createDataFrame(rows, ["url", "text"])
    return {r["url"]: r.asDict() for r in textstats.gopher_rep(df).collect()}


def test_gopher_rep_scalar_twin(spark):
    """Counts against an independent Python implementation."""
    from collections import Counter
    rows = [("u1", "hello world\nhello world\nbye now\nhello world"),
            ("u2", "a b a b a b a b c"),
            ("u3", "one two three four five six seven"),
            ("u5", "x\n\nx\ny y y")]
    got = _rep_rows(spark, rows)
    for url, text in rows:
        lines = [l for l in text.split("\n") if l != ""]
        lc = Counter(lines)
        toks = text.split()
        r = got[url]
        assert r["n_lines"] == len(lines)
        assert r["n_dup_lines"] == sum(c for c in lc.values() if c > 1)
        assert r["line_chars"] == sum(len(l) for l in lines)
        assert r["dup_line_chars"] == sum(
            c * len(l) for l, c in lc.items() if c > 1)
        assert r["token_chars"] == sum(len(t) for t in toks)
        for n in (2, 3, 4):
            grams = Counter(" ".join(toks[i:i + n])
                            for i in range(len(toks) - n + 1))
            top = max(((c, g) for g, c in grams.items()), default=None)
            want = top[0] * len(top[1]) if top else 0
            assert r[f"top{n}_chars"] == want, (url, n)


def test_gopher_rep_flag_boundaries(spark):
    """Exact-int threshold semantics: <= passes, one char over fails."""
    # 10 lines, 3 dups -> 100*3 <= 30*10 (exactly at the 30% boundary)
    at = "\n".join(["dup", "dup", "dup"] + [f"l{i}" for i in range(7)])
    # 10 lines, 4 dups -> over
    over = "\n".join(["dup"] * 4 + [f"l{i}" for i in range(6)])
    got = _rep_rows(spark, [("at", at), ("over", over)])
    assert got["at"]["flag_dup_lines"] is True
    assert got["over"]["flag_dup_lines"] is False
    assert got["over"]["keep_rep"] is False


def test_gopher_rep_empty_doc_excluded(spark):
    got = _rep_rows(spark, [("e", ""), ("w", "only whitespace  here")])
    assert set(got) == {"w"}


def test_gopher_rep_pure_projection(spark, docs):
    """Plan shape: all counting is within-document sort-runs — a pure
    per-row projection with NO shuffle, window, or join (the exploded
    r4 first cut shuffled 10^8 items and benched 40x slower)."""
    from s2geometry_spark.plans import explain as X
    plan = X.formatted_plan(textstats.gopher_rep(docs))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_stratified_sample_scalar_twin(spark, docs):
    """kept must equal the h60 % den < num rule per stratum, computed
    by the independent scalar hash."""
    from s2geometry_spark.operators import corpus
    rates = {"en": (1, 1), "de": (1, 3), "zh": (0, 1)}
    got = corpus.stratified_sample(docs, "lang", rates, (1, 4)).collect()
    assert len(got) == docs.count()
    for r in got:
        num, den = rates.get(r["stratum"], (1, 4))
        assert r["kept"] == (h60_py(r["url"]) % den < num), r
    # zh at rate 0/1 drops everything; en keeps everything
    by = {}
    for r in got:
        k, t = by.get(r["stratum"], (0, 0))
        by[r["stratum"]] = (k + bool(r["kept"]), t + 1)
    assert by["zh"][0] == 0
    assert by["en"][0] == by["en"][1]


def test_stratified_sample_nests_across_rates(spark, docs):
    """A doc kept at 1/4 is kept at 1/2 (den chain 4 -> 2): sampling
    rates can be tightened later without resampling a disjoint set."""
    from s2geometry_spark.operators import corpus
    k4 = {r["url"] for r in corpus.stratified_sample(
        docs, "lang", {}, (1, 4)).collect() if r["kept"]}
    k2 = {r["url"] for r in corpus.stratified_sample(
        docs, "lang", {}, (1, 2)).collect() if r["kept"]}
    assert k4 and k4 < k2


def test_stratified_sample_zero_shuffle(spark, docs):
    from s2geometry_spark.operators import corpus
    from s2geometry_spark.plans import explain as X
    plan = X.formatted_plan(corpus.stratified_sample(
        docs, "lang", {"en": (1, 2)}))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_tfidf_topk_scalar_twin(spark, docs):
    """Ranks must equal an independent Python recompute of the
    fixed-point tf/df (reciprocal-idf) key, ties by token."""
    from collections import Counter

    from s2geometry_spark.operators import corpus
    small = docs.limit(80)
    texts = {r["url"]: r["text"]
             for r in small.select("url", "text").collect()}
    tfs = {u: Counter(t.split()) for u, t in texts.items()}
    dfs = Counter(tok for c in tfs.values() for tok in set(c))
    got = {}
    for r in corpus.tfidf_topk(small, 3).collect():
        got.setdefault(r["url"], []).append(
            (r["rank"], r["token"], r["tf"], r["df"]))
    for u, c in tfs.items():
        expect = sorted(
            c.items(),
            key=lambda kv: (-(kv[1] * corpus.TFIDF_SCALE // dfs[kv[0]]),
                            kv[0]))[:3]
        rows = sorted(got[u])
        assert [(t, tf) for _, t, tf, _ in rows] == expect
        assert [d for _, _, _, d in rows] == [dfs[t] for t, _ in expect]


def test_tfidf_topk_no_window(spark, docs):
    """Top-k is an in-array sort+slice per doc — no Window operator;
    the df relation broadcasts."""
    from s2geometry_spark.operators import corpus
    from s2geometry_spark.plans import explain as X
    plan = X.formatted_plan(corpus.tfidf_topk(docs, 3))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# decontamination (corpus.decontaminate)
# ---------------------------------------------------------------------------

def test_decontaminate_planted_overlap(spark):
    """Known-answer check: docs sharing a 3-token shingle with the
    benchmark are flagged with the exact distinct-gram hit count;
    others (including short docs with < k tokens) are clean."""
    from s2geometry_spark.operators import corpus
    docs = spark.createDataFrame([
        ("d1", "the quick brown fox jumps"),   # shares 'the quick brown'
        ("d2", "a totally different text here"),
        ("d3", "quick brown fox trots on"),    # shares 'quick brown fox'
        ("d4", "too short"),                   # < 3 tokens -> clean
        ("d5", "the quick brown the quick brown pad"),  # dup grams: distinct once
        ("d6", None),                          # null text -> clean
        ("d7", ""),                            # empty text -> clean
    ], "url string, text string")
    bench = spark.createDataFrame(
        [("b1", "the quick brown fox ran away")], "url string, text string")
    grams = corpus.collect_bench_grams(bench, k=3)
    got = {r["url"]: (r["n_hit"], r["contaminated"])
           for r in corpus.decontaminate(docs, grams, k=3).collect()}
    # bench grams: {the quick brown, quick brown fox, brown fox ran, ...}
    assert got["d1"] == (2, True)    # 'the quick brown', 'quick brown fox'
    assert got["d2"] == (0, False)
    assert got["d3"] == (1, True)
    assert got["d4"] == (0, False)
    # d5 grams: {the quick brown, quick brown the, brown the quick,
    # quick brown pad} — only 'the quick brown' is shared, and its
    # repeat counts once (distinct grams)
    assert got["d5"] == (1, True)
    assert got["d6"] == (0, False)
    assert got["d7"] == (0, False)
    assert len(got) == 7


def test_decontaminate_benchmark_self_hit(spark, docs):
    """Every benchmark member with >= k tokens must flag itself when it
    is also in the corpus (the degenerate self-overlap case)."""
    from s2geometry_spark.operators import corpus
    bench = docs.filter(T.h60(F.concat(F.lit("bm:"), F.col("url"))) % 7 == 0)
    grams = corpus.collect_bench_grams(bench, k=5)
    flagged = {r["url"] for r in
               corpus.decontaminate(docs, grams, k=5)
               .filter(F.col("contaminated")).collect()}
    bench_with_grams = {r["url"] for r in bench.filter(
        F.size(T.tokens(F.col("text"))) >= 5).collect()}
    assert bench_with_grams and bench_with_grams <= flagged


def test_decontaminate_plan_is_map_only(spark, docs):
    """Plan shape: one projection over the corpus scan — no Exchange,
    no join, one ArrowEvalPython (the gram-hash probe); the corpus
    text never shuffles."""
    from s2geometry_spark.operators import corpus
    from s2geometry_spark.plans import explain as X
    grams = corpus.collect_bench_grams(docs.limit(20), k=5)
    plan = X.formatted_plan(corpus.decontaminate(docs, grams, k=5))
    assert len(re.findall(r"\(\d+\) \w*Exchange", plan)) == 0, plan
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 0, plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan


def test_simhash_pairs_cap_that_never_fires_is_identity(spark, docs):
    """simhash_pairs with a cap so large it never fires must equal the
    uncapped run (the cap only ever REMOVES whole oversize buckets)."""
    reg = []
    capped = sorted(map(tuple, dedup.simhash_pairs(
        docs, max_hamming=3, max_bucket=10**6,
        cache_registry=reg).collect()))
    uncapped = sorted(map(tuple, dedup.simhash_pairs(
        docs, max_hamming=3, max_bucket=None,
        cache_registry=reg).collect()))
    dedup.release_caches(reg)
    assert capped == uncapped and capped
