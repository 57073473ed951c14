"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship covering-based point-in-region join on sf0.001.
queries()      — one entry per implemented operator (SURVEY.md §2).
oracle_sql()   — DuckDB-equivalent SQL per query (SURVEY.md §5.3: spatial
                 truth comes from precomputed fixture columns generated by
                 the independent scalar oracle — fixtures/gen_fixtures.py).

Column names are aligned between each queries() entry and its
oracle_sql() twin (the driver's value-hash sorts columns by name).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s2geometry_spark.demo_regions import demo_polyline, demo_regions
from s2geometry_spark.functions import geo
from s2geometry_spark.functions import text as T
from s2geometry_spark.operators import (ann, corpus, dedup, media,
                                        pipeline, sketches, textstats,
                                        tiles as TL, urls)
from s2geometry_spark.operators.distjoin import (chord2_of_angle,
                                                 distance_join)
from s2geometry_spark.operators.knn import demo_knn_queries, knn_join
from s2geometry_spark.operators.pip_join import (
    covering_join, coverings_df, pip_join, region_overlap_candidates)
from s2geometry_spark.sources.pages import (documents_to_pages,
                                            load_documents, load_pages)

FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

# Parent bit math (portable SQL): lsb(level) = 1 << (2*(30-level))
_LSB4 = 1 << (2 * (30 - 4))
_LSB8 = 1 << (2 * (30 - 8))

_LAT_SQL = ("((((f.h - (f.h & 4294967295)) / 4294967296) + 2147483648)"
            " / 4294967296) * 180.0 - 90.0")
_LNG_SQL = "((f.h & 4294967295) / 4294967296) * 360.0 - 180.0"

_PTS_CTE = (
    "WITH pts AS (SELECT d.doc_id,"
    " d.source || '/' || CAST(d.doc_id AS VARCHAR) AS url,"
    " f.lat AS lat, f.lng AS lng, f.px AS px, f.py AS py, f.pz AS pz,"
    " f.cell_id AS cell_id, f.cell_key AS cell_key"
    f" FROM documents d JOIN read_parquet('{FIXDIR}/cells_sf0_01.parquet') f"
    " USING (doc_id))"
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geocode pages and run the covering-based containment
    join (broadcast equi-join on level-4 tiles + exact post-filter)."""
    pages = load_pages(spark, "/root/testdata/sf0.001")
    out = pip_join(pages, spark, demo_regions(), strategy="equi", level=4)
    return out.select("url", "region_id", "lat", "lng", "cell_l8")


# ---------------------------------------------------------------------------
# queries() — engine side
# ---------------------------------------------------------------------------

def _q_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1–A11 + A18 + A36: derive h, lat/lng, leaf cell, tiles, token."""
    pages = load_pages(spark, sf_dir)
    return pages.withColumn("pt", geo.xyz_udf(F.col("lat"), F.col("lng"))).select(
        "doc_id", "h", "lat", "lng",
        F.col("pt.px").alias("px"), F.col("pt.py").alias("py"),
        F.col("pt.pz").alias("pz"),
        "cell_id", "cell_l4", "cell_l8",
        geo.cell_token_udf(F.col("cell_id")).alias("token"))


def _q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12: per-tile aggregation at level 4 (partial+final hash agg)."""
    pages = load_pages(spark, sf_dir)
    return (pages.groupBy("cell_l4")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars")))


def _q_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10–A13 as portable bit algebra: level/range/order key are pure SQL
    on the signed id — cross-checks the kernel-built ids structurally."""
    pages = load_pages(spark, sf_dir)
    return pages.select(
        "doc_id", "cell_id",
        geo.level_col(F.col("cell_id")).alias("level"),
        geo.range_min_key_col(F.col("cell_l8")).alias("l8_range_min_key"),
        geo.range_max_key_col(F.col("cell_l8")).alias("l8_range_max_key"),
        geo.order_key_col(F.col("cell_id")).alias("cell_key"))


def _q_pip_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    regs = [r for r in demo_regions() if r.region_id in (3, 4, 5)]
    pages = load_pages(spark, sf_dir)
    return pip_join(pages, spark, regs, strategy="equi", level=4) \
        .select("url", "region_id")


def _q_pip_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    regs = [r for r in demo_regions() if r.region_id in (1, 2)]
    pages = load_pages(spark, sf_dir)
    return pip_join(pages, spark, regs, strategy="equi", level=4) \
        .select("url", "region_id")


def _q_pip_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    regs = [r for r in demo_regions() if r.region_id in (6, 7, 8)]
    pages = load_pages(spark, sf_dir)
    return pip_join(pages, spark, regs, strategy="equi", level=4) \
        .select("url", "region_id")


def _q_pip_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: hierarchical covering + ancestor hash join, all 8 regions."""
    pages = load_pages(spark, sf_dir)
    return pip_join(pages, spark, demo_regions(), strategy="range",
                    max_cells=64).select("url", "region_id")


def _q_pip_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B20 at gate strength: the NON-broadcast covering join — the
    scale path for 10^6-row region catalogs. The uniform level-4
    covering in a shuffle-hash join on the ancestor id; a hot tile is
    split by AQE's skew-join handling. Same logical query as the equi
    gates, so the oracle is the SAME independent scalar-PIP fixture as
    pip_all_range."""
    pages = load_pages(spark, sf_dir)
    return pip_join(pages, spark, demo_regions(), strategy="shuffle",
                    level=4).select("url", "region_id")


def _q_region_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region x region may-intersect candidates from covering range
    overlap (ancestor-or-equal cells) — the polygon-polygon join leg.
    Oracle: interval-overlap self-join over the coverings fixture."""
    cov = coverings_df(spark, demo_regions(), max_cells=64)
    return region_overlap_candidates(cov, cov)


def _q_covering_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pip_join's raw covering join (no exact filter) vs DuckDB, whose
    twin matches leaf order keys BETWEEN the cells' range keys."""
    pages = load_pages(spark, sf_dir)
    return covering_join(pages, spark, demo_regions(), max_cells=64) \
        .select("url", "region_id", "is_interior")


def _q_pip_polyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyline-buffer containment (S2Polyline [spec] — pages within 3°
    of a 4-vertex 'road'): same equi covering join + exact filter as
    the other region types; the exact test is a vectorized min
    arc-distance. Oracle = fixture from an independent SCALAR
    arc-distance implementation."""
    pages = load_pages(spark, sf_dir)
    return pip_join(pages, spark, [demo_polyline()], strategy="equi",
                    level=4).select("url", "region_id")


def _q_pip_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegionUnion containment (S2RegionUnion [spec], added r3): pages
    inside ANY of {cap 2, antimeridian rect 4, polygon 6} — one region,
    one row per page even where members overlap (cap 2 ∩ rect 4).
    Oracle = OR of the members' already-proven predicates (cap chord
    test, rect lat/lng bounds, polygon fixture from the independent
    scalar oracle)."""
    from s2geometry_spark.demo_regions import demo_region_union
    pages = load_pages(spark, sf_dir)
    return pip_join(pages, spark, [demo_region_union()], strategy="equi",
                    level=4).select("url", "region_id")


def _q_pip_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex-hull containment (S2ConvexHullQuery [spec], added r3):
    pages inside the spherical convex hull of the 40 demo points. The
    hull construction is pinned by an independent gift-wrapping twin
    (tests/test_cell_geometry.py); this gate verifies containment vs
    the independent scalar PIP oracle's fixture."""
    from s2geometry_spark.demo_regions import demo_hull_polygon
    pages = load_pages(spark, sf_dir)
    return pip_join(pages, spark, [demo_hull_polygon()], strategy="equi",
                    level=4).select("url", "region_id")


def _q_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15/A16: 8-ring neighbors of every distinct level-8 tile."""
    pages = load_pages(spark, sf_dir)
    tiles = pages.select(F.col("cell_l8").alias("cell")).distinct()
    return (tiles
            .select("cell", F.explode(geo.all_neighbors_udf(F.col("cell")))
                    .alias("neighbor")))


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: exact kNN in one pass (per-partition numpy top-k, then a
    window rank), k ∈ {1, 10, 100}.

    d2 is excluded from the gated output: DuckDB may contract the
    multiply-adds into FMA, shifting the last ulp (ranks are unaffected
    — verified: all (url, rank) pairs match the brute-force oracle).
    """
    pages = load_pages(spark, sf_dir)
    return knn_join(pages, spark, demo_knn_queries()) \
        .select("query_id", "url", "rank")


DIST_JOIN_RADIUS = 0.05  # rad (~318 km); min_width_max_level -> L4
_DIST_D2MAX = chord2_of_angle(DIST_JOIN_RADIUS)
LINE_DEDUP_MIN_DOCS = 2


def _q_dist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance spatial self-join (S2ClosestPointQuery batch
    twin, operators/distjoin.py): every unordered page pair within
    0.05 rad, met on its unique L4 stencil cell. d2 itself is excluded
    from the output for the same FMA-ulp reason as knn_ring; pair
    MEMBERSHIP is safe because no sf0.01 pair's d2 falls within 1e-12
    of the threshold (asserted in tests/test_scale_ops.py)."""
    return distance_join(load_pages(spark, sf_dir), DIST_JOIN_RADIUS)


# ---------------------------------------------------------------------------
# Training-data pipeline queries (dedup / similarity / text / multimodal)
# ---------------------------------------------------------------------------

MINHASH_THRESHOLD = 0.2
EMB_NEAR_DUP_TAU = 0.35
ANN_K = 10
ANN_N_QUERIES = 16


def _docs_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """url + text + lang only — the text path skips the geo kernels."""
    return documents_to_pages(load_documents(spark, sf_dir))


def _q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(_docs_pages(spark, sf_dir))


def _decorated_urls(spark, sf_dir):
    """Deterministic messy-url corpus for the canonicalization gates:
    three spellings per document — default-port + UPPERCASE host +
    tracking param, trailing-slash + fragment, and an :80 variant with
    a real query parameter to KEEP. The first two collapse to one
    canonical form; the third stays distinct (scheme differs)."""
    d = (load_documents(spark, sf_dir)
         .select("source", F.col("doc_id").cast("string").alias("did")))
    v1 = d.select(F.concat(F.lit("https://"), F.upper("source"),
                           F.lit(":443/"), F.col("did"),
                           F.lit("?utm_source=a")).alias("url"))
    v2 = d.select(F.concat(F.lit("https://"), F.col("source"), F.lit("/"),
                           F.col("did"), F.lit("/#frag")).alias("url"))
    v3 = d.select(F.concat(F.lit("http://"), F.col("source"), F.lit(":80/"),
                           F.col("did"), F.lit("?id="), F.col("did"),
                           F.lit("&utm_campaign=c")).alias("url"))
    return v1.unionByName(v2).unionByName(v3)


def _q_url_normalize(spark, sf_dir):
    return urls.url_normalize(_decorated_urls(spark, sf_dir))


def _q_url_dedup(spark, sf_dir):
    return urls.url_dedup(_decorated_urls(spark, sf_dir))


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag docs sharing any 5-token shingle
    with a deterministic 'benchmark' subset (every 7th url by an
    independent hash — no external data, same subset both engines)."""
    docs = _docs_pages(spark, sf_dir)
    bench = docs.filter(
        T.h60(F.concat(F.lit("bm:"), F.col("url"))) % 7 == 0)
    return corpus.decontaminate(
        docs, corpus.collect_bench_grams(bench, k=5), k=5)


PIPE_ALLOWED_LANGS = ("en",)
_PIPE_LANGS_SQL = ", ".join(f"'{lang}'" for lang in PIPE_ALLOWED_LANGS)


def _q_corpus_pipeline(spark, sf_dir):
    """The COMPOSED training-corpus filter (pipeline.corpus_pipeline):
    Gopher quality + repetition + centroid language id + benchmark
    decontamination + split label, fused into one map-only scan (no
    shuffle, no join, one Arrow hop — plan-asserted in
    tests/test_pipeline.py). Benchmark = the decontaminate gate's
    deterministic 1/7 subset; oracle = the five per-stage DuckDB
    oracles joined on url (nested-WITH CTEs), so the gate proves the
    fused plan ≡ the stage-by-stage composition."""
    docs = _docs_pages(spark, sf_dir)
    bench = docs.filter(
        T.h60(F.concat(F.lit("bm:"), F.col("url"))) % 7 == 0)
    grams = corpus.collect_bench_grams(bench, k=5)
    return pipeline.corpus_pipeline(docs, grams,
                                    allowed_langs=PIPE_ALLOWED_LANGS)


def _q_dedup_apply(spark, sf_dir):
    """End-to-end near-dup removal (dedup.dedup_apply): minhash-LSH
    pairs → connected components → exactly-one-representative verdict
    per document. Oracle = the connected_components recursive-CTE
    labels LEFT-joined back onto the corpus (unclustered docs label
    themselves, kept = url == cluster)."""
    registry: list = []
    out = dedup.dedup_apply(_docs_pages(spark, sf_dir),
                            threshold=MINHASH_THRESHOLD,
                            cache_registry=registry) \
        .localCheckpoint(eager=True)
    dedup.release_caches(registry)
    return out


def _q_hll_tiles(spark, sf_dir):
    """HyperLogLog distinct-url sketch per level-4 tile — gated on the
    INTEGER sketch columns (register count / zeros / scaled harmonic
    sum) plus the raw estimate, which is one IEEE division from exact
    ints (the ln()-corrected estimator is driver-side, tested in
    tests/test_sketches.py; libm stays out of gated columns)."""
    pages = load_pages(spark, sf_dir).select("url", "cell_l4")
    return sketches.hll_sketch(pages, "cell_l4")


def _q_cm_tokens(spark, sf_dir):
    """Count-Min sketch (4x1024) of the corpus token frequencies — the
    sparse counter relation is the gate (bounded at d*w rows no matter
    the corpus size; merge = counter sum, tested)."""
    return sketches.cm_sketch_tokens(_docs_pages(spark, sf_dir))


def _q_text_quality(spark, sf_dir):
    return textstats.text_quality(_docs_pages(spark, sf_dir))


def _q_token_counts(spark, sf_dir):
    """Token counting, both spec variants: whitespace tokens + GPT-2-ish
    BPE pretokenizer segments (portable regex, no lookahead)."""
    return textstats.token_counts(_docs_pages(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs_pages(spark, sf_dir))


def _q_fingerprints(spark, sf_dir):
    return textstats.fingerprints(_docs_pages(spark, sf_dir))


LINE_SHINGLE_K = 5  # sf0.01 docs are single-line; see _q_line_dedup


def _q_line_dedup(spark, sf_dir):
    """CCNet-style boilerplate-line removal (dedup.line_dedup): lines
    shared by >= 2 distinct docs are dropped from every doc; surviving
    lines re-join byte-identically in original order.

    The synthetic documents carry no newlines, so the gate line-ifies
    each doc first — lines := its 5-token shingles joined by '\\n'
    (both engines' shingle builders, T.shingles / T.shingles_sql).
    At sf0.01 that yields a non-trivial regime (9% of lines shared by
    >= 2 docs, 71 docs affected); the operator under test — split,
    distinct-doc counting, broadcast anti-join, ordered reassembly —
    is exercised unchanged."""
    docs = _docs_pages(spark, sf_dir)
    nl = docs.select(
        "url",
        F.array_join(T.shingles(T.tokens(F.col("text")),
                                k=LINE_SHINGLE_K), "\n").alias("text_nl"))
    return dedup.line_dedup(nl, min_docs=LINE_DEDUP_MIN_DOCS,
                            text_col="text_nl")


def _q_gopher(spark, sf_dir):
    """Gopher document-quality rules (textstats.gopher_flags) — every
    ratio threshold cross-multiplied to exact int64, so all flags are
    hash-portable with no float caveat."""
    return textstats.gopher_flags(_docs_pages(spark, sf_dir))


REP_LINE_K = 2


def _q_gopher_rep(spark, sf_dir):
    """Gopher repetition rules (textstats.gopher_rep): duplicate-line
    fractions + top-2/3/4-gram char coverage, exact ints throughout.

    Like line_dedup, the newline-free synthetic docs are line-ified
    first — here with 2-token shingles (349/500 sf0.01 docs repeat a
    2-gram, so the duplicate-line counters are non-trivially exercised;
    5-grams never repeat within a doc)."""
    docs = _docs_pages(spark, sf_dir)
    nl = docs.select(
        "url",
        F.array_join(T.shingles(T.tokens(F.col("text")), REP_LINE_K),
                     "\n").alias("text_nl"))
    return textstats.gopher_rep(nl, text_col="text_nl")


def _q_corpus_split(spark, sf_dir):
    """Deterministic 98/1/1 train/valid/test assignment from the md5
    h60 of the url (textstats.corpus_split)."""
    return textstats.corpus_split(_docs_pages(spark, sf_dir))


DOMAIN_CAP = 20
# every sf domain holds exactly 25 docs; thinning half of them to 20
# (= the cap) makes the gate exercise BOTH paths of domain_cap — the
# sort-free under-cap passthrough AND the windowed over-cap ranking
_THIN_SRCS = tuple(f"src{i}" for i in range(10))


def _q_domain_cap(spark, sf_dir):
    """C4-style per-domain contribution cap (corpus.domain_cap):
    kept=false past DOMAIN_CAP docs per domain, priority = stable
    (h60(url), url) hash order."""
    docs = _docs_pages(spark, sf_dir)
    thin = ~(F.substring_index(F.col("url"), "/", 1).isin(*_THIN_SRCS)
             & (F.col("doc_id") % 5 == 0))
    return corpus.domain_cap(docs.filter(thin), DOMAIN_CAP)


STRATA_RATES = {"en": (1, 1), "es": (1, 2), "de": (1, 3), "fr": (2, 3)}
STRATA_DEFAULT = (1, 4)   # zh is deliberately unlisted -> default branch


def _q_stratified_sample(spark, sf_dir):
    """Deterministic per-language downsampling (corpus.
    stratified_sample): keep iff h60(url) % den < num for the lang's
    rate — a zero-shuffle pure projection; the rate table compiles to
    a CASE chain, not a join."""
    return corpus.stratified_sample(_docs_pages(spark, sf_dir), "lang",
                                    STRATA_RATES, STRATA_DEFAULT)


TFIDF_K = 3


def _q_tfidf_topk(spark, sf_dir):
    """Per-document keyword extraction (corpus.tfidf_topk): top-3
    tokens by the exact fixed-point tf/df ratio (tf-idf with a
    reciprocal idf by spec — no log(), so the gate has no libm
    caveat)."""
    return corpus.tfidf_topk(_docs_pages(spark, sf_dir), TFIDF_K)


VOCAB_N = 25


def _q_vocab_topn(spark, sf_dir):
    """Corpus vocabulary: top-25 tokens by total occurrences, ties by
    token text (corpus.vocab_topn — TakeOrderedAndProject plan)."""
    return corpus.vocab_topn(_docs_pages(spark, sf_dir), VOCAB_N)


def _q_minhash_sigs(spark, sf_dir):
    sigs = dedup.minhash_signatures(_docs_pages(spark, sf_dir))
    return sigs.select("url", F.posexplode("sigs").alias("sig_idx", "sig_value"))


def _q_minhash_pairs(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_docs_pages(spark, sf_dir),
                                   threshold=MINHASH_THRESHOLD)


OVERSIZE_CAP = 1  # sf0.01: every shared band bucket trips the report


def _q_minhash_oversize(spark, sf_dir):
    """Boilerplate-bucket reporting (r3 gate for the max_bucket cap's
    other half): LSH band buckets with more than OVERSIZE_CAP members —
    the clusters a production dedup routes to representative sampling
    instead of pairwise verification."""
    sigs = dedup.minhash_signatures(_docs_pages(spark, sf_dir))
    bands = dedup.minhash_band_buckets(sigs)
    return dedup.oversize_buckets(bands, ("band", "band_key"),
                                  OVERSIZE_CAP)


def _q_connected_components(spark, sf_dir):
    """Cluster labeling over the minhash near-dup pair graph: every url
    gets the MIN url of its connected component (label propagation to
    fixpoint — the exactly-one-representative-per-cluster dedup
    verdict). Oracle = DuckDB recursive CTE reachability over the SAME
    pair set, min(label) per vertex."""
    # connected_components consumes the pair stream EAGERLY (its label
    # rounds run at call time and the returned labels are checkpoint-
    # backed), so the signatures persist can be released right here —
    # without the registry this gate's copy of the signatures frame
    # lingered in executor storage for the driver session (ADVICE r3).
    registry: list = []
    pairs = dedup.minhash_lsh_pairs(_docs_pages(spark, sf_dir),
                                    threshold=MINHASH_THRESHOLD,
                                    cache_registry=registry) \
        .select("url_a", "url_b")
    labels = dedup.connected_components(pairs)
    dedup.release_caches(registry)
    return labels


def _q_simhash_docs(spark, sf_dir):
    return dedup.simhash_df(_docs_pages(spark, sf_dir))


def _q_simhash_pairs(spark, sf_dir):
    # max_bucket=None: the DuckDB oracle is brute-force O(n²), so the
    # gated path must run with exact recall (no bucket cap). Library
    # use keeps the default cap + oversize_buckets reporting.
    return dedup.simhash_pairs(_docs_pages(spark, sf_dir), max_hamming=3,
                               max_bucket=None)


def _load_embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_emb_near_dup(spark, sf_dir):
    return dedup.emb_near_dup(_load_embs(spark, sf_dir), tau=EMB_NEAR_DUP_TAU)


def _ann_queries(embs):
    return embs.filter(F.col("vec_id") < ANN_N_QUERIES) \
        .select(F.col("vec_id").alias("query_id"), "embedding")


def _q_ann_brute(spark, sf_dir):
    embs = _load_embs(spark, sf_dir)
    return ann.ann_brute_topk(embs, _ann_queries(embs), k=ANN_K)


def _q_emb_near_dup_lsh(spark, sf_dir):
    """Bucketed embedding near-dup — the scale path twin of the
    brute-force emb_near_dup gate (candidates = bucket pairs within
    hamming 1; recall semantics in the operator docstring and
    replicated exactly by the oracle)."""
    return ann.emb_near_dup_lsh(_load_embs(spark, sf_dir),
                                tau=EMB_NEAR_DUP_TAU)


def _q_tile_rollup(spark, sf_dir):
    """B14: multi-level tile stats in one pass (rollup l4 → l8)."""
    pages = load_pages(spark, sf_dir)
    return (pages.rollup("cell_l4", "cell_l8")
            .agg(F.count("*").alias("n_docs"),
                 F.grouping_id().alias("gid")))


def _q_tile_distinct(spark, sf_dir):
    """B13: exact distinct sources per level-4 tile (the approx
    HLL++ variant is engine-side only — tested for error bounds in
    tests/test_text_ops.py, not oracle-gated because sketches are not
    cross-engine deterministic)."""
    pages = load_pages(spark, sf_dir)
    return (pages.groupBy("cell_l4")
            .agg(F.countDistinct("lang").alias("n_langs"),
                 F.countDistinct("url").alias("n_urls")))


def _q_tile_median(spark, sf_dir):
    """Exact percentile aggregate per tile (B12/B16 family): median
    n_chars per level-4 cell. Exact (sort-based) percentile, NOT the
    approx sketch: with integer inputs both Spark's (1-g)*a + g*b and
    DuckDB's a + (b-a)*g interpolations are mathematically exact in
    double at g in {0, 0.5}, so the gate is hash-exact."""
    pages = load_pages(spark, sf_dir)
    return (pages.groupBy("cell_l4")
            .agg(F.count("*").alias("n_docs"),
                 F.percentile("n_chars", F.lit(0.5)).alias("median_chars")))


def _q_tile_quantiles(spark, sf_dir):
    """Exact discrete quantiles (p25/p50/p90 of n_chars) per level-4
    tile — integer-rank selection over the distinct-value relation, so
    ANY q gates hash-exact (no interpolation, unlike tile_median)."""
    pages = load_pages(spark, sf_dir)
    return TL.grouped_quantiles_disc(pages, "cell_l4", "n_chars")


def _q_vectorize_tiles(spark, sf_dir):
    """Raster→vector (r3): threshold the level-3 occupancy raster and
    collapse complete sibling quartets bottom-up into a normalized
    cell union (262 occupied cells → merged multi-level union at
    sf0.01; 25 quartets fire in the first round)."""
    pages = load_pages(spark, sf_dir)
    return TL.vectorize_tiles(pages, level=3, min_rows=1)


def _q_events_scalar(spark, sf_dir):
    """B19: scalar-function surface — json, date, string ops."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.upper("event_type").alias("etype"),
        F.round(F.col("value") * 2.0, 2).alias("value2"))


ASOF_TOLERANCE_US = 100_000_000_000  # ~27.8h; median sf0.01 gap ~36h


def _asof_click_error(spark, sf_dir, tolerance_us=None):
    """B11: for every click event, the most recent prior-or-equal error
    event of the same user (backward inclusive as-of, inner)."""
    from s2geometry_spark.operators.asof import asof_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error") \
        .select(F.col("event_id").alias("err_id"), "user_id", "ts")
    # tiebreak=err_id: among error rows sharing (user_id, ts), the max
    # event_id wins — deterministic output even if the fixture ever
    # grows duplicate per-user timestamps (oracle mirrors this).
    out = asof_join(clicks, errors, on=["user_id"],
                    right_cols=["err_id"], tiebreak="err_id",
                    tolerance_us=tolerance_us)
    return out.select(
        "event_id", "user_id", F.col("err_id_r").alias("err_id"),
        F.expr("timestampdiff(MICROSECOND, ts_r, ts)").alias("gap_us"))


def _q_asof_click_error(spark, sf_dir):
    return _asof_click_error(spark, sf_dir)


def _q_asof_click_error_fwd(spark, sf_dir):
    """B11 forward direction (r4): for every click, the NEAREST error
    at-or-after it — the mirror as-of, oracled by DuckDB ASOF with the
    inequality flipped (c.ts <= e.ts)."""
    from s2geometry_spark.operators.asof import asof_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error") \
        .select(F.col("event_id").alias("err_id"), "user_id", "ts")
    out = asof_join(clicks, errors, on=["user_id"],
                    right_cols=["err_id"], tiebreak="err_id",
                    direction="forward")
    return out.select(
        "event_id", "user_id", F.col("err_id_r").alias("err_id"),
        F.expr("timestampdiff(MICROSECOND, ts, ts_r)").alias("gap_us"))


def _q_asof_click_error_tol(spark, sf_dir):
    """B11 tolerance variant (r3): matches farther back than the
    tolerance are dropped — pandas-merge_asof semantics; equivalent to
    match-within-tolerance for a backward as-of (operator docstring).
    Chosen so it keeps a strict subset of the base gate's rows."""
    return _asof_click_error(spark, sf_dir,
                             tolerance_us=ASOF_TOLERANCE_US)


SESSION_GAP_US = 4 * 3600 * 1_000_000   # 4h; sf0.01 yields 6940 sessions


def _q_sessionize(spark, sf_dir):
    """Gaps-and-islands session assignment (sessions.sessionize): a new
    per-user session whenever the gap to the previous event exceeds 4h;
    ties on ts broken by event_id. Output is timestamp-free (idx + the
    differential gap in microseconds)."""
    from s2geometry_spark.operators import sessions
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessions.sessionize(ev, SESSION_GAP_US)


def _q_session_stats(spark, sf_dir):
    """Per-session rollups via the NATIVE F.session_window aggregate
    (sessions.session_stats) — count/duration/first/last plus an exact
    quantized value sum; pytest separately proves the native merge rule
    equals the sessionize() lag-split rule."""
    from s2geometry_spark.operators import sessions
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessions.session_stats(ev, SESSION_GAP_US)


def _q_sessionize_stream_replay(spark, sf_dir):
    """STREAMING gate (r5): replay the events table as a bounded
    3-micro-batch file stream — split by TIME, the stateful operator's
    cross-batch ordering contract — through streaming_sessionize
    (applyInPandasWithState, streaming/stateful.py), drain with
    foreachBatch into parquet, and return the re-read rows. The oracle
    is the same batch lag+cumsum twin the sessionize gate uses, so a
    green row proves the custom stateful-streaming path assigns
    byte-identical session indexes, including sessions that SPAN
    micro-batch boundaries (per-user state carries last_ts + idx).
    foreachBatch → parquet is the production sink shape
    (tile_stream.run_stream_to_memory's docstring); the memory sink is
    test-only."""
    import shutil
    import tempfile
    import time as _time

    from s2geometry_spark.streaming import stateful

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("event_id", "user_id", "ts"))
    # equal-time-span terciles from one min/max agg — no row collect;
    # any time-ordered split is correct, this one is deterministic
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = hi - lo
    t1, t2 = lo + span / 3, lo + 2 * span / 3
    parts = [ev.filter(F.col("ts") <= t1),
             ev.filter((F.col("ts") > t1) & (F.col("ts") <= t2)),
             ev.filter(F.col("ts") > t2)]
    work = tempfile.mkdtemp(prefix="sess_replay_")
    try:
        src, sink, ckpt = (f"{work}/src", f"{work}/out", f"{work}/ckpt")
        # sequential writes ⇒ increasing mtimes ⇒ the file source's
        # processing order under maxFilesPerTrigger=1
        for i, p in enumerate(parts):
            p.coalesce(1).write.parquet(f"{src}/f{i}")
            _time.sleep(0.1)
        stream = (spark.readStream.schema(parts[0].schema)
                  .option("maxFilesPerTrigger", 1).parquet(f"{src}/f*"))
        out = stateful.streaming_sessionize(stream, SESSION_GAP_US)
        q = (out.writeStream
             .foreachBatch(lambda bdf, _bid:
                           bdf.write.mode("append").parquet(sink))
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        # materialize OFF the temp dir before cleanup (the driver
        # collects after this function returns)
        rows = spark.read.parquet(sink)
        return spark.createDataFrame(rows.collect(), rows.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _q_tile_stream_replay(spark, sf_dir):
    """STREAMING gate (r5): replay the pages table as a bounded
    3-micro-batch file stream — split by event time — through
    streaming_tile_counts (watermarked windowed agg over the SAME
    geocode kernel chain as batch, streaming/tile_stream.py), drained
    with foreachBatch in COMPLETE mode: every batch overwrites the
    parquet sink, so the final write is the full histogram and the
    watermark never evicts a window the gate still needs. A green row
    proves stream ≡ batch for the windowed tile histogram. win_start
    rides as epoch SECONDS (bigint): warc_ts is 2025-01-01 UTC +
    doc_id seconds by construction (sources/pages.py), so the DuckDB
    twin is integer arithmetic on doc_id — timezone-proof."""
    import shutil
    import tempfile
    import time as _time

    from s2geometry_spark.streaming import tile_stream

    pages = documents_to_pages(load_documents(spark, sf_dir)) \
        .select("url", "warc_ts", "text", "lang")
    lo, hi = pages.agg(F.min("warc_ts"), F.max("warc_ts")).first()
    span = hi - lo
    t1, t2 = lo + span / 3, lo + 2 * span / 3
    parts = [pages.filter(F.col("warc_ts") <= F.lit(t1)),
             pages.filter((F.col("warc_ts") > F.lit(t1))
                          & (F.col("warc_ts") <= F.lit(t2))),
             pages.filter(F.col("warc_ts") > F.lit(t2))]
    work = tempfile.mkdtemp(prefix="tile_replay_")
    try:
        src, sink, ckpt = (f"{work}/src", f"{work}/out", f"{work}/ckpt")
        for i, p in enumerate(parts):
            p.coalesce(1).write.parquet(f"{src}/f{i}")
            _time.sleep(0.1)
        stream = tile_stream.stream_pages(spark, f"{src}/f*",
                                          max_files_per_trigger=1)
        out = tile_stream.streaming_tile_counts(stream, level=4,
                                                window="1 hour")
        q = (out.writeStream
             .foreachBatch(lambda bdf, _bid:
                           bdf.write.mode("overwrite").parquet(sink))
             .outputMode("complete")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        rows = (spark.read.parquet(sink)
                .select(F.col("win_start").cast("long")
                        .alias("win_start_s"), "cell_l4", "n_docs"))
        return spark.createDataFrame(rows.collect(), rows.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _media_pages(spark, sf_dir):
    return documents_to_pages(load_documents(spark, sf_dir), with_html=True)


def _q_media_meta(spark, sf_dir):
    return media.media_metadata(_media_pages(spark, sf_dir))


def _q_media_resize(spark, sf_dir):
    """Deterministic fake resize over the binary payload (mapInPandas +
    numpy block means — the real resize plumbing; decode stub plugs in
    for actual codecs). The 4x4 grid is posexploded to scalar
    (url, px, val) rows because the driver canonicalizer hash-sorts
    columns and cannot hash a list cell (round-2 red row)."""
    grid = media.media_resize(_media_pages(spark, sf_dir))
    return grid.select("url", F.posexplode("grid").alias("px", "val"))


def _q_frame_sample(spark, sf_dir):
    return media.frame_sample(_media_pages(spark, sf_dir))


def _q_media_features(spark, sf_dir):
    """Deterministic fake media decode (16-bin high-nibble histogram of
    the payload bytes), exploded to (url, bin, n) so the DuckDB oracle
    can replay it with per-class regexp counts (ASCII corpus: byte
    counts == char counts)."""
    feats = media.media_features(_media_pages(spark, sf_dir))
    return feats.select(
        "url", F.posexplode("features").alias("bin", "n"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registered gates, in DRIVER-WINDOW ROTATION ORDER (SURVEY §2.3.1).

    The correctness driver checks the first ~50 entries of this dict per
    round, so ordering is the rotation schedule: (1) gates that have never
    had a driver row or whose last green row is oldest come FIRST, (2) gates
    whose implementation was touched this round come next, (3) long-stable
    gates (green in the two most recent rounds, untouched) rotate to the
    tail and go at most one round between checks.  r5 front-loads the 13
    gates the r4 driver run did not reach (4 of them never checked:
    sessionize, session_stats, tile_quantiles, asof_click_error_fwd) plus
    the 4 r5 additions (two streaming replay gates, corpus_pipeline,
    dedup_apply); the 17 tail gates past the window were all green in r4.
    """
    return {
        # -- never driver-checked before r5 -------------------------------
        "sessionize": _q_sessionize,
        "session_stats": _q_session_stats,
        "tile_quantiles": _q_tile_quantiles,
        "asof_click_error_fwd": _q_asof_click_error_fwd,
        "sessionize_stream_replay": _q_sessionize_stream_replay,
        "tile_stream_replay": _q_tile_stream_replay,
        "corpus_pipeline": _q_corpus_pipeline,
        "dedup_apply": _q_dedup_apply,
        # -- last checked r3 ----------------------------------------------
        "asof_click_error": _q_asof_click_error,
        "asof_click_error_tol": _q_asof_click_error_tol,
        "events_scalar": _q_events_scalar,
        "tile_rollup": _q_tile_rollup,
        "tile_distinct_l4": _q_tile_distinct,
        "tile_median": _q_tile_median,
        "vectorize_tiles_l3": _q_vectorize_tiles,
        "frame_sample": _q_frame_sample,
        "media_features": _q_media_features,
        # -- touched in r5 (regression fix / hardening) --------------------
        "simhash_docs": _q_simhash_docs,
        "simhash_pairs": _q_simhash_pairs,
        "line_dedup": _q_line_dedup,
        "knn_ring": _q_knn,
        "gopher_rep": _q_gopher_rep,
        "minhash_sigs": _q_minhash_sigs,
        "minhash_lsh_pairs": _q_minhash_pairs,
        "minhash_oversize_buckets": _q_minhash_oversize,
        "connected_components": _q_connected_components,
        # -- core geo + pipeline (green r4, re-check while slots remain) ---
        "geocode_cells": _q_geocode,
        "tile_counts_l4": _q_tile_counts,
        "hierarchy_keys": _q_hierarchy,
        "pip_rect_equi": _q_pip_rect,
        "pip_cap_equi": _q_pip_cap,
        "pip_polygon_equi": _q_pip_polygon,
        "pip_polyline_equi": _q_pip_polyline,
        "pip_union_equi": _q_pip_union,
        "pip_hull_equi": _q_pip_hull,
        "pip_all_range": _q_pip_range,
        "pip_salted_shuffle": _q_pip_salted,
        "covering_candidates": _q_covering_candidates,
        "region_overlap": _q_region_overlap,
        "neighbors_l8": _q_neighbors,
        "dist_join_pairs": _q_dist_join,
        "exact_dedup": _q_exact_dedup,
        "decontaminate": _q_decontaminate,
        "url_dedup": _q_url_dedup,
        "hll_tile_distinct": _q_hll_tiles,
        "cm_token_sketch": _q_cm_tokens,
        "ann_brute_topk": _q_ann_brute,
        "emb_near_dup_lsh": _q_emb_near_dup_lsh,
        # -- stable tail: green r4 AND r3, untouched; rotate back into the
        # -- window next round (at most one round between driver rows) -----
        "emb_near_dup": _q_emb_near_dup,
        "gopher_quality": _q_gopher,
        "url_normalize": _q_url_normalize,
        "media_meta": _q_media_meta,
        "media_resize": _q_media_resize,
        "text_quality": _q_text_quality,
        "token_counts": _q_token_counts,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_fingerprints,
        "corpus_split": _q_corpus_split,
        "domain_cap": _q_domain_cap,
        "stratified_sample": _q_stratified_sample,
        "tfidf_topk": _q_tfidf_topk,
        "vocab_topn": _q_vocab_topn,
    }


# ---------------------------------------------------------------------------
# oracle_sql() — DuckDB side
# ---------------------------------------------------------------------------

def _knn_values_sql() -> str:
    """VALUES rows for the kNN oracle — the exact same unit vectors the
    engine's knn_join computes (same math.cos/sin calls on the same
    demo_knn_queries coordinates)."""
    import math
    rows = []
    for q in demo_knn_queries():
        la, ln = math.radians(q["lat"]), math.radians(q["lng"])
        cl = math.cos(la)
        qx, qy, qz = cl * math.cos(ln), cl * math.sin(ln), math.sin(la)
        rows.append(f"(CAST({q['query_id']} AS BIGINT), {qx!r}, {qy!r}, {qz!r},"
                    f" {q['k']})")
    return ", ".join(rows)


def _cap_sql_pred(reg) -> str:
    return (f"((px - {reg.cx!r})*(px - {reg.cx!r})"
            f" + (py - {reg.cy!r})*(py - {reg.cy!r}))"
            f" + (pz - {reg.cz!r})*(pz - {reg.cz!r}) <= {2.0 * reg.height!r}")


# Shared CTE stages for the text/dedup oracles (SURVEY §5.3 discipline:
# every stage is the portable twin of a functions/text.py builder).
# Each stage is a (head-parametrized) builder so a recursive consumer
# can ask for a "WITH RECURSIVE " head directly instead of string-
# patching the finished chain (an ADVICE finding: .replace("WITH ",...)
# breaks far from the cause if the prefix ever changes).
def _docs_cte(head: str = "WITH ") -> str:
    return (f"{head}docs AS (SELECT source || '/' ||"
            " CAST(doc_id AS VARCHAR)"
            " AS url, text, lang FROM documents)")


def _tok_cte(head: str = "WITH ") -> str:
    return (_docs_cte(head) + f", tok AS (SELECT url, lang, text,"
            f" {T.tokens_sql('text')} AS toks FROM docs)")


def _shing_cte(head: str = "WITH ") -> str:
    return (_tok_cte(head)
            + f", shing AS (SELECT url, {T.shingles_sql('toks')} AS shs"
            " FROM tok)"
            ", shing2 AS (SELECT url, shs FROM shing WHERE len(shs) > 0)"
            ", md5d AS (SELECT url,"
            f" {T.shingle_md5s_sql('shs')} AS md5s FROM shing2)"
            ", sigd AS (SELECT url,"
            f" list_distinct([{T.h60_from_md5_sql('m')} for m in md5s])"
            " AS sh,"
            f" {T.minhash_sigs_sql('md5s')} AS sigs FROM md5d)")


_DOCS_CTE = _docs_cte()
_TOK_CTE = _tok_cte()
_SHING_CTE = _shing_cte()
# messy-url corpus + canonicalization stages (operators/urls.py twin);
# the three variants mirror _decorated_urls exactly
_DECOR_CTE = ("WITH raw AS ("
              "SELECT 'https://' || upper(source) || ':443/'"
              " || CAST(doc_id AS VARCHAR) || '?utm_source=a' AS url"
              " FROM documents"
              " UNION ALL SELECT 'https://' || source || '/'"
              " || CAST(doc_id AS VARCHAR) || '/#frag' FROM documents"
              " UNION ALL SELECT 'http://' || source || ':80/'"
              " || CAST(doc_id AS VARCHAR) || '?id='"
              " || CAST(doc_id AS VARCHAR) || '&utm_campaign=c'"
              " FROM documents), "
              + urls.canonical_url_ctes("raw"))
# sessionization twin: lag-gap split + running-sum index, shared by the
# sessionize (row-level) and session_stats (rollup) gates so both label
# the SAME session partition
_SESS_CTE = f"""WITH sg AS (
        SELECT event_id, user_id, ts, value,
               date_diff('microsecond', lag(ts) OVER w, ts) AS gap_us_prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sx AS (
        SELECT *,
               CAST(SUM(CASE WHEN gap_us_prev IS NULL
                             OR gap_us_prev > {SESSION_GAP_US}
                        THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_idx
        FROM sg)"""
_SIMS_CTE = (_TOK_CTE
             + ", th AS (SELECT url,"
             f" {T.token_hashes_sql('text')} AS th FROM tok"
             " WHERE len(toks) > 0)"
             ", sims AS (SELECT url, CAST(list_sum([CASE WHEN"
             " CAST(list_sum([2*((h >> b) & 1)-1 for h in th]) AS BIGINT)"
             " >= 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END"
             " for b in range(0,60)]) AS BIGINT) AS simhash FROM th)")
# minhash LSH candidate + verified-pair stages, shared by the
# minhash_lsh_pairs gate and the connected_components gate (which
# must label the SAME pair graph)
_MINHASH_CAND_CTES = f"""
    , bk AS (SELECT url, b, ({T.band_keys_sql('sigs')})[b + 1]
                 AS band_key
             FROM sigd, unnest(range(0, {T.N_BANDS})) t(b))
    , bkf AS (SELECT url, b, band_key FROM (
                  SELECT *, count(*) OVER (PARTITION BY b, band_key)
                      AS bn FROM bk)
              WHERE bn <= {{max_bucket}})
    , cand AS (SELECT DISTINCT x.url AS url_a, y.url AS url_b
               FROM bkf x JOIN bkf y
                 ON x.b = y.b AND x.band_key = y.band_key
                AND x.url < y.url)"""
_JACC = ("CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
         " / CAST(len(sa.sh) + len(sb.sh)"
         " - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)")
_MINHASH_PAIRS_SELECT = f"""
    SELECT url_a, url_b, {_JACC} AS jaccard
    FROM cand JOIN sigd sa ON cand.url_a = sa.url
              JOIN sigd sb ON cand.url_b = sb.url
    WHERE {_JACC} >= {{threshold}}"""

_ASOF_ORACLE = """
            SELECT a.event_id, a.user_id, max(e2.event_id) AS err_id,
                   a.gap_us
            FROM (SELECT c.event_id, c.user_id, e.ts AS err_ts,
                         CAST(date_sub('microseconds', e.ts, c.ts)
                              AS BIGINT) AS gap_us
                  FROM (SELECT event_id, user_id, ts FROM events
                        WHERE event_type = 'click') c
                  ASOF JOIN (SELECT event_id, user_id, ts FROM events
                             WHERE event_type = 'error') e
                    ON c.user_id = e.user_id AND c.ts >= e.ts) a
            JOIN (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'error') e2
              ON e2.user_id = a.user_id AND e2.ts = a.err_ts
            GROUP BY a.event_id, a.user_id, a.gap_us
        """

_ASOF_FWD_ORACLE = """
            SELECT a.event_id, a.user_id, max(e2.event_id) AS err_id,
                   a.gap_us
            FROM (SELECT c.event_id, c.user_id, e.ts AS err_ts,
                         CAST(date_sub('microseconds', c.ts, e.ts)
                              AS BIGINT) AS gap_us
                  FROM (SELECT event_id, user_id, ts FROM events
                        WHERE event_type = 'click') c
                  ASOF JOIN (SELECT event_id, user_id, ts FROM events
                             WHERE event_type = 'error') e
                    ON c.user_id = e.user_id AND c.ts <= e.ts) a
            JOIN (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'error') e2
              ON e2.user_id = a.user_id AND e2.ts = a.err_ts
            GROUP BY a.event_id, a.user_id, a.gap_us
        """

_MEDIA_CTE = ("WITH pmedia AS (SELECT source || '/' ||"
              " CAST(doc_id AS VARCHAR) AS url,"
              " '<html><body>' || text || '</body></html>' AS payload"
              " FROM documents)")
_EMB_COS = ann.cosine_sql("a.embedding", "b.embedding")
_QC_COS = ann.cosine_sql("e.embedding", "q.qv")


def oracle_sql() -> dict[str, str]:
    regs = {r.region_id: r for r in demo_regions()}
    cap1 = _cap_sql_pred(regs[1])
    cap2 = _cap_sql_pred(regs[2])
    quality = textstats.quality_sql_exprs("text")
    return {
        "geocode_cells": f"""
            SELECT d.doc_id, f.h,
                   {_LAT_SQL} AS lat, {_LNG_SQL} AS lng,
                   f.px, f.py, f.pz,
                   f.cell_id,
                   ((f.cell_id & {-_LSB4}) | {_LSB4}) AS cell_l4,
                   ((f.cell_id & {-_LSB8}) | {_LSB8}) AS cell_l8,
                   f.token
            FROM documents d
            JOIN read_parquet('{FIXDIR}/cells_sf0_01.parquet') f USING (doc_id)
        """,
        "tile_counts_l4": f"""
            SELECT ((f.cell_id & {-_LSB4}) | {_LSB4}) AS cell_l4,
                   COUNT(*) AS n_docs,
                   CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
            FROM documents d
            JOIN read_parquet('{FIXDIR}/cells_sf0_01.parquet') f USING (doc_id)
            GROUP BY 1
        """,
        # XOR with 1<<63 (as the int64 value INT64_MIN) flips the sign
        # bit: the signed-order-key trick of SURVEY §2.2, portable SQL.
        "hierarchy_keys": f"""
            SELECT f.doc_id, f.cell_id,
                   30 AS level,
                   xor((((f.cell_id & {-_LSB8}) | {_LSB8}) - {_LSB8 - 1}),
                       CAST(-9223372036854775807 - 1 AS BIGINT)) AS l8_range_min_key,
                   xor((((f.cell_id & {-_LSB8}) | {_LSB8}) + {_LSB8 - 1}),
                       CAST(-9223372036854775807 - 1 AS BIGINT)) AS l8_range_max_key,
                   f.cell_key
            FROM read_parquet('{FIXDIR}/cells_sf0_01.parquet') f
        """,
        "pip_rect_equi": _PTS_CTE + """
            SELECT url, CAST(3 AS BIGINT) AS region_id FROM pts
              WHERE lat BETWEEN 24.0 AND 49.5 AND lng BETWEEN -125.5 AND -66.5
            UNION ALL
            SELECT url, CAST(4 AS BIGINT) FROM pts
              WHERE lat BETWEEN -47.0 AND -12.0 AND (lng >= 165.0 OR lng <= -165.0)
            UNION ALL
            SELECT url, CAST(5 AS BIGINT) FROM pts WHERE lat >= 78.0
        """,
        "pip_cap_equi": _PTS_CTE + f"""
            SELECT url, CAST(1 AS BIGINT) AS region_id FROM pts WHERE {cap1}
            UNION ALL
            SELECT url, CAST(2 AS BIGINT) FROM pts WHERE {cap2}
        """,
        "pip_polygon_equi": f"""
            SELECT d.source || '/' || CAST(d.doc_id AS VARCHAR) AS url,
                   e.region_id
            FROM read_parquet('{FIXDIR}/expected_pip_sf0_01.parquet') e
            JOIN documents d USING (doc_id)
            WHERE e.region_id IN (6, 7, 8)
        """,
        # union = OR of the member predicates (cap chord test, rect
        # bounds, polygon fixture rows) — one row per page regardless
        # of how many members contain it
        "pip_union_equi": _PTS_CTE + f"""
            SELECT url, CAST(10 AS BIGINT) AS region_id FROM pts
            WHERE {cap2}
               OR (lat BETWEEN -47.0 AND -12.0
                   AND (lng >= 165.0 OR lng <= -165.0))
               OR doc_id IN (
                   SELECT doc_id
                   FROM read_parquet('{FIXDIR}/expected_pip_sf0_01.parquet')
                   WHERE region_id = 6)
        """,
        "pip_all_range": f"""
            SELECT d.source || '/' || CAST(d.doc_id AS VARCHAR) AS url,
                   e.region_id
            FROM read_parquet('{FIXDIR}/expected_pip_sf0_01.parquet') e
            JOIN documents d USING (doc_id)
        """,
        # same logical query (all 8 regions, superset covering + exact
        # filter), different physical strategy — the shuffle must be
        # result-invisible, so the oracle is the same fixture replay
        "pip_salted_shuffle": f"""
            SELECT d.source || '/' || CAST(d.doc_id AS VARCHAR) AS url,
                   e.region_id
            FROM read_parquet('{FIXDIR}/expected_pip_sf0_01.parquet') e
            JOIN documents d USING (doc_id)
        """,
        "region_overlap": f"""
            SELECT DISTINCT a.region_id AS region_a,
                            b.region_id AS region_b
            FROM read_parquet('{FIXDIR}/coverings_sf0_01.parquet') a
            JOIN read_parquet('{FIXDIR}/coverings_sf0_01.parquet') b
              ON a.range_min_key <= b.range_max_key
             AND b.range_min_key <= a.range_max_key
             AND a.region_id < b.region_id
        """,
        "covering_candidates": _PTS_CTE + f"""
            SELECT p.url, c.region_id, c.is_interior
            FROM pts p
            JOIN read_parquet('{FIXDIR}/coverings_sf0_01.parquet') c
              ON p.cell_key BETWEEN c.range_min_key AND c.range_max_key
        """,
        "pip_polyline_equi": f"""
            SELECT d.source || '/' || CAST(d.doc_id AS VARCHAR) AS url,
                   CAST(9 AS BIGINT) AS region_id
            FROM read_parquet('{FIXDIR}/expected_polyline_sf0_01.parquet') e
            JOIN documents d USING (doc_id)
        """,
        "pip_hull_equi": f"""
            SELECT d.source || '/' || CAST(d.doc_id AS VARCHAR) AS url,
                   CAST(11 AS BIGINT) AS region_id
            FROM read_parquet('{FIXDIR}/expected_hull_sf0_01.parquet') e
            JOIN documents d USING (doc_id)
        """,
        "neighbors_l8": f"""
            SELECT cell, neighbor
            FROM read_parquet('{FIXDIR}/neighbors_sf0_01.parquet')
        """,
        # brute-force kNN oracle — independent of the engine's
        # per-partition top-k; same d2 expression and (d2, url)
        # tie-break.
        "knn_ring": _PTS_CTE + f""",
            q(query_id, qx, qy, qz, k) AS (VALUES {_knn_values_sql()}),
            d AS (SELECT q.query_id, pts.url,
                         ((pts.px - q.qx)*(pts.px - q.qx)
                          + (pts.py - q.qy)*(pts.py - q.qy))
                          + (pts.pz - q.qz)*(pts.pz - q.qz) AS d2,
                         q.k
                  FROM q CROSS JOIN pts)
            SELECT query_id, url,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY d2, url) AS INTEGER) AS rank
            FROM d
            QUALIFY rank <= k
        """,
        # brute-force distance-join oracle — all 125k pairs tested, no
        # grid: fully independent of the stencil machinery. cell is
        # the L4 parent of the RIGHT (greater-url side's center) cell,
        # the unique stencil key the engine reports per pair.
        "dist_join_pairs": _PTS_CTE + f""",
            d AS (SELECT a.url AS url_a, b.url AS url_b,
                         ((b.cell_id & {-_LSB4}) | {_LSB4}) AS cell,
                         ((a.px - b.px)*(a.px - b.px)
                          + (a.py - b.py)*(a.py - b.py))
                          + (a.pz - b.pz)*(a.pz - b.pz) AS d2
                  FROM pts a JOIN pts b ON a.url < b.url)
            SELECT url_a, url_b, cell FROM d
            WHERE d2 <= {_DIST_D2MAX!r}
        """,
        "exact_dedup": _DOCS_CTE + """
            SELECT md5(text) AS digest,
                   COUNT(*) AS n_docs,
                   MIN(url) AS canonical_url
            FROM docs GROUP BY 1
        """,
        "url_normalize": _DECOR_CTE + """
            SELECT url, curl FROM cuf
        """,
        "url_dedup": _DECOR_CTE + """
            SELECT curl, COUNT(*) AS n_dup, MIN(url) AS url_keep
            FROM cuf GROUP BY curl
        """,
        "decontaminate": corpus.decontaminate_sql(
            _TOK_CTE, f"({T.h60_sql(chr(39) + 'bm:' + chr(39) + ' || url')}) % 7 = 0",
            k=5),
        "hll_tile_distinct": sketches.hll_sketch_sql(
            f"""(SELECT d.source || '/' || CAST(d.doc_id AS VARCHAR)
                        AS url,
                        ((f.cell_id & {-_LSB4}) | {_LSB4}) AS cell_l4
                 FROM documents d
                 JOIN read_parquet('{FIXDIR}/cells_sf0_01.parquet') f
                 USING (doc_id)) rel""",
            "cell_l4", "url"),
        "cm_token_sketch": sketches.cm_sketch_tokens_sql(_TOK_CTE),
        # parallel unnests zip in DuckDB, so (line, pos) comes from one
        # pass; the engine's broadcast anti-join is replayed as a LEFT
        # JOIN + FILTER so every doc (even fully-boilerplate ones)
        # keeps a row, matching line_dedup's groupBy-on-all-lines.
        "line_dedup": _TOK_CTE + f""",
            nl AS (SELECT url,
                          array_to_string(
                              {T.shingles_sql('toks', 5)}, chr(10)) AS t
                   FROM tok),
            ln AS (SELECT url, unnest(parts) AS line,
                          CAST(unnest(generate_series(1, len(parts)))
                               AS INT) - 1 AS pos
                   FROM (SELECT url, string_split(t, chr(10)) AS parts
                         FROM nl)),
            boiler AS (SELECT line FROM ln GROUP BY line
                       HAVING COUNT(DISTINCT url) >= {LINE_DEDUP_MIN_DOCS})
            SELECT l.url, COUNT(*) AS n_lines,
                   COUNT(*) FILTER (WHERE b.line IS NULL) AS n_kept,
                   coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
                            FILTER (WHERE b.line IS NULL), '') AS text_clean
            FROM ln l LEFT JOIN boiler b USING (line)
            GROUP BY l.url
        """,
        "gopher_quality": _DOCS_CTE + textstats.gopher_sql("docs"),
        "gopher_rep": _TOK_CTE + ", repdocs AS (SELECT url,"
        f" array_to_string({T.shingles_sql('toks', REP_LINE_K)}, chr(10))"
        " AS text FROM tok)" + textstats.gopher_rep_sql("repdocs"),
        # built straight from `documents` (not the docs CTE): the thin
        # filter needs source/doc_id, which the CTE projects away
        "domain_cap": f"""
            WITH k AS (SELECT source || '/' || CAST(doc_id AS VARCHAR)
                              AS url, source AS domain
                       FROM documents
                       WHERE NOT (source IN ({", ".join(
                           repr(s) for s in _THIN_SRCS)})
                                  AND doc_id % 5 = 0)),
                 r AS (SELECT url, domain,
                              row_number() OVER (
                                  PARTITION BY domain
                                  ORDER BY {T.h60_sql('url')}, url) AS rn
                       FROM k)
            SELECT url, domain, rn <= {DOMAIN_CAP} AS kept FROM r
        """,
        "stratified_sample": _DOCS_CTE + corpus.stratified_sample_sql(
            "docs", "lang", STRATA_RATES, STRATA_DEFAULT),
        "tfidf_topk": _DOCS_CTE + corpus.tfidf_topk_sql("docs", TFIDF_K),
        "vocab_topn": _TOK_CTE + f""",
            tk AS (SELECT url, unnest(toks) AS token FROM tok)
            SELECT token, COUNT(*) AS n_occurrences,
                   COUNT(DISTINCT url) AS n_docs
            FROM tk GROUP BY token
            ORDER BY n_occurrences DESC, token LIMIT {VOCAB_N}
        """,
        "corpus_split": _DOCS_CTE + f"""
            SELECT url, bucket,
                   CASE WHEN bucket < {textstats.SPLIT_TRAIN_LT} THEN 'train'
                        WHEN bucket < {textstats.SPLIT_VALID_LT} THEN 'valid'
                        ELSE 'test' END AS split
            FROM (SELECT url, {T.h60_sql('url')} % {textstats.SPLIT_BUCKETS}
                       AS bucket FROM docs)
        """,
        "text_quality": _TOK_CTE + f"""
            SELECT url,
                   {quality['n_tokens']} AS n_tokens,
                   {quality['n_distinct']} AS n_distinct,
                   {quality['n_subtokens']} AS n_subtokens,
                   {quality['mean_token_len']} AS mean_token_len,
                   {quality['stopword_ratio']} AS stopword_ratio,
                   {quality['punct_ratio']} AS punct_ratio,
                   {quality['quality_score']} AS quality_score
            FROM tok WHERE len(toks) > 0
        """,
        "lang_id": (_TOK_CTE
                    + ", lcd AS (SELECT url, lang,"
                    + textstats.letter_counts_sql("text")
                    + " AS lc FROM tok)"
                    + textstats.lang_id_oracle_sql("lcd")),
        "token_counts": _DOCS_CTE
        + textstats.token_counts_sql("docs"),
        "doc_fingerprint": _DOCS_CTE + f"""
            SELECT url, {T.fingerprint_sql('text')} AS fingerprint FROM docs
        """,
        "minhash_sigs": _SHING_CTE + """
            SELECT url, CAST(i - 1 AS INT) AS sig_idx, sigs[i] AS sig_value
            FROM sigd, unnest(range(1, 17)) t(i)
        """,
        "minhash_lsh_pairs": (
            _SHING_CTE
            + _MINHASH_CAND_CTES.format(max_bucket=dedup.DEFAULT_MAX_BUCKET)
            + _MINHASH_PAIRS_SELECT.format(
                threshold=repr(MINHASH_THRESHOLD))),
        # the cap's reporting half: band buckets too big for pairwise
        # verification (cluster verdicts, not pair streams)
        "minhash_oversize_buckets": _SHING_CTE + f"""
            , bk AS (SELECT url, b, ({T.band_keys_sql('sigs')})[b + 1]
                         AS band_key
                     FROM sigd, unnest(range(0, {T.N_BANDS})) t(b))
            SELECT CAST(b AS INT) AS band, band_key,
                   COUNT(*) AS n_members
            FROM bk GROUP BY 1, 2 HAVING COUNT(*) > {OVERSIZE_CAP}
        """,
        # min-label connected components over the SAME minhash pair
        # graph: recursive-CTE reachability (base = every vertex labels
        # itself; step = propagate labels across edges; UNION dedups so
        # the fixpoint is finite), then min(label) per vertex — an
        # independent declarative twin of the engine's label-propagation
        # loop.
        "connected_components": (
            _shing_cte("WITH RECURSIVE ")
            + _MINHASH_CAND_CTES.format(max_bucket=dedup.DEFAULT_MAX_BUCKET)
            + f"""
            , pr AS ({_MINHASH_PAIRS_SELECT.format(
                threshold=repr(MINHASH_THRESHOLD))})
            , e AS (SELECT url_a AS a, url_b AS b FROM pr
                    UNION SELECT url_b, url_a FROM pr)
            , reach(url, label) AS (
                SELECT a, a FROM e
                UNION
                SELECT e.a, r.label FROM e JOIN reach r ON e.b = r.url)
            SELECT url, min(label) AS cluster FROM reach GROUP BY url
        """),
        "simhash_docs": _SIMS_CTE + """
            SELECT url, simhash FROM sims
        """,
        # brute-force O(n²) — independent of the engine's chunk-LSH;
        # equality holds because 4-chunk LSH has exact recall at
        # hamming <= 3 (pigeonhole), dedup.simhash_pairs docstring.
        "simhash_pairs": _SIMS_CTE + """
            SELECT a.url AS url_a, b.url AS url_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
                       AS hamming
            FROM sims a JOIN sims b
              ON a.url < b.url
             AND bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "emb_near_dup": f"""
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {_EMB_COS} >= {EMB_NEAR_DUP_TAU!r}
        """,
        "ann_brute_topk": f"""
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < {ANN_N_QUERIES})
            SELECT query_id, vec_id, rank FROM (
                SELECT q.query_id, e.vec_id,
                       CAST(row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_QC_COS} DESC, e.vec_id ASC) AS INT)
                           AS rank
                FROM q CROSS JOIN embeddings e)
            WHERE rank <= {ANN_K}
        """,
        "emb_near_dup_lsh": f"""
            WITH bkt AS (SELECT vec_id, embedding,
                                {ann.lsh_bucket_sql('embedding')} AS bkt
                         FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bkt a JOIN bkt b
              ON a.vec_id < b.vec_id
             AND bit_count(xor(a.bkt, b.bkt)) <= 1
            WHERE {_EMB_COS} >= {EMB_NEAR_DUP_TAU!r}
        """,
        "tile_rollup": f"""
            SELECT ((f.cell_id & {-_LSB4}) | {_LSB4}) AS cell_l4,
                   ((f.cell_id & {-_LSB8}) | {_LSB8}) AS cell_l8,
                   COUNT(*) AS n_docs,
                   CAST(GROUPING(((f.cell_id & {-_LSB4}) | {_LSB4}),
                                 ((f.cell_id & {-_LSB8}) | {_LSB8}))
                        AS BIGINT) AS gid
            FROM read_parquet('{FIXDIR}/cells_sf0_01.parquet') f
            GROUP BY ROLLUP(1, 2)
        """,
        "tile_distinct_l4": _PTS_CTE + f"""
            SELECT ((p.cell_id & {-_LSB4}) | {_LSB4}) AS cell_l4,
                   COUNT(DISTINCT d.lang) AS n_langs,
                   COUNT(DISTINCT p.url) AS n_urls
            FROM pts p JOIN documents d USING (doc_id)
            GROUP BY 1
        """,
        # exact continuous-interpolation median: with int inputs both
        # engines' interpolation formulas are exact in double (see
        # _q_tile_median docstring)
        "tile_median": f"""
            SELECT ((f.cell_id & {-_LSB4}) | {_LSB4}) AS cell_l4,
                   COUNT(*) AS n_docs,
                   quantile_cont(d.n_chars, 0.5) AS median_chars
            FROM read_parquet('{FIXDIR}/cells_sf0_01.parquet') f
            JOIN documents d USING (doc_id)
            GROUP BY 1
        """,
        "tile_quantiles": TL.grouped_quantiles_disc_sql(
            f"""(SELECT ((f.cell_id & {-_LSB4}) | {_LSB4}) AS cell_l4,
                        d.n_chars
                 FROM read_parquet('{FIXDIR}/cells_sf0_01.parquet') f
                 JOIN documents d USING (doc_id)) qrel""",
            "cell_l4", "n_chars"),
        # raster→vector: thresholded occupancy raster + the same
        # unrolled bottom-up quartet merge, one CTE stage per level
        "vectorize_tiles_l3": (
            "WITH fx AS (SELECT cell_id FROM"
            f" read_parquet('{FIXDIR}/cells_sf0_01.parquet'))"
            + TL.vectorize_tiles_sql("fx", level=3, min_rows=1,
                                     continuation=True)),
        "events_scalar": """
            SELECT event_id,
                   CAST(props->>'$.k' AS BIGINT) AS k_val,
                   strftime(ts, '%Y-%m-%d') AS day,
                   upper(event_type) AS etype,
                   round(value * 2.0, 2) AS value2
            FROM events
        """,
        # DuckDB's native ASOF JOIN oracles the union+window-fill
        # implementation (inclusive backward match, inner semantics).
        # Native ASOF picks an ARBITRARY row among equal (user_id, ts)
        # error rows, so the engine's max-event_id tiebreak is mirrored
        # by re-joining errors at the matched timestamp and taking
        # max(event_id) — temporal logic stays DuckDB-native, only the
        # tie resolution is pinned.
        "asof_click_error": _ASOF_ORACLE,
        "asof_click_error_fwd": _ASOF_FWD_ORACLE,
        # tolerance variant: a backward as-of match farther back than
        # the tolerance has no closer substitute, so the post-filter
        # is exactly match-within-tolerance
        "asof_click_error_tol": (
            f"SELECT * FROM ({_ASOF_ORACLE}) t"
            f" WHERE t.gap_us <= {ASOF_TOLERANCE_US}"),
        # gaps-and-islands: DuckDB's lag + running-sum twin of the
        # engine's window pair. date_diff('microsecond', a, b) == b - a
        # == Spark timestampdiff(MICROSECOND, a, b); outputs carry only
        # differential micros, never raw timestamps (tz-rendering-safe)
        "sessionize": _SESS_CTE + """
            SELECT event_id, user_id, session_idx, gap_us_prev FROM sx
        """,
        "session_stats": _SESS_CTE + f"""
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   date_diff('microsecond', MIN(ts), MAX(ts))
                       AS duration_us,
                   MIN(event_id) AS first_event,
                   MAX(event_id) AS last_event,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS value_cents
            FROM sx GROUP BY user_id, session_idx
        """,
        # the streaming replay must reproduce the BATCH session labels
        # exactly — same twin, minus gap_us_prev (the stateful operator
        # emits only the assignment)
        "sessionize_stream_replay": _SESS_CTE + """
            SELECT event_id, user_id, session_idx FROM sx
        """,
        # the streaming windowed tile histogram must reproduce the
        # batch one exactly; warc_ts = 2025-01-01T00:00:00Z + doc_id
        # seconds (sources/pages.py), and midnight is hour-aligned, so
        # the 1h window start is pure integer arithmetic on doc_id
        "tile_stream_replay": f"""
            SELECT CAST(((1735689600 + d.doc_id) // 3600) * 3600
                        AS BIGINT) AS win_start_s,
                   ((f.cell_id & {-_LSB4}) | {_LSB4}) AS cell_l4,
                   COUNT(*) AS n_docs
            FROM documents d
            JOIN read_parquet('{FIXDIR}/cells_sf0_01.parquet') f
              USING (doc_id)
            GROUP BY 1, 2
        """,
        # the fused single-scan pipeline must reproduce the stage-by-
        # stage composition: each sub-oracle is the EXISTING per-stage
        # DuckDB twin, wrapped as a nested-WITH CTE and joined on url.
        # gopher_rep's oracle omits fully-empty docs (none exist in the
        # testdata); LEFT JOIN + COALESCE(keep_rep, TRUE) mirrors the
        # engine's include_empty vacuous-pass semantics structurally.
        "corpus_pipeline": f"""
            WITH q AS ({_DOCS_CTE + textstats.gopher_sql("docs")}),
                 r AS ({_DOCS_CTE + textstats.gopher_rep_sql("docs")}),
                 lg AS ({_TOK_CTE
                         + ", lcd AS (SELECT url, lang, "
                         + textstats.letter_counts_sql("text")
                         + " AS lc FROM tok)"
                         + textstats.lang_id_oracle_sql("lcd")}),
                 dc AS ({corpus.decontaminate_sql(
                     _TOK_CTE,
                     f"({T.h60_sql(chr(39) + 'bm:' + chr(39) + ' || url')})"
                     " % 7 = 0", k=5)}),
                 sp AS ({_DOCS_CTE} SELECT url,
                        {T.h60_sql('url')} % {textstats.SPLIT_BUCKETS}
                            AS bucket FROM docs)
            SELECT q.url, q.keep AS keep_quality,
                   COALESCE(r.keep_rep, TRUE) AS keep_rep,
                   lg.lang_pred,
                   lg.lang_pred IN ({_PIPE_LANGS_SQL}) AS lang_ok,
                   dc.n_hit, dc.contaminated, sp.bucket,
                   CASE WHEN sp.bucket < {textstats.SPLIT_TRAIN_LT}
                            THEN 'train'
                        WHEN sp.bucket < {textstats.SPLIT_VALID_LT}
                            THEN 'valid'
                        ELSE 'test' END AS split,
                   (q.keep AND COALESCE(r.keep_rep, TRUE)
                    AND lg.lang_pred IN ({_PIPE_LANGS_SQL})
                    AND NOT dc.contaminated) AS keep
            FROM q LEFT JOIN r USING (url) JOIN lg USING (url)
                   JOIN dc USING (url) JOIN sp USING (url)
        """,
        # end-to-end dedup verdict: the connected_components recursive
        # CTE (same pair graph, same min-label reachability) LEFT-
        # joined back onto the corpus; singletons label themselves
        "dedup_apply": (
            _shing_cte("WITH RECURSIVE ")
            + _MINHASH_CAND_CTES.format(max_bucket=dedup.DEFAULT_MAX_BUCKET)
            + f"""
            , pr AS ({_MINHASH_PAIRS_SELECT.format(
                threshold=repr(MINHASH_THRESHOLD))})
            , e AS (SELECT url_a AS a, url_b AS b FROM pr
                    UNION SELECT url_b, url_a FROM pr)
            , reach(url, label) AS (
                SELECT a, a FROM e
                UNION
                SELECT e.a, r.label FROM e JOIN reach r ON e.b = r.url)
            , labels AS (SELECT url, min(label) AS cluster
                         FROM reach GROUP BY url)
            SELECT d.url, COALESCE(l.cluster, d.url) AS cluster,
                   COALESCE(l.cluster, d.url) = d.url AS kept
            FROM docs d LEFT JOIN labels l USING (url)
        """),
        "media_meta": _MEDIA_CTE + """
            SELECT url, CAST(length(payload) AS BIGINT) AS n_bytes,
                   md5(payload) AS digest,
                   substring(payload, 1, 6) AS sniff
            FROM pmedia
        """,
        "frame_sample": _MEDIA_CTE + media.frame_sample_sql("pmedia"),
        "media_resize": _MEDIA_CTE + media.media_resize_exploded_sql("pmedia"),
        # high-nibble byte histogram via 16 regexp char-class counts;
        # engine counts bytes, oracle counts chars — equal on the
        # ASCII corpus (asserted non-ASCII-free in tests)
        "media_features": _MEDIA_CTE + " " + " UNION ALL ".join(
            f"SELECT url, {b} AS bin, CAST(length(payload)"
            f" - length(regexp_replace(payload,"
            f" '[\\x{b:x}0-\\x{b:x}f]', '', 'g')) AS BIGINT) AS n"
            " FROM pmedia"
            for b in range(16)),
    }
