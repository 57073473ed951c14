"""The benchmark's workloads: seeded inputs, one pass of timed
operations, output checks, and the traced run's per-layer probes.

Each operation is a call into one public function of the engine whose
output is forced in full, by an order-free fingerprint (row count plus
a sum of per-row hashes) or by collecting it when it is small.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

import inputs
from s2geometry_spark import kernels as K
from s2geometry_spark.coverer import covering_rows
from s2geometry_spark.demo_regions import (demo_hull_polygon, demo_polyline,
                                           demo_region_union, demo_regions)
from s2geometry_spark.functions import geo
from s2geometry_spark.io.table_io import ParquetTableIO
from s2geometry_spark.jobs.geocode_job import N_BATCHES, run_geocode_job
from s2geometry_spark.operators.dedup import release_caches
from s2geometry_spark.operators.distjoin import distance_join
from s2geometry_spark.operators.knn import knn_join
from s2geometry_spark.operators.pip_join import COVERINGS_SCHEMA, pip_join
from s2geometry_spark.operators.tiles import tile_histogram
from s2geometry_spark.regions import Cap, Polygon, Polyline, Rect, RegionUnion
from s2geometry_spark.sources.pages import load_pages
from tests import oracle_s2 as O

P31 = 2147483647
GEO_COLS = ("url", "cell_id", "cell_l4", "cell_l8", "cell_l12")
TILE_LEVEL = 8
MAX_CELLS = 64
JOB_TABLE = "pages_tiled"


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fingerprint(df, cols) -> tuple[int, int]:
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.pmod(F.xxhash64(*cols), F.lit(P31))).alias("s")
                 ).first()
    return int(row["n"]), int(row["s"] or 0)


def _url_doc_id(col: str):
    return F.substring_index(F.col(col), "/", -1).cast("long")


def pair_fingerprint(pairs) -> tuple[int, int]:
    """(count, sum of a doc-id pair hash): reproducible in numpy."""
    mix = F.pmod(F.pmod(_url_doc_id("url_a"), F.lit(P31)) * F.lit(1000003)
                 + F.pmod(_url_doc_id("url_b"), F.lit(P31)), F.lit(P31))
    row = pairs.agg(F.count(F.lit(1)).alias("n"), F.sum(mix).alias("s")).first()
    return int(row["n"]), int(row["s"] or 0)


def region_catalog() -> list:
    """Caps, rects (antimeridian and polar), concave polygons, a hole,
    a buffered polyline, a union and a convex hull."""
    return demo_regions() + [demo_polyline(), demo_region_union(),
                             demo_hull_polygon()]


def warm_slice(pages):
    """Every 64th document: a few rows from every input split."""
    return pages.filter(F.col("doc_id") % 64 == 0)


def start_workers(pages) -> None:
    """Geocode a sparse slice, which starts a Python worker per core."""
    fingerprint(warm_slice(pages).select(*GEO_COLS), GEO_COLS)


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def median_time(fn, reps: int = 3) -> float:
    return float(np.median([timed(fn) for _ in range(reps)]))


# -- scalar oracle checks ----------------------------------------------------

def _signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def _cross(a, b):
    return (a[1] * b[2] - a[2] * b[1], a[2] * b[0] - a[0] * b[2],
            a[0] * b[1] - a[1] * b[0])


def _dot(a, b) -> float:
    return a[0] * b[0] + a[1] * b[1] + a[2] * b[2]


def _angle(a, b) -> float:
    c = _cross(a, b)
    return math.atan2(math.sqrt(_dot(c, c)), _dot(a, b))


def _arc_distance(p, a, b) -> float:
    n = _cross(a, b)
    nn = math.sqrt(_dot(n, n))
    n = (n[0] / nn, n[1] / nn, n[2] / nn)
    s = _dot(p, n)
    q = (p[0] - s * n[0], p[1] - s * n[1], p[2] - s * n[2])
    if _dot(_cross(a, q), n) > 0 and _dot(_cross(q, b), n) > 0:
        return math.asin(min(1.0, abs(s)))
    return min(_angle(p, a), _angle(p, b))


def oracle_contains(reg, lat_deg: float, lng_deg: float) -> bool:
    la, ln = math.radians(lat_deg), math.radians(lng_deg)
    p = O.latlng_to_xyz(la, ln)
    if isinstance(reg, Cap):
        return O.cap_contains(reg.cx, reg.cy, reg.cz, reg.height, *p)
    if isinstance(reg, Rect):
        return O.rect_contains(reg.lat_lo, reg.lat_hi, reg.lng_lo,
                               reg.lng_hi, la, ln)
    if isinstance(reg, Polygon):
        loops = [(d, list(zip(lats, lngs))) for d, lats, lngs in reg.loops]
        return O.polygon_contains(loops, p)
    if isinstance(reg, Polyline):
        verts = [O.latlng_to_xyz(a, b) for a, b in zip(reg.lats, reg.lngs)]
        return min(_arc_distance(p, verts[k], verts[k + 1])
                   for k in range(len(verts) - 1)) <= reg.radius
    if isinstance(reg, RegionUnion):
        return any(oracle_contains(m, lat_deg, lng_deg) for m in reg.members)
    raise TypeError(type(reg))


def unit_vectors(lat_deg, lng_deg):
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    cl = np.cos(lat)
    return cl * np.cos(lng), cl * np.sin(lng), np.sin(lat)


def brute_pairs(x, y, z, d2max: float):
    """All index pairs (i, j), i != j, with squared chord <= d2max, from
    a 3-d grid of cells one chord wide (27-cell stencil)."""
    h = math.sqrt(d2max) * 1.000001
    off = 1 << 20
    ijk = [np.floor(c / h).astype(np.int64) + off for c in (x, y, z)]

    def key(i, j, k):
        return (i << 42) | (j << 21) | k

    keys = key(*ijk)
    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    out_a, out_b = [], []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            for dz in (-1, 0, 1):
                nk = key(ijk[0] + dx, ijk[1] + dy, ijk[2] + dz)
                lo = np.searchsorted(sk, nk, "left")
                cnt = np.searchsorted(sk, nk, "right") - lo
                a = np.repeat(np.arange(len(x)), cnt)
                first = np.repeat(np.cumsum(cnt) - cnt, cnt)
                b = order[np.repeat(lo, cnt) + np.arange(cnt.sum()) - first]
                ex, ey, ez = x[a] - x[b], y[a] - y[b], z[a] - z[b]
                keep = ((ex * ex + ey * ey) + ez * ez <= d2max) & (a != b)
                out_a.append(a[keep])
                out_b.append(b[keep])
    return np.concatenate(out_a), np.concatenate(out_b)


# -- workloads ---------------------------------------------------------------

class TracedIO(ParquetTableIO):
    """The job's table store with a span around every append; the
    metrics commit is the append nested inside a data append."""

    def __init__(self, root: str, tracer):
        super().__init__(root)
        self.tracer = tracer

    def append(self, df, table, **kw):
        name = ("table_io.metrics_append" if table.endswith("@metrics")
                else "table_io.append")
        with self.tracer.span(name):
            return super().append(df, table, **kw)


class Workload:
    """Subclasses define ``ops``, ``generate`` (write the seeded inputs,
    once per run), ``setup`` (load them and start the Python workers, in
    each fresh Spark context), ``run_pass`` and the checks.

    ``run(op, fn)`` (given by the runner) times and traces one call and
    returns its output, or None when it raised."""
    name = ""
    ops: tuple = ()

    def __init__(self, seed: int, scale: float, tmp: str):
        self.seed, self.scale, self.tmp = seed, scale, tmp
        self.input_rows = 0

    def check_pass(self, spark, i: int, out: dict) -> dict:
        return {}

    def check_all(self, spark, outs: list) -> dict:
        return {}

    @staticmethod
    def same_each_pass(outs: list, op: str, bad: dict) -> None:
        ref = outs[0].get(op)
        for i, out in enumerate(outs):
            if out.get(op) != ref:
                bad[(op, i)] = f"{op}: pass {i} output differs from pass 0"


class RegionJoin(Workload):
    """Geocode, level-8 tile histogram and both covering joins."""
    name = "region_join"
    ops = ("geocode", "tile_histogram", "pip_equi", "pip_range")

    def generate(self, spark, d: str) -> None:
        self.n = max(2000, int(250_000 * self.scale))
        self.input_rows = inputs.write_documents(spark, d, self.n, self.seed)
        self.in_dir = d

    def setup(self, spark) -> None:
        self.pages = load_pages(spark, self.in_dir)
        self.regions = region_catalog()
        start_workers(self.pages)

    def run_pass(self, spark, run, io) -> dict:
        pages, regs = self.pages, self.regions
        pip_cols = ("doc_id", "region_id")
        return {
            "geocode": run("geocode", lambda: fingerprint(
                pages.select(*GEO_COLS), GEO_COLS)),
            "tile_histogram": run("tile_histogram", lambda: tuple(
                tile_histogram(pages, TILE_LEVEL)
                .agg(F.sum("n_rows"), F.count(F.lit(1))).first())),
            "pip_equi": run("pip_equi", lambda: fingerprint(pip_join(
                pages, spark, regs, strategy="equi", level=TILE_LEVEL),
                pip_cols)),
            "pip_range": run("pip_range", lambda: fingerprint(pip_join(
                pages, spark, regs, strategy="range", max_cells=MAX_CELLS),
                pip_cols)),
        }

    def check_all(self, spark, outs: list) -> dict:
        bad: dict = {}
        for op in self.ops:
            self.same_each_pass(outs, op, bad)
        for i, out in enumerate(outs):
            if out["geocode"] is not None and out["geocode"][0] != self.n:
                bad[("geocode", i)] = f"geocode rows {out['geocode'][0]}"
            if out["tile_histogram"] is not None \
                    and out["tile_histogram"][0] != self.n:
                bad[("tile_histogram", i)] = "histogram does not sum to input"
            if out["pip_equi"] != out["pip_range"]:
                bad[("pip_range", i)] = "range and equi fingerprints differ"
        ids = inputs.sample_doc_ids(self.seed, self.n, 48)
        sample = self.pages.filter(F.col("doc_id").isin(ids))
        rows = sample.select("doc_id", "lat", "lng", "cell_id",
                             "cell_l8").collect()
        hits: dict = {}
        for r in pip_join(sample, spark, self.regions, strategy="range",
                          max_cells=MAX_CELLS).select(
                              "doc_id", "region_id").collect():
            hits.setdefault(r["doc_id"], set()).add(r["region_id"])
        for r in rows:
            leaf = O.latlng_degrees_to_cell_id(r["lat"], r["lng"])
            if (_signed(leaf) != r["cell_id"] or
                    _signed(O.parent(leaf, TILE_LEVEL)) != r["cell_l8"]):
                for i in range(len(outs)):
                    bad[("geocode", i)] = f"doc {r['doc_id']}: cell id or " \
                        "tile differs from the scalar oracle"
            want = {g.region_id for g in self.regions
                    if oracle_contains(g, r["lat"], r["lng"])}
            if hits.get(r["doc_id"], set()) != want:
                for i in range(len(outs)):
                    bad[("pip_equi", i)] = f"doc {r['doc_id']}: regions " \
                        f"{sorted(hits.get(r['doc_id'], ()))} != oracle " \
                        f"{sorted(want)}"
        if len(rows) != len(ids):
            bad[("geocode", 0)] = "sampled documents missing from pages"
        return bad

    def probes(self, spark, tr) -> dict:
        """Layer timings from stages materialized one at a time."""
        m: dict = {}
        pages = self.pages

        @pandas_udf(DoubleType())
        def identity(lat: pd.Series, lng: pd.Series) -> pd.Series:
            return lat

        with tr.span("probe.pages"):
            # interleaved rounds, so each difference pairs neighbours in time
            rounds = [[timed(lambda: force(pages.select(*cols)))
                       for cols in (("url", "h", "lat", "lng"),
                                    ("url", "h", identity(F.col("lat"),
                                                          F.col("lng"))),
                                    ("url", "h", "lat", "lng", "cell_id"))]
                      for _ in range(3)]
        scan, hop, full = (np.array(c) for c in zip(*rounds))
        m["pages.scan_s"] = float(np.median(scan))
        m["geo.arrow_hop_s"] = float(np.median(hop - scan))
        m["geo.cell_id_udf_s"] = float(np.median(full - hop))

        with tr.span("probe.coverer"):
            boundary = {}
            for tag, kw in (("equi", {"uniform_level": TILE_LEVEL}),
                            ("range", {"max_cells": MAX_CELLS})):
                t0 = time.perf_counter()
                rows = [row for r in self.regions
                        for row in covering_rows(r, **kw)]
                m[f"coverer.{tag}_covering_s"] = time.perf_counter() - t0
                m[f"coverer.{tag}_cells"] = len(rows)
                # the cells whose rows go to the exact containment test
                boundary[tag] = F.broadcast(spark.createDataFrame(
                    [r for r in rows if not r["is_interior"]],
                    COVERINGS_SCHEMA))

        with tr.span("probe.pip_join"):
            pp = pages.select("doc_id", "url", "lat", "lng", "cell_id",
                              f"cell_l{TILE_LEVEL}").persist()
            pp.count()
            m["pip_join.equi_s"] = timed(lambda: fingerprint(pip_join(
                pp, spark, self.regions, strategy="equi",
                level=TILE_LEVEL), ("doc_id", "region_id")))
            m["pip_join.range_s"] = timed(lambda: fingerprint(pip_join(
                pp, spark, self.regions, strategy="range",
                max_cells=MAX_CELLS), ("doc_id", "region_id")))
            cov = boundary["equi"]
            m["pip_join.equi_boundary_rows"] = pp.join(
                cov, pp[f"cell_l{TILE_LEVEL}"] == cov["cell_id"]).count()
            cov = boundary["range"]
            key = pp.withColumn("k", geo.cell_order_key_udf(F.col("cell_id")))
            m["pip_join.range_boundary_rows"] = key.join(
                cov, F.col("k").between(cov["range_min_key"],
                                        cov["range_max_key"])).count()
            pp.unpersist()

        with tr.span("probe.tiles"):
            t0 = time.perf_counter()
            counts = np.array([r["n_rows"] for r in
                               tile_histogram(pages, TILE_LEVEL).collect()])
            m["tiles.histogram_s"] = time.perf_counter() - t0
        m.update(tile_skew(counts, 4 * counts.mean()))

        with tr.span("probe.regions"):
            m.update(region_rates(self.seed, self.regions))
        return m


def tile_skew(counts: np.ndarray, threshold: float) -> dict:
    return {"tiles.hot_tiles": int((counts > threshold).sum()),
            "tiles.skew_max_over_median":
                float(counts.max() / np.median(counts))}


def region_rates(seed: int, regions: list, n: int = 200_000) -> dict:
    """Driver numpy containment throughput per region type."""
    rng = np.random.default_rng(seed + 1)
    lat_deg = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    lng_deg = rng.uniform(-180.0, 180.0, n)
    lat, lng = np.radians(lat_deg), np.radians(lng_deg)
    x, y, z = K.latlng_to_xyz(lat, lng)
    by_id = {r.region_id: r for r in regions}
    out = {}
    # a cap, the antimeridian rect, the polygon with a hole, the
    # buffered polyline and the union
    for tag, rid in (("cap", 1), ("rect", 4), ("polygon", 8),
                     ("polyline", 9), ("union", 10)):
        reg = by_id[rid]
        if isinstance(reg, Rect):
            fn = lambda: reg.contains_points_np(lat, lng)  # noqa: E731
        elif isinstance(reg, RegionUnion):
            fn = lambda: reg.contains_points_np(  # noqa: E731
                x, y, z, lat=lat, lng=lng)
        else:
            fn = lambda: reg.contains_points_np(x, y, z)  # noqa: E731
        out[f"regions.{tag}_rows_per_s"] = n / median_time(fn)
    return out


def kernel_rates(seed: int, n: int = 250_000) -> dict:
    """Driver numpy kernel throughput, one core."""
    rng = np.random.default_rng(seed + 2)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    lng = rng.uniform(-180.0, 180.0, n)
    ids = K.latlng_degrees_to_cell_id(lat, lng)
    cells = K.parent(ids, 12)
    return {
        "kernels.cell_id_rows_per_s": n / median_time(
            lambda: K.latlng_degrees_to_cell_id(lat, lng)),
        "kernels.all_neighbors_rows_per_s": n / median_time(
            lambda: K.all_neighbors(cells)),
    }


class ProximityWrite(Workload):
    """Distance self-join and kNN over one page table, then the
    resumable geocode-and-tile job over a regional extract."""
    name = "proximity_write"
    ops = ("distance_join", "knn", "geocode_job")

    def generate(self, spark, d: str) -> None:
        self.n = max(2000, int(50_000 * self.scale))
        self.prox_dir = os.path.join(d, "prox")
        self.write_dir = os.path.join(d, "write")
        inputs.write_documents(spark, self.prox_dir, self.n, self.seed)
        # the job's time is mostly per-commit overhead, so a small
        # extract (the size of sf0.1's documents table) keeps its shape
        self.n_write = inputs.write_documents(
            spark, self.write_dir, max(2000, int(5_000 * self.scale)),
            self.seed + 1, region=inputs.REGION_BOX)
        self.input_rows = self.n + self.n_write
        self.write_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _d, fs in os.walk(self.write_dir) for f in fs
            if f.endswith(".parquet"))

    def setup(self, spark) -> None:
        self.pages = load_pages(spark, self.prox_dir)
        # expected pairs per point held constant across sizes
        self.radius = 0.002 * math.sqrt(500_000 / self.n)
        self.queries = inputs.knn_queries(self.seed)
        self.hot_threshold = max(1, self.n_write // 100)
        self.job_stats: dict = {}
        start_workers(self.pages)

    def _distance_join(self, pages) -> tuple[int, int]:
        reg: list = []
        try:
            return pair_fingerprint(distance_join(pages, self.radius,
                                                  cache_registry=reg))
        finally:
            release_caches(reg)

    def _job(self, spark, io) -> tuple:
        first = run_geocode_job(spark, self.write_dir, io,
                                hot_threshold=self.hot_threshold)
        again = run_geocode_job(spark, self.write_dir, io,
                                hot_threshold=self.hot_threshold)
        return first, again

    def run_pass(self, spark, run, io) -> dict:
        """``io(root)`` makes the job's table store."""
        out = {
            "distance_join": run("distance_join",
                                 lambda: self._distance_join(self.pages)),
            "knn": run("knn", lambda: sorted(
                (r["query_id"], r["rank"], r["url"]) for r in
                knn_join(self.pages, spark, self.queries).collect())),
        }
        root = os.path.join(self.tmp, f"job-{time.monotonic_ns()}")
        job = run("geocode_job", lambda: self._job(spark, io(root)))
        out["geocode_job"] = None if job is None else (root, job)
        return out

    def check_pass(self, spark, i: int, out: dict) -> dict:
        """The job's snapshots, read back, then deleted."""
        if out["geocode_job"] is None:
            return {}
        root, (first, again) = out["geocode_job"]
        out["geocode_job"] = (first["committed"], again["skipped"])
        io = ParquetTableIO(root)
        problems = []
        every = list(range(N_BATCHES))
        if first["committed"] != every or again["skipped"] != every \
                or again["committed"]:
            problems.append(f"batches {first['committed']} then skipped "
                            f"{again['skipped']}")
        if len(io.history(JOB_TABLE)) != N_BATCHES:
            problems.append(f"{len(io.history(JOB_TABLE))} snapshots")
        if io.read(spark, JOB_TABLE).count() != self.n_write:
            problems.append("read-back row count differs from input")
        split_sum = io.metrics(spark, JOB_TABLE).agg(F.sum("n_rows")).first()[0]
        if split_sum != self.n_write:
            problems.append(f"per-split metrics sum {split_sum}")
        files = nbytes = 0
        for dirpath, _dirs, names in os.walk(os.path.join(root, JOB_TABLE)):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, f))
        self.job_stats = {"files": files, "bytes": nbytes, "hot":
                          len(first["hot_tiles"])}
        shutil.rmtree(root, ignore_errors=True)
        return {("geocode_job", i): "; ".join(problems)} if problems else {}

    def check_all(self, spark, outs: list) -> dict:
        bad: dict = {}
        for op in self.ops:
            self.same_each_pass(outs, op, bad)
        pts = spark.read.parquet(
            os.path.join(self.prox_dir, "documents.parquet"))
        lat, lng = inputs.url_point(pts)
        pdf = pts.select("doc_id", F.concat_ws("/", "source", F.col(
            "doc_id").cast("string")).alias("url"), lat.alias("lat"),
            lng.alias("lng")).toPandas()
        x, y, z = unit_vectors(pdf["lat"].to_numpy(), pdf["lng"].to_numpy())
        ids = pdf["doc_id"].to_numpy()
        urls = pdf["url"].to_numpy(dtype=object)
        rank = np.empty(len(urls), dtype=np.int64)
        rank[np.argsort(urls, kind="stable")] = np.arange(len(urls))

        d2max = (2.0 * math.sin(self.radius / 2.0)) ** 2
        a, b = brute_pairs(x, y, z, d2max)
        keep = rank[a] < rank[b]
        a, b = a[keep], b[keep]
        mix = ((ids[a] % P31) * 1000003 + ids[b] % P31) % P31
        want = (len(a), int(mix.sum()))
        for i, out in enumerate(outs):
            if out["distance_join"] is not None \
                    and out["distance_join"] != want:
                bad[("distance_join", i)] = \
                    f"pairs {out['distance_join']} != brute force {want}"

        expected = []
        for q in self.queries:
            la, ln = math.radians(q["lat"]), math.radians(q["lng"])
            cl = math.cos(la)
            dx = x - cl * math.cos(ln)
            dy = y - cl * math.sin(ln)
            dz = z - math.sin(la)
            d2 = (dx * dx + dy * dy) + dz * dz
            top = np.lexsort((rank, d2))[:q["k"]]
            expected += [(q["query_id"], r + 1, urls[j])
                         for r, j in enumerate(top)]
        expected.sort()
        for i, out in enumerate(outs):
            if out["knn"] is not None and out["knn"] != expected:
                bad[("knn", i)] = "knn rows differ from numpy brute force"
        return bad

    def probes(self, spark, tr) -> dict:
        m: dict = {}
        with tr.span("probe.distjoin"):
            reg: list = []
            pairs = distance_join(self.pages, self.radius,
                                  cache_registry=reg)
            m["distjoin.project_s"] = timed(lambda: reg[0].count())
            m["distjoin.join_s"] = timed(lambda: pair_fingerprint(pairs))
            # pairs sharing a stencil cell: what the join compares
            pts = reg[0]
            per_cell = pts.groupBy("cell").count()
            ordered = pts.select(F.explode("stencil").alias("jcell")).join(
                per_cell, F.col("jcell") == F.col("cell")).agg(
                F.sum("count")).first()[0]
            self.candidate_pairs = (ordered - self.n) / 2
            m["distjoin.candidate_pairs"] = self.candidate_pairs
            release_caches(reg)
        with tr.span("probe.tiles"):
            wpages = load_pages(spark, self.write_dir)
            t0 = time.perf_counter()
            counts = np.array([r["n_rows"] for r in
                               tile_histogram(wpages, 4).collect()])
            m["tiles.histogram_s"] = time.perf_counter() - t0
        m.update(tile_skew(counts, self.hot_threshold))
        return m


WORKLOADS = {w.name: w for w in (RegionJoin, ProximityWrite)}
