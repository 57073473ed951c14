"""Generate oracle fixture parquet files (SURVEY.md §5.3, FIXTURES.md).

The DuckDB correctness gate cannot recompute xxhash64 or Hilbert cell
ids, so fixtures carry precomputed columns:

  cells_{sf}.parquet      doc_id, h, lat, lng, px, py, pz, cell_id,
                          cell_key, token
  expected_pip_{sf}.parquet  doc_id, region_id   (independent scalar oracle)
  coverings_{sf}.parquet  region_id, cell_id, level, range_min_key,
                          range_max_key, is_interior (engine coverer —
                          validated separately by invariant tests)
  neighbors_{sf}.parquet  cell, neighbor  (distinct level-8 tile 8-rings,
                          independent scalar oracle)

Provenance per column:
  h          — Spark xxhash64(url) (the engine's own hash; pinned by the
               golden vector test in tests/test_e2e_spark.py)
  lat/lng    — pure-Python replica of the exact portable SQL arithmetic
  px/py/pz   — math.cos/sin (libm — asserted equal to the numpy kernels)
  cell_id,token — tests/oracle_s2 (independent per-bit scalar oracle)
  expected_pip  — tests/oracle_s2 region predicates (independent)

Also asserts safety margins: no sample point lies within 1e-9 of any
region boundary, so float rounding can never flip an oracle comparison.

Run: python fixtures/gen_fixtures.py   (writes into fixtures/, idempotent)
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from s2geometry_spark.coverer import covering_table
from s2geometry_spark.demo_regions import demo_regions
from s2geometry_spark.regions import Cap, Polygon, Rect
from tests import oracle_s2 as O

FIXDIR = os.path.dirname(os.path.abspath(__file__))
SFS = {"sf0_001": "/root/testdata/sf0.001", "sf0_01": "/root/testdata/sf0.01"}


def spark_hashes(sf_dir: str):
    """doc_id → xxhash64(url) via a tiny local Spark job (the engine's hash)."""
    from pyspark.sql import functions as F

    from s2geometry_spark.session import get_spark
    spark = get_spark("fixture-gen", cores=4)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = (docs.select(
        "doc_id",
        F.xxhash64(F.concat_ws("/", F.col("source"),
                               F.col("doc_id").cast("string"))).alias("h"))
        .collect())
    return {r.doc_id: r.h for r in rows}


def latlng_from_hash(h: int):
    """Exact replica of functions/geo.py lat/lng_from_hash in Python."""
    h_lo = h & 4294967295
    h_hi = (h - h_lo) / 4294967296  # exact: numerator is a multiple of 2**32
    lat = ((h_hi + 2147483648) / 4294967296) * 180.0 - 90.0
    lng = (h_lo / 4294967296) * 360.0 - 180.0
    return lat, lng


def check_margins(lats, lngs, pxs, pys, pzs, regions):
    for reg in regions:
        if isinstance(reg, Cap):
            for x, y, z in zip(pxs, pys, pzs):
                d2 = (x - reg.cx) ** 2 + (y - reg.cy) ** 2 + (z - reg.cz) ** 2
                assert abs(d2 - 2.0 * reg.height) > 1e-9, \
                    f"point too close to cap {reg.region_id} boundary"
        elif isinstance(reg, Rect):
            for la, ln in zip(lats, lngs):
                for b in (math.degrees(reg.lat_lo), math.degrees(reg.lat_hi)):
                    assert abs(la - b) > 1e-9
                for b in (math.degrees(reg.lng_lo), math.degrees(reg.lng_hi)):
                    assert abs(ln - b) > 1e-9
        elif isinstance(reg, Polygon):
            for x, y, z in zip(pxs, pys, pzs):
                assert reg.boundary_distance((x, y, z)) > 1e-9, \
                    f"point too close to polygon {reg.region_id} boundary"


def main():
    regions = demo_regions()
    for tag, sf_dir in SFS.items():
        import duckdb
        docs = duckdb.connect().execute(
            f"select doc_id from read_parquet('{sf_dir}/documents.parquet')"
            " order by doc_id").fetchall()
        doc_ids = [d[0] for d in docs]
        hmap = spark_hashes(sf_dir)

        hs, lats, lngs, pxs, pys, pzs, cids, keys, toks = [], [], [], [], [], [], [], [], []
        for d in doc_ids:
            h = hmap[d]
            lat, lng = latlng_from_hash(h)
            la, ln = math.radians(lat), math.radians(lng)
            x, y, z = O.latlng_to_xyz(la, ln)
            cid = O.latlng_degrees_to_cell_id(lat, lng)
            hs.append(h)
            lats.append(lat)
            lngs.append(lng)
            pxs.append(x)
            pys.append(y)
            pzs.append(z)
            cids.append(cid - (1 << 64) if cid >= (1 << 63) else cid)  # signed view
            keys.append((cid ^ (1 << 63)) - (1 << 64)
                        if (cid ^ (1 << 63)) >= (1 << 63) else (cid ^ (1 << 63)))
            toks.append(O.token_of(cid))

        check_margins(lats, lngs, pxs, pys, pzs, regions)

        pq.write_table(pa.table({
            "doc_id": pa.array(doc_ids, pa.int64()),
            "h": pa.array(hs, pa.int64()),
            "lat": pa.array(lats, pa.float64()),
            "lng": pa.array(lngs, pa.float64()),
            "px": pa.array(pxs, pa.float64()),
            "py": pa.array(pys, pa.float64()),
            "pz": pa.array(pzs, pa.float64()),
            "cell_id": pa.array(cids, pa.int64()),
            "cell_key": pa.array(keys, pa.int64()),
            "token": pa.array(toks, pa.string()),
        }), f"{FIXDIR}/cells_{tag}.parquet")

        # expected PIP matches — independent scalar oracle
        pip_doc, pip_reg = [], []
        for d, la, ln, x, y, z in zip(doc_ids, lats, lngs, pxs, pys, pzs):
            lar, lnr = math.radians(la), math.radians(ln)
            for reg in regions:
                if isinstance(reg, Cap):
                    hit = O.cap_contains(reg.cx, reg.cy, reg.cz, reg.height, x, y, z)
                elif isinstance(reg, Rect):
                    hit = O.rect_contains(reg.lat_lo, reg.lat_hi,
                                          reg.lng_lo, reg.lng_hi, lar, lnr)
                else:
                    loops = [[(float(a), float(b)) for a, b in zip(ls, gs)]
                             for _d, ls, gs in reg.loops]
                    hit = O.polygon_contains([(0, lp) for lp in loops], (x, y, z))
                if hit:
                    pip_doc.append(d)
                    pip_reg.append(reg.region_id)
        pq.write_table(pa.table({
            "doc_id": pa.array(pip_doc, pa.int64()),
            "region_id": pa.array(pip_reg, pa.int64()),
        }), f"{FIXDIR}/expected_pip_{tag}.parquet")

        # polyline-buffer membership — SCALAR arc-distance oracle
        # (point_to_arc_distance), independent of the vectorized
        # min_arc_distance_np path the engine's exact filter uses;
        # margin asserted so the <= radius comparison cannot flip
        from s2geometry_spark.demo_regions import demo_polyline
        from s2geometry_spark.regions import point_to_arc_distance
        pl = demo_polyline()
        pl_edges = list(pl._edges())
        pl_doc = []
        for d, x, y, z in zip(doc_ids, pxs, pys, pzs):
            dist = min(point_to_arc_distance((x, y, z), a, b)
                       for a, b in pl_edges)
            assert abs(dist - pl.radius) > 1e-9, \
                f"doc {d} within 1e-9 of the polyline buffer boundary"
            if dist <= pl.radius:
                pl_doc.append(d)
        pq.write_table(pa.table({
            "doc_id": pa.array(pl_doc, pa.int64()),
        }), f"{FIXDIR}/expected_polyline_{tag}.parquet")

        # convex-hull membership (region 11) — the hull SHAPE is pinned
        # by the independent gift-wrapping twin in tests; membership
        # here uses the independent scalar PIP oracle over its loop,
        # with the same 1e-9 boundary-margin assertion
        from s2geometry_spark.demo_regions import demo_hull_polygon
        hull = demo_hull_polygon()
        check_margins(lats, lngs, pxs, pys, pzs, [hull])
        hull_loops = [(0, [(float(a), float(b)) for a, b in
                           zip(ls, gs)]) for _d, ls, gs in hull.loops]
        hull_doc = [d for d, x, y, z in zip(doc_ids, pxs, pys, pzs)
                    if O.polygon_contains(hull_loops, (x, y, z))]
        pq.write_table(pa.table({
            "doc_id": pa.array(hull_doc, pa.int64()),
        }), f"{FIXDIR}/expected_hull_{tag}.parquet")

        # engine covering for the range-join oracles: the hierarchical
        # level-sync covering (max_cells=64). The covering itself is
        # engine-generated (DuckDB cannot run a coverer); the gate
        # checks the engine's ancestor hash join against a BETWEEN
        # join over it (an independent formulation) plus the coverer's
        # run-to-run determinism (live covering must equal the fixture).
        cov = pd.concat([covering_table(reg, max_cells=64) for reg in regions],
                        ignore_index=True)
        pq.write_table(pa.table({c: cov[c].to_numpy() for c in cov}),
                       f"{FIXDIR}/coverings_{tag}.parquet")

        # neighbor rings of the distinct level-8 tiles — independent oracle
        tiles = sorted({O.parent(c if c >= 0 else c + (1 << 64), 8) for c in cids})
        nb_cell, nb_nbr = [], []
        for t in tiles:
            t_signed = t - (1 << 64) if t >= (1 << 63) else t
            for nb in sorted(set(O.all_neighbors(t))):
                nb_cell.append(t_signed)
                nb_nbr.append(nb - (1 << 64) if nb >= (1 << 63) else nb)
        pq.write_table(pa.table({
            "cell": pa.array(nb_cell, pa.int64()),
            "neighbor": pa.array(nb_nbr, pa.int64()),
        }), f"{FIXDIR}/neighbors_{tag}.parquet")

        print(f"{tag}: {len(doc_ids)} docs, {len(pip_doc)} pip rows, "
              f"{len(cov)} covering rows, {len(nb_cell)} neighbor rows")


if __name__ == "__main__":
    main()
