"""Scaling-evidence harness (BASELINE.md #5; north_rule: throughput at
N and 4N parallelism with efficiency >= 0.8).

Sandbox substitute for a real N->4N executor cluster (driver-
sanctioned): the same bench.py job on the same input at two
parallelism levels on one host. TWO pairs are measured:

* local[2] -> local[8]:  the clean-scaling pair. Below the host's
  memory-bandwidth / process-oversubscription knee, this isolates the
  engine's parallel decomposition.
* local[8] -> local[32]: the saturation pair. 32 executor threads plus
  up to 2 Python workers per task thread put ~96 runnable threads on
  32 vCPUs of ONE machine — a local-mode artifact a real cluster does
  not have (each executor JVM hosts its own bounded worker pool).
  Reported for transparency; expected sub-linear here.

Within a pair both runs use IDENTICAL inputs, partition counts and
shuffle settings — only the executor-thread count varies.

Writes BENCH/scaling.json + BENCH/BASELINE.md and captures physical
plans. Run: python BENCH/run_scaling.py
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# (n_small, n_big, pages_mult, text_mult, parts, shuffle)
# Round 2: BOTH pairs run at the 10M-page scale (round 1 ran 2->8 at
# 2M; the verdict asked for the clean pair at the larger input so the
# headline efficiency is demonstrated where fixed overhead is small).
PAIRS = [
    (2, 8, "2000", "20", "128", "64"),
    (8, 32, "2000", "20", "128", "64"),
]

# operators excluded from the headline efficiency aggregate (reported
# per-query regardless): knn stays out so the aggregate compares with
# the committed scaling.json, which timed it as a driver loop of ring
# joins (it is now one pass); the ann corpus is only 5k vectors.
EXCLUDE_FROM_AGG = {"knn", "ann_brute"}

# the north-rule criterion is spatial-join throughput scaling; this is
# the spatial pipeline (geocode -> covering joins -> tile agg)
SPATIAL_SET = ("geocode", "pip_equi", "pip_range", "tile_counts")


def run_bench(cpus: int, pages_mult: str, text_mult: str, parts: str,
              shuffle: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_PAGES_MULT=pages_mult,
               SPARK_GRAFT_TEXT_MULT=text_mult,
               SPARK_GRAFT_PARTS=parts,
               SPARK_GRAFT_SHUFFLE=shuffle)
    # System-wide CPU-seconds around the run (/proc/stat delta; the
    # scaling harness runs exclusively, so the delta is the bench's
    # whole process tree incl. the JVM and Python workers). cpu_total
    # vs wall is the oversubscription evidence for the saturation
    # pair — it separates "cores sat idle" (plan serialization) from
    # "cores were busy/stalled but contended" (single-host memory-
    # bandwidth/GC artifact a real multi-node cluster does not have).
    c0 = _cpu_seconds()
    t0 = time.perf_counter()
    # stderr streams to a per-run log (bench.py emits one [bench] line
    # per query) so a long local[2] leg is observable live instead of
    # a silent hour inside capture_output
    errlog = os.path.join(HERE, f"run_local{cpus}.stderr.log")
    with open(errlog, "w") as ef:
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env, stdout=subprocess.PIPE, stderr=ef, text=True,
            timeout=5400, check=True)
    wall = time.perf_counter() - t0
    c1 = _cpu_seconds()
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    parsed = json.loads(line)
    parsed["_cpu"] = {"wall": round(wall, 1),
                      "busy_cpu_sec": round(c1[0] - c0[0], 1),
                      "iowait_sec": round(c1[1] - c0[1], 1),
                      "avg_busy_cores": round((c1[0] - c0[0]) / wall, 2)}
    return parsed


_CLK = os.sysconf("SC_CLK_TCK")


def _cpu_seconds():
    """(busy, iowait) CPU seconds summed over all cores since boot."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(v) for v in parts[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals
    busy = user + nice + system + irq + softirq + steal
    return busy / _CLK, iowait / _CLK


def capture_plans() -> None:
    sys.path.insert(0, REPO)
    from s2geometry_spark.demo_regions import demo_regions
    from s2geometry_spark.operators.pip_join import pip_join
    from s2geometry_spark.plans import explain as X
    from s2geometry_spark.session import get_spark
    from s2geometry_spark.sources.pages import load_pages

    spark = get_spark("plan-capture", cores=8, shuffle_partitions=8)
    pages = load_pages(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                             "/root/testdata/sf0.1"))
    flagship = pip_join(pages, spark, demo_regions(), strategy="equi",
                        level=4).select("url", "region_id")
    plan = X.assert_map_only_probe(flagship)  # raises if shuffle appears
    with open(os.path.join(HERE, "explain_flagship.txt"), "w") as f:
        f.write("flagship covering equi-join (strategy=equi, level=4)\n"
                "PROPERTY ASSERTED: broadcast join, zero shuffle "
                "exchanges on the pages side\n\n" + plan)
    shuffled = pip_join(pages, spark, demo_regions(), strategy="shuffle",
                        level=4).select("url", "region_id")
    shuffled.collect()  # the explain below then shows AQE's final plan
    with open(os.path.join(HERE, "explain_salted.txt"), "w") as f:
        f.write("shuffle covering join (strategy=shuffle, level=4)\n"
                "PROPERTY: one ShuffledHashJoin, covering side built; "
                "AQE splits a skewed partition\n\n"
                + X.formatted_plan(shuffled))
    geo = pages.select("url", "cell_id", "cell_l4")
    with open(os.path.join(HERE, "explain_geocode.txt"), "w") as f:
        f.write(X.formatted_plan(geo))

    # training-data pipeline plan evidence
    from s2geometry_spark.operators import dedup, media
    from s2geometry_spark.sources.pages import (documents_to_pages,
                                                load_documents)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = documents_to_pages(load_documents(spark, sf_dir))
    mh = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    plan = X.formatted_plan(mh)
    assert X.count_nodes(plan, "MapInArrow") == 1
    assert "ArrowEvalPython" not in plan
    with open(os.path.join(HERE, "explain_minhash.txt"), "w") as f:
        f.write("minhash LSH near-dup pairs\n"
                "PROPERTY: signatures are one MapInArrow pass per "
                "document (no ArrowEvalPython),\npersisted; "
                "banded bucket self-join (NOT all-pairs);\nonly (band, "
                "key, url) rows shuffle — signature/shingle arrays\n"
                "re-join after the candidate set is formed\n\n" + plan)
    from s2geometry_spark.operators.distjoin import distance_join
    dj = distance_join(pages, 0.002)
    plan = X.formatted_plan(dj)
    assert X.count_shuffles(plan) == 1
    assert re.search(r"hashpartitioning\(key#\d+L, \d+\)", plan)
    assert "InMemoryTableScan" not in plan
    assert not any(j in plan for j in (
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "CartesianProduct", "BroadcastNestedLoopJoin"))
    with open(os.path.join(HERE, "explain_distjoin.txt"), "w") as f:
        f.write("within-distance self-join (radius 0.002 rad, L8 half "
                "stencil)\nPROPERTY ASSERTED: no join node and no cache; "
                "one emit MapInPandas,\nONE hash Exchange on the cell "
                "key, one pairs MapInPandas\n\n" + plan)
    fs = media.frame_sample(documents_to_pages(
        load_documents(spark, sf_dir), with_html=True))
    plan = X.formatted_plan(fs)
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    with open(os.path.join(HERE, "explain_frame_sample.txt"), "w") as f:
        f.write("frame sampling over binary payloads\n"
                "PROPERTY ASSERTED: pure JVM (no Python eval nodes) —\n"
                "sequence/explode/substring/md5 in whole-stage codegen\n\n"
                + plan)

    # r4 additions: sketch / decontamination / url plan evidence
    import re as _re

    from s2geometry_spark.operators import corpus, sketches, urls
    hll = sketches.hll_sketch(pages.select("url", "cell_l4"), "cell_l4")
    plan = X.formatted_plan(hll)
    assert "Join" not in plan and "Window" not in plan
    with open(os.path.join(HERE, "explain_hll.txt"), "w") as f:
        f.write("per-tile HLL distinct sketch\n"
                "PROPERTY ASSERTED: aggregation-only (no join/window); "
                "the two\nhash-agg exchanges carry at most 64 register "
                "rows per tile\nper map task, independent of input "
                "rows\n\n" + plan)
    bench_grams = corpus.collect_bench_grams(docs.limit(500), k=5)
    plan = X.formatted_plan(corpus.decontaminate(docs, bench_grams, k=5))
    assert "Exchange" not in plan and "Join" not in plan
    assert len(_re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    with open(os.path.join(HERE, "explain_decontaminate.txt"), "w") as f:
        f.write("benchmark decontamination\n"
                "PROPERTY ASSERTED: map-only — no Exchange, no join, ONE\n"
                "ArrowEvalPython (the n_hit probe hashes the text); the "
                "corpus text\n"
                "never shuffles\n\n" + plan)
    un = urls.url_normalize(docs.select("url"))
    plan = X.formatted_plan(un)
    assert "Exchange" not in plan and "ArrowEvalPython" not in plan
    with open(os.path.join(HERE, "explain_url_normalize.txt"), "w") as f:
        f.write("url canonicalization\n"
                "PROPERTY ASSERTED: zero-shuffle, UDF-free projection "
                "in\nwhole-stage codegen\n\n" + plan)

    # r5 addition: the fused corpus filter pipeline
    from s2geometry_spark.operators import pipeline, textstats
    pipe = pipeline.corpus_pipeline(
        docs, bench_grams, centroids=textstats.lang_centroids(docs))
    plan = X.formatted_plan(pipe)
    assert len(_re.findall(r"\(\d+\) Exchange", plan)) == 0
    assert len(_re.findall(r"\(\d+\) \w*Join", plan)) == 0
    assert len(_re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    with open(os.path.join(HERE, "explain_pipeline.txt"), "w") as f:
        f.write("fused corpus filter pipeline (quality + repetition + "
                "lang id +\ndecontamination + split)\nPROPERTY "
                "ASSERTED: map-only — single scan, zero shuffles, zero\n"
                "joins, ONE ArrowEvalPython (letter counts + gram "
                "probe share\nthe Arrow hop)\n\n" + plan)
    spark.stop()


def pair_result(n_small, n_big, small, big):
    qs, qb = small["queries"], big["queries"]
    agg_s = sum(v for k, v in qs.items() if k not in EXCLUDE_FROM_AGG)
    agg_b = sum(v for k, v in qb.items() if k not in EXCLUDE_FROM_AGG)
    ratio = n_big / n_small
    return {
        "pair": f"local[{n_small}] -> local[{n_big}]",
        "rows_pages": big["rows"], "rows_text": big["rows_text"],
        "per_query": {
            k: {"t_small": qs[k], "t_big": qb[k],
                "speedup": round(qs[k] / qb[k], 3),
                "efficiency": round(qs[k] / qb[k] / ratio, 3)}
            for k in qs},
        "aggregate": {
            "t_small": round(agg_s, 3), "t_big": round(agg_b, 3),
            "speedup": round(agg_s / agg_b, 3),
            "efficiency": round(agg_s / agg_b / ratio, 3),
            "excluded": sorted(EXCLUDE_FROM_AGG)},
        "spatial_aggregate": {
            "t_small": round(sum(qs[k] for k in SPATIAL_SET), 3),
            "t_big": round(sum(qb[k] for k in SPATIAL_SET), 3),
            "speedup": round(sum(qs[k] for k in SPATIAL_SET)
                             / sum(qb[k] for k in SPATIAL_SET), 3),
            "efficiency": round(sum(qs[k] for k in SPATIAL_SET)
                                / sum(qb[k] for k in SPATIAL_SET) / ratio,
                                3),
            "queries": list(SPATIAL_SET)},
        "throughput": {
            "flagship_rows_per_sec_small": small["flagship_rows_per_sec"],
            "flagship_rows_per_sec_big": big["flagship_rows_per_sec"],
            "geocode_rows_per_sec_small": small["geocode_rows_per_sec"],
            "geocode_rows_per_sec_big": big["geocode_rows_per_sec"],
        },
        "cpu": {"small": small.get("_cpu"), "big": big.get("_cpu")},
    }


def main() -> None:
    results = []
    for n_small, n_big, pm, tm, parts, shuf in PAIRS:
        small = run_bench(n_small, pm, tm, parts, shuf)
        big = run_bench(n_big, pm, tm, parts, shuf)
        results.append(pair_result(n_small, n_big, small, big))

    with open(os.path.join(HERE, "scaling.json"), "w") as f:
        json.dump({"pairs": results}, f, indent=1)

    write_baseline()
    print(json.dumps([r["aggregate"] for r in results]))
    capture_plans()


def write_baseline() -> None:
    """Regenerate BASELINE.md from the evidence JSONs on disk
    (scaling.json + the standalone skew / kill-resume /
    data-scaling runs when present). Shared by this harness and
    BENCH/run_data_scaling.py so either can refresh the document."""
    with open(os.path.join(HERE, "scaling.json")) as f:
        results = json.load(f)["pairs"]

    lines = [
        "# BENCH/BASELINE — measured throughput + scaling evidence",
        "",
        "Sandbox substitute for the N→4N-executor criterion "
        "(driver-sanctioned): same job, same input, N vs 4N local "
        "executor threads on one 32-vCPU host. Two pairs:",
        "",
        "- **local[2] → local[8]** — clean pair, below the single-host "
        "oversubscription knee (headline evidence).",
        "- **local[8] → local[32]** — saturation pair: 32 task threads "
        "+ up to 2 Python UDF workers each ≈ 96 runnable threads on 32 "
        "vCPUs, a local-mode artifact (real executors have bounded "
        "per-JVM worker pools). Reported for transparency.",
        "",
    ]
    for r in results:
        a = r["aggregate"]
        lines += [
            f"## {r['pair']} — {r['rows_pages']:,} pages rows, "
            f"{r['rows_text']:,} text rows",
            "",
            "| query | t(N) s | t(4N) s | speedup | efficiency |",
            "|---|---|---|---|---|",
        ]
        for k, p in r["per_query"].items():
            mark = " *" if k in a["excluded"] else ""
            lines.append(f"| {k}{mark} | {p['t_small']} | {p['t_big']} | "
                         f"{p['speedup']} | {p['efficiency']} |")
        sp = r["spatial_aggregate"]
        lines += [
            f"| **spatial pipeline (north-rule metric)** | "
            f"{sp['t_small']} | {sp['t_big']} | **{sp['speedup']}** | "
            f"**{sp['efficiency']}** |",
            f"| **aggregate (scalable set)** | {a['t_small']} | "
            f"{a['t_big']} | **{a['speedup']}** | **{a['efficiency']}** |",
            "",
            f"Flagship covering-join throughput: "
            f"{r['throughput']['flagship_rows_per_sec_small']:,.0f} → "
            f"{r['throughput']['flagship_rows_per_sec_big']:,.0f} rows/s; "
            f"geocode: {r['throughput']['geocode_rows_per_sec_small']:,.0f}"
            f" → {r['throughput']['geocode_rows_per_sec_big']:,.0f} rows/s.",
            "",
        ]
        cs, cb = r["cpu"]["small"], r["cpu"]["big"]
        if cs and cb:
            lines += [
                f"CPU evidence (whole host, /proc/stat): N-thread run "
                f"averaged **{cs['avg_busy_cores']} busy cores** "
                f"({cs['busy_cpu_sec']}s CPU over {cs['wall']}s wall); "
                f"4N-thread run averaged **{cb['avg_busy_cores']} busy "
                f"cores** ({cb['busy_cpu_sec']}s CPU over {cb['wall']}s "
                "wall). Busy cores tracking the thread count while "
                "wall time does not shrink proportionally = cores are "
                "BUSY but contended (memory bandwidth/GC on one box), "
                "not idle behind a serialized plan.",
                "",
            ]
    # fold in the standalone evidence runs when their JSON is present
    ds_path = os.path.join(HERE, "data_scaling.json")
    if os.path.exists(ds_path):
        with open(ds_path) as f:
            ds = json.load(f)
        legs = ds["legs"]
        base = legs[0]
        lines += [
            "## Data-size scaling at fixed parallelism "
            "(BENCH/run_data_scaling.py)",
            "",
            "The second 100 TB axis (the pair tables above scale "
            "CORES at fixed data): the spatial north-rule set at "
            + ", ".join("{:,}".format(lg["rows"]) for lg in legs)
            + " rows on "
            f"local[{ds['cpus']}], input splits scaled with rows "
            "(fixed ~rows/split, as maxPartitionBytes yields on a "
            "real table). linearity = (t x rows_ratio) relative to "
            f"the {base['rows']:,}-row leg — 1.0 is perfectly linear "
            "in data; >1 means big legs amortize fixed overhead.",
            "",
            "| query | " + " | ".join(
                f"t@{lg['rows'] / 1e6:g}M s" for lg in legs)
            + f" | linearity@{legs[-1]['rows'] / 1e6:g}"
            + f"M | rows/s@{legs[-1]['rows'] / 1e6:g}"
            + "M |",
            "|---|" + "---|" * (len(legs) + 2),
        ]
        for q in ds["queries"]:
            ts = [lg["per_query"][q] for lg in legs]
            ratio = legs[-1]["rows"] / base["rows"]
            linearity = round(ts[0] * ratio / ts[-1], 3)
            rps = f"{legs[-1]['rows'] / ts[-1]:,.0f}"
            lines.append(
                "| " + q + " | "
                + " | ".join(str(t) for t in ts)
                + f" | {linearity} | {rps} |")
        tot = [round(sum(lg["per_query"][q] for q in ds["queries"]), 2)
               for lg in legs]
        ratio = legs[-1]["rows"] / base["rows"]
        lines += [
            f"| **spatial set total** | "
            + " | ".join(str(t) for t in tot)
            + f" | **{round(tot[0] * ratio / tot[-1], 3)}** | — |",
            "",
        ]
    skew_path = os.path.join(HERE, "skew.json")
    if os.path.exists(skew_path):
        with open(skew_path) as f:
            sk = json.load(f)
        lines += [
            "## Skewed-tile covering join (BENCH/salted_skew_bench.py)",
            "",
            f"{sk['rows']:,} rows with {sk['skew_frac']:.0%} planted in "
            f"ONE level-4 tile; the shuffle-hash covering join, "
            f"local[{sk['cores']}]:",
            "",
            "| variant | sec |",
            "|---|---|",
            f"| AQE skew-join off (straggler) | {sk['aqe_skew_off_sec']} |",
            f"| AQE skew-join on (32m threshold) | {sk['aqe_skew_on_sec']} |",
            "",
            f"AQE's skew split removes the straggler "
            f"({sk['aqe_speedup']}x). It is the engine's one skew "
            "mechanism: explicit salting plus its hot-tile histogram "
            "lost 10 of 10 pairs to it and was deleted "
            "(PLAN_EVIDENCE.md). Tile-partitioned writes rebalance on "
            "the tile and AQE's rebalance split breaks up oversized "
            "partitions.",
            "",
        ]
    kr_path = os.path.join(HERE, "kill_resume.json")
    if os.path.exists(kr_path):
        with open(kr_path) as f:
            kr = json.load(f)
        n_rows = kr["docs_mult"] * 5000
        lines += [
            "## Mid-job kill + resume at 10M rows "
            "(BENCH/kill_resume_smoke.py)",
            "",
            "Deploy-shaped crash-recovery evidence: three `spark-submit "
            "--py-files` legs of `jobs/dedup_job.py` over "
            f"{kr['sf_dir']} × {kr['docs_mult']} = {n_rows:,} document "
            f"rows, local[{kr['cpus']}], snapshot-batched exact dedup "
            "through `io/table_io.py`:",
            "",
            f"1. **Kill leg**: SIGKILL the whole JVM at "
            f"t={kr['kill_after_sec']}s, with the one signature write "
            f"in flight — {kr['batches_committed_at_kill']} of "
            f"{kr['batches_total']} snapshot batches committed at the "
            f"kill, **{kr['orphan_snap_dirs_after_kill']} orphan "
            f"snapshot dirs** and {kr['staging_dirs_after_kill']} "
            "staging dir left behind, never read (readers see only "
            "manifest entries).",
            f"2. **Resume leg**: same sink, fresh process — skipped the "
            f"{kr['batches_skipped_on_resume']} committed batch(es), "
            f"completed the rest in **{kr['resume_sec']}s**.",
            f"3. **Uninterrupted control**: fresh sink, one process — "
            f"**{kr['uninterrupted_sec']}s**.",
            "",
            f"Resumed output ≡ uninterrupted output: "
            f"{kr['keep_rows_resumed']:,} keep-rows in both, `exceptAll`"
            f" empty in BOTH directions (equivalent="
            f"{kr['equivalent']}). A kill during the signature write "
            "loses every batch pending in it, so the resume redoes them "
            f"({kr['resume_sec']}s vs {kr['uninterrupted_sec']}s "
            "uninterrupted); `max_batches_this_run` bounds that loss.",
            "",
        ]
    lines += [
        "`*` excluded from the aggregate: knn (kept out for "
        "comparability with runs that timed it as a driver loop) or "
        "sub-second corpus (ann_*), reported for completeness.",
        "",
        "Numbers are min-of-2 per query within a run (min-of-3 past "
        "2s); CROSS-run variance on this shared host is significant — "
        "the host is BIMODAL (r5: clean-pair spatial efficiency 0.317 "
        "in one run and ~0.9 in a geocode A/B probe minutes later on "
        "identical code; r1-r4 observed 0.836–0.939 clean / 0.17–0.39 "
        "saturation; prior runs in this file's git history). Identical-"
        "code A/B alternation within one session is the only reliable "
        "comparison; the CPU accounting above attributes each run's "
        "shortfall.",
        "",
        "Physical-plan evidence: `explain_flagship.txt` (asserted "
        "broadcast join with ZERO shuffle exchanges on the pages side), "
        "`explain_geocode.txt` (map-only kernel chain), "
        "`explain_salted.txt` (shuffle-hash covering join), "
        "`explain_minhash.txt` (one MapInArrow signature pass, banded "
        "self-join), `explain_distjoin.txt` (half-stencil "
        "emit, one shuffle on the cell key, numpy pairs: no join node, "
        "no cache), "
        "`explain_frame_sample.txt` (no Python eval), `explain_hll.txt` "
        "(aggregation-only), `explain_decontaminate.txt` (map-only "
        "n_hit probe), `explain_url_normalize.txt` (zero-shuffle, "
        "UDF-free), `explain_pipeline.txt` (fused corpus filter: one "
        "scan, one ArrowEvalPython).",
        "",
        "Round-4 notes settled by 10M-scale measurement:",
        "",
        "- **minhash_pairs candidate stage**: two groupBy-collect_list "
        "in-bucket-expansion rewrites (tail-slice and index-sequence "
        "pair forms) benched ~1.7x SLOWER than the band self-join at "
        "sf0.1 — ReuseExchange already materializes ONE shuffle for "
        "both identical join sides, so the rewrite saves nothing and "
        "pays array build + million-struct explode. The join stays "
        "(numbers in dedup.pairs_from_signatures docstring).",
        "- **dist_join broadcast bug (FIXED)**: at 10M rows Catalyst's "
        "size estimate through the Python projection under-counted the "
        "cached points relation and picked a 12.7 GiB broadcast build "
        "(> the 8 GiB cap -> abort; a cluster would OOM the driver). "
        "distance_join later dropped the join and the cached relation "
        "altogether (one shuffle on the cell key, no join node; plan "
        "test). Also: a fixed-radius distance join's "
        "OUTPUT grows quadratically with density, so the bench holds "
        "r^2*n constant across scales (the query shape a user would "
        "actually scale).",
    ]
    with open(os.path.join(HERE, "BASELINE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
