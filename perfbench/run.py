"""Benchmark of the spatial engine (geocode, tiling, covering joins,
proximity joins and tiled snapshot writes).

    python3 perfbench/run.py --workload region_join --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root. One run sets up three times (the first
also generates the seeded inputs; each later one starts a fresh Spark
context), repeats timed passes over the workload's operations until
``--seconds`` of pass time has been measured, checks every output, and
prints one JSON object as the last line of stdout: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it holds the run's context (host, input rows, steal).
See perfbench/README.md for the metric-to-layer map.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import spans as tracing  # noqa: E402

# Set-ups per untraced run; setup_s is the median of their CPU times
# (wall times go to the context line). The first runs
# from process start and also generates the inputs; each later one
# stops Spark and starts a fresh context. Each then loads the inputs and
# starts the Python workers. A traced run sets up once.
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s", "pass_cpu_s": "s", "rows_per_cpu_s": "rows/s",
    "peak_rss_mb": "MiB", "ops_ok_frac": "ratio",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "pages.scan_s": "s",
    "geo.arrow_hop_s": "s",
    "geo.cell_id_udf_s": "s",
    "kernels.cell_id_rows_per_s": "rows/s",
    "kernels.all_neighbors_rows_per_s": "rows/s",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_received": "bytes",
    "spark.python_run_s": "s",
    "spark.arrow_eval_nodes": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "coverer.equi_covering_s": "s",
    "coverer.equi_cells": "count",
    "coverer.range_covering_s": "s",
    "coverer.range_cells": "count",
    "pip_join.equi_s": "s",
    "pip_join.range_s": "s",
    "pip_join.equi_candidate_rows": "count",
    "pip_join.equi_boundary_rows": "count",
    "pip_join.equi_keep_frac": "ratio",
    "pip_join.range_candidate_rows": "count",
    "pip_join.range_boundary_rows": "count",
    "pip_join.range_keep_frac": "ratio",
    "regions.cap_rows_per_s": "rows/s",
    "regions.rect_rows_per_s": "rows/s",
    "regions.polygon_rows_per_s": "rows/s",
    "regions.polyline_rows_per_s": "rows/s",
    "regions.union_rows_per_s": "rows/s",
    "tiles.histogram_s": "s",
    "tiles.hot_tiles": "count",
    "tiles.skew_max_over_median": "ratio",
    "distjoin.project_s": "s",
    "distjoin.join_s": "s",
    "distjoin.candidate_pairs": "count",
    "distjoin.keep_frac": "ratio",
    "knn.s": "s",
    "knn.spark_jobs": "count",
    "knn.driver_s": "s",
    "table_io.append_s": "s",
    "table_io.metrics_append_s": "s",
    "table_io.commits": "count",
    "table_io.files_written": "count",
    "table_io.bytes_written_per_input_byte": "ratio",
    "geocode_job.scans_per_pass": "ratio",
    "trace.overhead_frac": "ratio",
}
ALL_OPS = ("geocode", "tile_histogram", "pip_equi", "pip_range",
           "distance_join", "knn", "geocode_job")
for _op in ALL_OPS:
    PER_LAYER[f"spark.{_op}.python_bytes_sent"] = "bytes"
    PER_LAYER[f"spark.{_op}.arrow_eval_nodes"] = "count"


def configure_env(tmp: str, trace: bool) -> str:
    """Spark confs for a run whose every write lands under ``tmp``."""
    events = os.path.join(tmp, "events")
    os.makedirs(events)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = f"{tracing.driver_memory_mib()}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if trace:
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": events,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    # a fixed, pre-touched heap keeps resident memory from tracking
    # when the JVM chose to grow its heap
    mem = os.environ["SPARK_DRIVER_MEMORY"]
    args.append(f"--driver-java-options '-Djava.io.tmpdir={tmp} "
                f"-XX:-UsePerfData -Xms{mem} -XX:+AlwaysPreTouch'")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return events


class OpRunner:
    """Runs one operation call; counts attempts, failures and times, and
    under a tracer wraps it in a span tagged with a per-pass job group."""

    def __init__(self):
        self.tracer = None
        self.pass_idx = 0
        self.attempted = 0
        self.failures: dict = {}
        self.op_times: dict = {}

    def run(self, op: str, fn):
        self.attempted += 1
        span = (self.tracer.span(op, group=f"{op}#{self.pass_idx}")
                if self.tracer else contextlib.nullcontext())
        t0 = time.perf_counter()
        try:
            with span:
                return fn()
        except Exception as e:  # counted, reported, and the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failures[(op, self.pass_idx)] = repr(e)[:300]
            return None
        finally:
            self.op_times.setdefault(op, []).append(
                round(time.perf_counter() - t0, 4))


def cpu_now(jvm_pid: int) -> float:
    """CPU seconds so far of this thread, which drives the engine, and
    of the JVM with its Python workers; the sampler's thread is left out."""
    return time.thread_time() + tracing.tree_cpu_s(jvm_pid)


def run_passes(spark, wl, runner, outs, seconds, sampler, tracer=None):
    """Passes until their summed time reaches ``seconds``; returns the
    pass wall times and CPU times. Outputs are appended to ``outs``;
    ``sampler``, when given, samples memory during the passes."""
    from workloads import TracedIO
    from s2geometry_spark.io.table_io import ParquetTableIO
    runner.tracer = tracer
    io = (lambda root: TracedIO(root, tracer)) if tracer else ParquetTableIO
    jvm = spark.sparkContext._gateway.proc.pid
    times: list[float] = []
    cpus: list[float] = []
    while not times or sum(times) < seconds:
        spark.catalog.clearCache()
        runner.pass_idx = len(outs)
        with sampler.active() if sampler else contextlib.nullcontext():
            c0 = cpu_now(jvm)
            t0 = time.perf_counter()
            with (tracer.span("pass") if tracer
                  else contextlib.nullcontext()):
                out = wl.run_pass(spark, runner.run, io)
            times.append(time.perf_counter() - t0)
            cpus.append(cpu_now(jvm) - c0)
        runner.failures.update(wl.check_pass(spark, len(outs), out))
        outs.append(out)
    return times, cpus


def layer_metrics(ev, wl, tr, outs, traced) -> dict:
    """Per-pass counts from the event log and spans of traced passes."""
    def groups(*ops):
        return [f"{op}#{i}" for op in ops for i in traced]

    every = groups(*wl.ops)
    per = 1.0 / len(traced)
    m: dict = {
        "spark.python_bytes_sent": per * ev.node_metric(
            every, "ArrowEvalPython", "data sent to Python workers"),
        "spark.python_bytes_received": per * ev.node_metric(
            every, "ArrowEvalPython", "data returned from Python workers"),
        "spark.python_run_s": per * ev.node_metric(
            every, "ArrowEvalPython", "time to run Python workers"),
        "spark.shuffle_write_bytes": per * ev.task_metric(
            every, "internal.metrics.shuffle.write.bytesWritten"),
        "spark.shuffle_read_bytes": per * (
            ev.task_metric(every, "internal.metrics.shuffle.read.localBytesRead")
            + ev.task_metric(every,
                             "internal.metrics.shuffle.read.remoteBytesRead")),
        "spark.spill_bytes": per * (
            ev.task_metric(every, "internal.metrics.memoryBytesSpilled")
            + ev.task_metric(every, "internal.metrics.diskBytesSpilled")),
        "spark.executor_cpu_s": per * 1e-9 * ev.task_metric(
            every, "internal.metrics.executorCpuTime"),
        "spark.executor_run_s": per * 1e-3 * ev.task_metric(
            every, "internal.metrics.executorRunTime"),
        "spark.gc_s": per * 1e-3 * ev.task_metric(
            every, "internal.metrics.jvmGCTime"),
    }
    nodes = 0
    for op in wl.ops:
        m[f"spark.{op}.python_bytes_sent"] = per * ev.node_metric(
            groups(op), "ArrowEvalPython", "data sent to Python workers")
        m[f"spark.{op}.arrow_eval_nodes"] = ev.arrow_nodes(
            [f"{op}#{traced[0]}"])
        nodes += m[f"spark.{op}.arrow_eval_nodes"]
    m["spark.arrow_eval_nodes"] = nodes

    spans = tr.self_times()
    last = outs[traced[-1]]
    if "pip_equi" in wl.ops:
        for tag, join in (("equi", "BroadcastHashJoin"),
                          ("range", "BroadcastNestedLoopJoin")):
            cand = per * ev.node_metric(groups(f"pip_{tag}"), join,
                                        "number of output rows")
            m[f"pip_join.{tag}_candidate_rows"] = cand
            m[f"pip_join.{tag}_keep_frac"] = \
                last[f"pip_{tag}"][0] / cand if cand else 0.0
    if "distance_join" in wl.ops:
        m["distjoin.keep_frac"] = \
            last["distance_join"][0] / wl.candidate_pairs
    if "knn" in wl.ops:
        knn_s = per * spans["knn"]["total_s"]
        m["knn.s"] = knn_s
        m["knn.spark_jobs"] = per * len(ev.jobs(groups("knn")))
        m["knn.driver_s"] = knn_s - per * ev.job_seconds(groups("knn"))
    if "geocode_job" in wl.ops:
        m["table_io.append_s"] = per * spans["table_io.append"]["self_s"]
        m["table_io.metrics_append_s"] = \
            per * spans["table_io.metrics_append"]["total_s"]
        m["table_io.commits"] = per * spans["table_io.append"]["count"]
        m["table_io.files_written"] = wl.job_stats["files"]
        m["table_io.bytes_written_per_input_byte"] = \
            wl.job_stats["bytes"] / wl.write_bytes
        m["geocode_job.scans_per_pass"] = per * ev.node_metric(
            groups("geocode_job"), "Scan parquet",
            "number of output rows") / wl.n_write
    return m


def run(args, tmp: str) -> tuple[dict, dict]:
    events = configure_env(tmp, bool(args.trace))
    from s2geometry_spark.session import get_spark

    from workloads import WORKLOADS, kernel_rates, timed

    ncpu = tracing.nproc()
    wl = WORKLOADS[args.workload](args.seed, args.scale, tmp)
    setup_times, setup_cpu, get_times = [], [], []
    for rep in range(1 if args.trace else SETUP_REPS):
        if rep:
            spark.stop()
        # the first set-up counts from process start, before the JVM was
        # launched, so its CPU time so far is all set-up
        c0 = cpu_now(jvm) if rep else 0.0
        t0 = T_START if rep == 0 else time.perf_counter()
        g0 = time.perf_counter()
        spark = get_spark("perfbench", cores=ncpu, shuffle_partitions=ncpu)
        get_times.append(time.perf_counter() - g0)
        jvm = spark.sparkContext._gateway.proc.pid
        if rep == 0:
            gen_s = timed(lambda: wl.generate(
                spark, os.path.join(tmp, "inputs")))
        wl.setup(spark)
        setup_times.append(time.perf_counter() - t0)
        setup_cpu.append(cpu_now(jvm) - c0)

    runner = OpRunner()
    outs: list = []
    sampler = tracing.RssSampler(jvm)
    cpu0 = tracing.cpu_times()
    layers: dict = {}
    if args.trace:
        # an untimed pass first, then traced and untraced passes
        # alternate, so the overhead compares warm neighbours in time
        run_passes(spark, wl, runner, outs, 0, None)
        tr = tracing.Tracer(spark)
        traced, traced_times, times = [], [], []
        while not traced_times or sum(traced_times) < args.seconds / 2:
            traced.append(len(outs))
            traced_times += run_passes(spark, wl, runner, outs, 0, sampler,
                                       tr)[0]
            times += run_passes(spark, wl, runner, outs, 0, sampler)[0]
    else:
        times, cpus = run_passes(spark, wl, runner, outs, args.seconds,
                                 sampler)
    steal = tracing.steal_frac(cpu0, tracing.cpu_times())
    if args.trace:
        layers = wl.probes(spark, tr)
        layers.update(kernel_rates(args.seed))
        layers["session.get_spark_s"] = statistics.median(get_times)
        layers["trace.overhead_frac"] = (statistics.median(traced_times)
                                         / statistics.median(times) - 1)
    app_id = spark.sparkContext.applicationId
    bad = dict(runner.failures)
    check_s = timed(lambda: bad.update(wl.check_all(spark, outs)))
    sampler.close()
    stop_spark(spark)
    if args.trace:
        ev = tracing.EventLog(os.path.join(events, app_id))
        layers.update(layer_metrics(ev, wl, tr, outs, traced))
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        tr.dump(os.path.join(HERE, "traces",
                             f"{args.workload}-seed{args.seed}.json"))
        print_layer_table(tr, layers)

    for (op, i), msg in sorted(bad.items()):
        print(f"[perfbench] FAILED {op} pass {i}: {msg}", file=sys.stderr)
    attempted = runner.attempted
    failed = len(bad)
    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": statistics.median(setup_cpu),
            "pass_cpu_s": statistics.median(cpus),
            "rows_per_cpu_s": wl.input_rows / statistics.median(cpus),
            "peak_rss_mb": sampler.peak,
            "ops_ok_frac": 1.0 - failed / attempted,
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": ncpu, "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "input_rows": wl.input_rows, "passes": len(times),
        "pass_s": statistics.median(times),
        "pass_times_s": times, "op_times_s": runner.op_times,
        "setup_times_s": setup_times, "setup_cpu_s": setup_cpu,
        "get_spark_s": get_times,
        "generate_s": gen_s, "check_s": check_s,
        "steal_frac": steal,
    }
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return context, result


def stop_spark(spark) -> None:
    """Stop Spark, then its JVM (whose children are the Python
    workers), and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def print_layer_table(tr, layers: dict) -> None:
    print(f"{'span':<28}{'count':>7}{'total_s':>10}{'self_s':>10}",
          file=sys.stderr)
    for name, s in sorted(tr.self_times().items()):
        print(f"{name:<28}{s['count']:>7}{s['total_s']:>10.3f}"
              f"{s['self_s']:>10.3f}", file=sys.stderr)
    for k in PER_LAYER:
        print(f"{k:<44}{layers.get(k, 0.0):>16.6g} {PER_LAYER[k]}",
              file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("region_join", "proximity_write"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses 0.01)")
    args = ap.parse_args(argv)
    try:
        import s2geometry_spark  # noqa: F401
        import tests.oracle_s2  # noqa: F401
    except ImportError as e:
        print(f"[perfbench] engine sources not found next to perfbench/: "
              f"{e}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    try:
        context, result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
