"""Repository benchmark: one seeded end-to-end workload per invocation.

    python3 perfbench/run.py --workload pyramid --seed 1 --seconds 8 --trace 0

Run from the repository root. Inputs are generated from --seed. The
set-up, timed as `setup_s`, launches the JVM, starts the session,
loads the native kernel on the driver and in every Python worker and
warms the workers. The workload's `warm_iterations` untimed
iterations warm the JIT; then iterations run until --seconds of them
are timed and at least three are (two on a host too slow to fit a
third in RUN_BUDGET_S), and `run_s` is their median. After each
iteration, outside its timing, its output is checked: the first
against an independently computed answer, the later ones against the
first.

--trace 0 reports the end-to-end metrics; --trace 1 alternates
untraced and traced iterations and reports the per-layer metrics
(spans around calls into each layer, per-operator counters from
Spark's SQL status store, the mesh-kernel probe). Human-readable lines go to stdout first; the last
line is one JSON object. Scratch files live in .perfbench_work/ under
the working directory. Exit status is 0 only if every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import sqlmetrics as SM
from tracing import PeakRss, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_TIMED = 3  # untraced runs time at least this many iterations
# on a slow host, no third or later iteration starts unless, as slow as
# the slowest so far, it would end by this many seconds after launch:
# a comparison makes about fifty runs, and they must fit its time budget
RUN_BUDGET_S = 85.0
# no iteration (in --trace 1, untraced and traced pair) starts unless,
# as slow as the slowest so far, it would end by this many seconds after
# launch, which leaves room to stop within 180 s
DEADLINE_S = 150.0
LAUNCHED = time.perf_counter()

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "units_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# every per-layer metric and its unit; a layer a workload never calls reports 0
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.scan_s": "s", "sources.rows_read": "count",
    "geocode.s": "s", "geocode.points": "count",
    "meshing.base_cells_s": "s", "meshing.grid_rows": "count",
    "meshing.top_zoom_s": "s", "meshing.low_zooms_s": "s",
    "kernels.terra_smooth_cells_per_s": "1/s", "kernels.terra_smooth_py_cells_per_s": "1/s",
    "kernels.terra_noise_cells_per_s": "1/s", "kernels.terra_noise_py_cells_per_s": "1/s",
    "kernels.zemlya_smooth_cells_per_s": "1/s", "kernels.zemlya_smooth_py_cells_per_s": "1/s",
    "kernels.zemlya_noise_cells_per_s": "1/s", "kernels.zemlya_noise_py_cells_per_s": "1/s",
    "kernels.insert_frac_smooth": "ratio", "kernels.insert_frac_noise": "ratio",
    "kernels.native_fallbacks": "count",
    "arrow.sent_mb": "MB", "arrow.returned_mb": "MB",
    "arrow.python_run_s": "s", "arrow.python_init_s": "s",
    "shuffle.written_mb": "MB", "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "driver.jobs": "count", "driver.tasks_failed": "count",
    "sinks.write_s": "s", "sinks.written_mb": "MB", "sinks.files": "count",
    "joins.pip_s": "s", "joins.pip_convex_s": "s", "joins.knn_s": "s",
    "joins.candidates_per_row": "ratio", "joins.knn_jobs": "count",
    "dedup.extract_s": "s", "dedup.pairs_s": "s", "dedup.cc_s": "s",
    "dedup.cc_rounds": "count", "dedup.candidate_pairs": "count", "dedup.pair_yield": "ratio",
    "dedup.recall": "ratio", "dedup.split_families": "count",
    "trace.overhead_s": "s",
}

_JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")
MB = 1 << 20


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def counters(rows, jobs, failed_tasks) -> dict:
    """Per-layer counters of one untraced iteration, from its SQL plans."""
    def tot(metric, prefix=""):
        return SM.total(rows, prefix, metric)

    sinks = [r for r in rows if r.metric == "written output"]
    joins_rows = [r for r in rows if r.description in ("pip", "pip_convex", "knn")]
    results = SM.root_output_rows(
        [r for r in rows if r.description in ("pip", "pip_convex", "knn_sink")]
    )
    candidates = sum(
        r.value for r in joins_rows
        if r.metric == "number of output rows" and r.node.startswith(_JOIN_NODES)
    )
    return {
        "arrow.sent_mb": tot("data sent to Python workers") / MB,
        "arrow.returned_mb": tot("data returned from Python workers") / MB,
        "arrow.python_run_s": tot("time to run Python workers"),
        "arrow.python_init_s": tot("time to initialize Python workers"),
        "shuffle.written_mb": tot("shuffle bytes written") / MB,
        "shuffle.fetch_wait_s": tot("fetch wait time"),
        "shuffle.spill_mb": tot("spill size") / MB,
        "driver.jobs": jobs,
        "driver.tasks_failed": failed_tasks,
        "sinks.written_mb": sum(r.value for r in sinks) / MB,
        "sinks.files": tot("number of written files"),
        "joins.candidates_per_row": candidates / sum(results) if sum(results) else 0.0,
    }


def warm_up(spark) -> None:
    """One Python worker per core, each with the native kernel loaded,
    and the Arrow path."""

    def _load_native(batches):  # nested, so it is pickled by value
        from tin_terrain_spark.kernels import native

        native.native_available()
        yield from batches

    (
        spark.range(0, 100_000, numPartitions=spark.sparkContext.defaultParallelism)
        .mapInPandas(_load_native, "id long")
        .write.format("noop").mode("overwrite").save()
    )


def confine_scratch(tmp: str, local: str) -> None:
    """Keep every scratch file of this process, the JVMs it launches
    and their Python workers inside the working directory."""
    os.environ["TMPDIR"] = tmp  # inherited by the JVM and its Python workers
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the spark-submit launcher included: temp files here, no
    # hsperfdata file in the system temp directory
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {opts}".strip()


def start_session(cores: int, local: str):
    from tin_terrain_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a 2 GiB heap ceiling instead of the program's 12 GiB default
            # keeps the benchmark's footprint small; the heap still grows
            # on demand, so its use shows in peak_rss_mb
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session and wait until the JVM behind it has exited.
    The gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path[:0] = [ROOT, HERE]
    try:
        import tin_terrain_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2

    import pyspark

    import kernel_probe
    from tin_terrain_spark.kernels import native
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](args.seed)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, run_id)
    tmp = os.path.join(WORK, "tmp")  # kept across runs: holds the native-kernel cache
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("TTS_NO_NATIVE", None)  # always measure the compiled kernel path
    cores = len(os.sched_getaffinity(0))
    pages = os.path.join(run_dir, "pages")
    local = os.path.join(run_dir, "spark-local")
    confine_scratch(tmp, local)
    tracer = Tracer(run_id)
    cache = os.path.join(tmp, f"tts_native_{os.getuid()}")
    native_cache_warm = os.path.isdir(cache) and any(f.endswith(".so") for f in os.listdir(cache))

    spark = None
    attempted = failed = 0
    walls: list[float] = []
    units: list[float] = []
    traced_walls: list[float] = []
    layer_runs: list[dict] = []
    counter_runs: list[dict] = []
    try:
        t0 = time.perf_counter()
        n_pages = wl.write_inputs(pages)
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = start_session(cores, local)
        t1 = time.perf_counter()
        native.native_available()
        warm_up(spark)
        start_s, warmup_s = t1 - t0, time.perf_counter() - t1
        status = SM.SqlStatus(spark)
        sc = spark.sparkContext

        def iteration(i: int, traced: bool) -> None:
            nonlocal attempted, failed
            attempted += 1
            out = os.path.join(run_dir, f"out{i}")
            group = f"{run_id}-{i}"
            try:
                mark = status.mark()
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                if traced:
                    with tracer.span(f"iteration{i}"):
                        n, result, layers = wl.traced(spark, pages, out, tracer, status)
                else:
                    n, result = wl.run(spark, pages, out)
                wall = time.perf_counter() - t0
                sc.setJobDescription(None)
                jobs, failed_tasks = status.jobs(group)
                want = None if args.trace or traced else {"pip", "pip_convex", "knn_sink", "keep"}
                rows = status.rows_since(mark, want)
                t1 = time.perf_counter()
                with rss.paused():
                    wl.verify(spark, pages, out, result, rows, first=(i == 0))
                log(f"iteration {i}{' traced' if traced else ''}: {wall:.3f} s, "
                    f"harvest+check {time.perf_counter() - t1:.3f} s")
            except Exception as e:  # noqa: BLE001  (a failed iteration is counted, not fatal)
                failed += 1
                print(f"perfbench: iteration {i} failed: {e}", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                return
            finally:
                spark.catalog.clearCache()
                shutil.rmtree(out, ignore_errors=True)
            if i < wl.warm_iterations:
                return
            if traced:
                traced_walls.append(wall)
                layer_runs.append(layers)
            else:
                walls.append(wall)
                units.append(n / wall)
                if args.trace:
                    counter_runs.append(counters(rows, jobs, failed_tasks))

        def more() -> bool:
            step = max(walls + traced_walls, default=0.0) * (1 + args.trace)
            end = time.perf_counter() - LAUNCHED + step
            if failed or end > DEADLINE_S or (len(walls) >= 2 and end > RUN_BUDGET_S):
                return False
            if sum(walls) + sum(traced_walls) < args.seconds:
                return True
            return not args.trace and len(walls) < MIN_TIMED

        # memory is sampled while the workload runs: not during set-up
        # or the output checks
        rss = PeakRss()
        with rss:
            for i in range(wl.warm_iterations):
                if not failed:
                    iteration(i, traced=False)
            i = wl.warm_iterations
            # --trace 1 alternates untraced and traced iterations
            while more():
                iteration(i, traced=False)
                i += 1
                if args.trace:
                    iteration(i, traced=True)
                    i += 1
        peak_mb = rss.peak / MB
        probe = {}
        if args.trace:
            attempted += 1
            try:
                probe = kernel_probe.probe(args.seed)
            except Exception as e:  # noqa: BLE001  (counted like a failed iteration)
                failed += 1
                print(f"perfbench: kernel probe failed: {e}", file=sys.stderr)
    finally:
        try:
            if spark is not None:
                stop_jvm(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    correct = failed == 0 and bool(walls)
    q1, run_s, q3 = quartiles(walls) if walls else (0.0, 0.0, 0.0)
    e2e = {
        "setup_s": start_s + warmup_s,
        "run_s": run_s,
        "units_per_s": statistics.median(units) if units else 0.0,
        "peak_rss_mb": peak_mb,
    }
    print(f"workload {wl.name} seed {args.seed}: {n_pages} pages, unit={wl.unit}, "
          f"cores={cores}, spark {pyspark.__version__}, python {platform.python_version()}, "
          f"native cache warm={native_cache_warm}, inputs generated in {gen_s:.2f} s")
    print(f"  sizes        {json.dumps(wl.sizes)}")
    print(f"  setup_s      {e2e['setup_s']:.3f} s   (session start {start_s:.2f}, "
          f"warm-up {warmup_s:.2f})")
    print(f"  run_s        {run_s:.3f} s   (q1 {q1:.3f}, q3 {q3:.3f}, n={len(walls)})")
    print(f"  units_per_s  {e2e['units_per_s']:.1f} {wl.unit}/s")
    print(f"  failed_frac  {failed / max(attempted, 1):.3f}   ({failed} of {attempted} iterations)")
    print(f"  peak_rss_mb  {peak_mb:.1f} MB")

    if args.trace:
        layers: dict = {k: 0.0 for k in PER_LAYER}
        layers["session.start_s"] = start_s
        layers["session.warmup_s"] = warmup_s
        for runs in (counter_runs, layer_runs):
            for k in {k for r in runs for k in r}:
                layers[k] = statistics.median(r[k] for r in runs)
        layers.update(probe)
        layers.update(wl.findings)
        if traced_walls and walls:
            layers["trace.overhead_s"] = statistics.median(traced_walls) - run_s
        trace_path = os.path.join(WORK, "traces", f"{run_id}.json")
        tracer.write(trace_path)
        for k, v in layers.items():
            print(f"  {k:<38} {v:.6g} {PER_LAYER[k]}")
        print(f"  spans written to {os.path.relpath(trace_path, ROOT)}")
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
