"""Benchmark entry point.

    python3 perfbench/run.py --workload forecast_wide --seed 1 --seconds 2 --trace 0

Run from the root of a source checkout. The run generates the workload's
seeded input (cached under ``.perfbench/``), starts a pinned local Spark
session, times set-up and passes of the workload through the library's
public API, checks the outputs against independent references, and prints
one JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run of the same passes with the event log on and the library's public
entry points wrapped in spans; it reports per-layer metrics and the
tracing overhead. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import resource
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

N_SETUPS = 2  # set-ups per run (cold JVM, then a session restart); setup_s is their median
MIN_PASSES = 1  # timed passes per run, even past --seconds; pipeline_s is their median
HEAP = "3g"  # explicit driver heap (local mode: the driver is the executor)
MAX_CPUS = 4

END_TO_END = {
    "setup_s": "s",
    "pipeline_s": "s",
    "rows_per_s": "rows/s",
    "driver_mem_mb": "MB",
}


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def prepare_environment(work: str) -> None:
    """Point Python workers at the checkout and keep temp files in it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(path),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        # one BLAS thread per Python worker: local[n] already runs n workers
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )


def cpus() -> int:
    """Task slots: one cpu is left to the driver's Python and JVM threads,
    which carry the per-job floor; with every cpu taken by tasks, run-to-run
    spread on 4 cpus was several times larger."""
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0)) - 1))


def start_session(work: str, event_dir: str | None = None):
    from pyspark.sql import SparkSession

    n = str(cpus())
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        # a fixed-size heap: no run-to-run differences in heap growth
        .config("spark.driver.extraJavaOptions", f"-Xms{HEAP} -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.default.parallelism", n)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_dir else "false")
    )
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def driver_mem_mb(spark) -> tuple[float, float]:
    """(JVM heap retained after a full collection, Python driver peak RSS).

    The retained heap is what the session holds after a pass (cached
    frames, broadcasts, fitted state), independent of how far the collector
    let the heap grow; the JVM's own peak RSS follows its heap-sizing
    policy and is not reported."""
    gc.collect()  # drop Python handles so the JVM side can be collected
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    # Spark's ContextCleaner frees the blocks of collected frames on its own
    # thread, so collect until the retained heap has stopped shrinking for
    # two rounds in a row
    readings = []
    for _ in range(12):
        jvm.java.lang.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        if len(readings) >= 3 and min(readings[-3:]) >= 0.99 * max(readings[-3:]):
            break
        time.sleep(0.5)
    return readings[-1], resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def shutdown_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Pass:
    """Times the steps of one pass; in a traced pass each step is also a
    span of the layer whose plan its action forces."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.steps: dict[str, float] = {}
        self.wall = 0.0

    @contextlib.contextmanager
    def step(self, name: str, layer: str):
        t0 = time.perf_counter()
        if self.tracer is not None:
            with self.tracer.span(layer, name, call=False):
                yield
        else:
            yield
        self.steps[name] = time.perf_counter() - t0


def run_pass(spark, wl, tracer=None):
    spark.catalog.clearCache()
    p = Pass(tracer)
    t0 = time.perf_counter()
    out = wl.run(spark, p.step)
    p.wall = time.perf_counter() - t0
    return p, out


def timed_passes(spark, wl, seconds: float, tracer=None):
    passes, out = [], None
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        p, out = run_pass(spark, wl, tracer)
        passes.append(p)
    return passes, out


def median_steps(passes) -> dict:
    return {k: statistics.median(p.steps[k] for p in passes) for k in passes[0].steps}


def run_checks(wl, out):
    """Run the workload's checks; a check that raises counts as one failed
    check."""
    try:
        checks, quality = wl.check(out)
    except Exception:
        traceback.print_exc()
        checks, quality = [("check_raised", False, "see traceback")], {}
    for name, ok, detail in checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    return sum(1 for c in checks if not c[1]), len(checks), quality


def run_untraced(wl, work, seconds):
    """End-to-end metrics: N_SETUPS x (session start + warm pass), then
    timed passes on the last session."""
    setups = []
    spark = None
    for i in range(N_SETUPS):
        t0 = time.perf_counter()
        spark = start_session(work)
        if i == 0:
            wl.prepare(spark)
        run_pass(spark, wl)
        setups.append(time.perf_counter() - t0)
        if i < N_SETUPS - 1:
            spark.stop()
    passes, out = timed_passes(spark, wl, seconds)
    heap, py_rss = driver_mem_mb(spark)
    print(f"memory: retained_heap_mb {heap:.1f} python_peak_rss_mb {py_rss:.1f}")
    failed, n_checks, quality = run_checks(wl, out)
    info = session_info(spark)
    shutdown_jvm(spark)
    pipeline = statistics.median(p.wall for p in passes)
    steps = median_steps(passes)
    print("setups_s: " + json.dumps([round(s, 4) for s in setups]))
    print("passes_s: " + json.dumps([round(p.wall, 4) for p in passes]))
    print("steps_s: " + json.dumps({k: round(v, 4) for k, v in steps.items()}))
    print("quality: " + json.dumps(quality))
    print("session: " + json.dumps(info))
    values = {
        "setup_s": statistics.median(setups),
        "pipeline_s": pipeline,
        "rows_per_s": wl.rows / pipeline,
        "driver_mem_mb": heap + py_rss,
    }
    metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    steps_run = len(passes) * len(steps)
    return metrics, failed, n_checks + steps_run


def run_traced(wl, work, seconds):
    """Per-layer metrics from one session with the event log on and the
    library's entry points wrapped. After a warm pass, untraced and traced
    passes alternate, so the tracing overhead is the difference of their
    medians at the same warmth; only traced passes are attributed."""
    import spans

    event_dir = os.path.join(work, "events")
    spark = start_session(work, event_dir=event_dir)
    app_id = spark.sparkContext.applicationId
    tracer = spans.Tracer(spark.sparkContext)
    uninstall = spans.install(tracer)
    plain, traced = [], []
    try:
        wl.prepare(spark)
        run_pass(spark, wl)  # warm pass
        t0 = time.perf_counter()
        # untraced, traced, untraced: linear warm-up drift cancels in the overhead
        order = (False, True, False)
        while len(plain) + len(traced) < len(order) or time.perf_counter() - t0 < seconds:
            tracer.enabled = order[(len(plain) + len(traced)) % len(order)]
            p, out = run_pass(spark, wl, tracer if tracer.enabled else None)
            (traced if tracer.enabled else plain).append(p)
        tracer.enabled = False
        pair_yield = wl.pair_yield(spark)
    finally:
        uninstall()
    failed, n_checks, quality = run_checks(wl, out)
    info = session_info(spark)
    shutdown_jvm(spark)
    log = spans.find_event_log(event_dir, app_id)
    jobs = spans.read_event_log(log)
    os.remove(log)
    layers = spans.layer_metrics(tracer.spans, jobs, len(traced))

    t_plain = statistics.median(p.wall for p in plain)
    t_traced = statistics.median(p.wall for p in traced)
    print(f"tracing: untraced {t_plain:.4f} s, traced {t_traced:.4f} s, "
          f"{len(tracer.spans)} spans, {len(jobs)} jobs in the event log")
    print("quality: " + json.dumps(quality))
    print("session: " + json.dumps(info))
    metrics = {}
    units = dict(spans.LAYER_METRICS)
    for layer, vals in layers.items():
        for name, v in vals.items():
            metrics[f"{layer}.{name}"] = {"value": v, "unit": units[name]}
    metrics["operators.dedup.pair_yield"] = {"value": pair_yield, "unit": "ratio"}
    metrics["trace.overhead_s"] = {"value": t_traced - t_plain, "unit": "s"}
    metrics["trace.pipeline_s"] = {"value": t_traced, "unit": "s"}
    steps_run = (len(plain) + len(traced)) * len(traced[0].steps)
    return metrics, failed, n_checks + steps_run


def session_info(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        ram_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return {
        "cpus": cpus(),
        "nproc": len(os.sched_getaffinity(0)),
        "heap": HEAP,
        "ram_gb": round(ram_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "master": spark.sparkContext.master,
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # fixed string hashing in the driver and its workers, so set and
        # dict orders in plan building repeat from run to run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)

    if not os.path.isfile(os.path.join(ROOT, "mlforecast_spark", "__init__.py")):
        fail(f"no mlforecast_spark package under {ROOT}: run from a source checkout")
    sys.path[:0] = [ROOT, HERE]
    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench")
    prepare_environment(work)
    import mlforecast_spark

    if not os.path.abspath(mlforecast_spark.__file__).startswith(ROOT + os.sep):
        fail(f"imported mlforecast_spark from {mlforecast_spark.__file__}, not the checkout")

    data = gen.generate(args.workload, args.seed, os.path.join(work, "data"))
    wl = workloads.WORKLOADS[args.workload](data, args.seed)
    runner = run_traced if args.trace else run_untraced
    try:
        metrics, failed, attempted = runner(wl, work, args.seconds)
    except Exception:
        traceback.print_exc()
        fail("a workload step raised; no result", code=1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
