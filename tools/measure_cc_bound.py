"""Measure both connected_components paths on one synthetic candidate graph.

Usage: python tools/measure_cc_bound.py [edges ...]

For every edge count given (default 250000 1000000 2000000), every id type
(bigint, string) and every path (driver, spark), a fresh Python process
builds the graph, runs ``operators.dedup.connected_components`` with
``_CC_DRIVER_MAX_EDGES`` forced to route it to that path, consumes the
result with a noop write and prints one line:

  wall_s      the call plus the consuming write
  py_mb       peak RSS of the Python driver over the call, above its RSS
              before it
  jvm_mb      the same for the driver JVM (in local mode it also runs the
              tasks)
  old_gen_mb  peak occupancy of the JVM heap's old generation over the
              call: what the heap had to keep, as opposed to short-lived
              allocation

The graph has the shape a dedup candidate set has: ids in blocks of 16,
each block joined by 10 random intra-block edges, so components are small
clusters. Ids are bigint or zero-padded 16-character strings. Each child
pins ``local[3]`` and a 3g heap (``SPARK_DRIVER_MEM`` overrides it).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _status_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def _reset_peak_rss(pid: int | str) -> None:
    # writing 5 to clear_refs resets VmHWM to the current RSS
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def _old_gen_pool(spark):
    mf = spark._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName() or "Tenured" in pool.getName():
            return pool
    raise RuntimeError("no old generation memory pool")


def measure(n_edges: int, ids: str, path: str) -> None:
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    from pyspark.sql import functions as F

    from mlforecast_spark.operators import dedup
    from mlforecast_spark.utils import get_spark

    spark = get_spark("measure_cc_bound", cpus=3)
    spark.sparkContext.setLogLevel("ERROR")
    r = F.col("id")
    block = (r / 10).cast("long") * 16
    edges = spark.range(n_edges, numPartitions=12).select(
        (block + F.pmod(F.xxhash64(r, F.lit(1)), F.lit(16))).alias("id_a"),
        (block + F.pmod(F.xxhash64(r, F.lit(2)), F.lit(16))).alias("id_b"),
    )
    if ids == "string":
        edges = edges.select(
            *(F.format_string("%016d", F.col(c)).alias(c) for c in edges.columns)
        )
    edges = edges.localCheckpoint(eager=True)
    dedup._CC_DRIVER_MAX_EDGES = n_edges if path == "driver" else 0
    calls = []
    real = dedup._connected_components_spark

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    dedup._connected_components_spark = spy

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    old_gen = _old_gen_pool(spark)
    spark._jvm.java.lang.System.gc()
    old_gen.resetPeakUsage()
    rss0 = {p: _status_kb(p, "VmRSS") for p in ("self", jvm_pid)}
    for p in rss0:
        _reset_peak_rss(p)
    t0 = time.perf_counter()
    out = dedup.connected_components(edges)
    out.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    py_mb = (_status_kb("self", "VmHWM") - rss0["self"]) / 1024
    jvm_mb = (_status_kb(jvm_pid, "VmHWM") - rss0[jvm_pid]) / 1024
    old_gen_mb = old_gen.getPeakUsage().getUsed() / 2**20
    assert (len(calls) == 0) == (path == "driver"), calls
    print(
        f"edges={n_edges:>9d} ids={ids:6s} path={path:6s} wall_s={wall:7.2f} "
        f"py_mb={py_mb:7.0f} jvm_mb={jvm_mb:7.0f} old_gen_mb={old_gen_mb:7.0f}",
        flush=True,
    )
    spark.stop()


def main() -> None:
    if sys.argv[1:2] == ["--one"]:
        measure(int(sys.argv[2]), sys.argv[3], sys.argv[4])
        return
    sizes = [int(a) for a in sys.argv[1:]] or [250_000, 1_000_000, 2_000_000]
    for n_edges in sizes:
        for ids in ("bigint", "string"):
            for path in ("driver", "spark"):
                subprocess.run(
                    [sys.executable, __file__, "--one", str(n_edges), ids, path],
                    check=True,
                    stderr=subprocess.DEVNULL,
                )


if __name__ == "__main__":
    main()
