"""Time ``graph.pagerank`` on both sides of the driver cutover.

Usage::

    python tools/pagerank_paths.py [n_edges ...] [--runs=N] [--iter=K]

For each edge count (default 10000 1000000 4000000) it builds a synthetic
link graph with n_edges / 10 nodes from ``spark.range`` (no input files),
then runs ``pagerank`` through the driver path (the shipped
``graph._DRIVER_MAX_EDGES``) and through the distributed loop (the cap
set to 0), each into the noop sink.  After one untimed warm call per
path it prints the median wall seconds and the median CPU seconds of
``N`` calls (default 3), CPU summed over this process and the JVM.  An
edge count above the shipped cap runs the distributed loop on both
sides.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from plda_spark.operators import graph
from plda_spark.session import get_spark


def _cpu_s(pid: int) -> float:
    """User + system CPU seconds of process ``pid``, from /proc."""
    fields = open(f"/proc/{pid}/stat").read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    opts = dict(a[2:].split("=", 1) for a in sys.argv[1:] if a.startswith("--"))
    sizes = [int(a) for a in sys.argv[1:] if not a.startswith("--")]
    sizes = sizes or [10_000, 1_000_000, 4_000_000]
    runs, n_iter = int(opts.get("runs", 3)), int(opts.get("iter", 10))
    spark = get_spark("pagerank-paths")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc.pid
    shipped = graph._DRIVER_MAX_EDGES
    print("edges  path    wall_s  cpu_s")
    for m in sizes:
        n = max(m // 10, 2)
        ids = F.col("id")
        edges = spark.range(m).select(
            (F.abs(F.xxhash64(ids)) % n).alias("src"),
            (F.abs(F.xxhash64(ids, F.lit(1))) % n).alias("dst"),
        )
        for path, cap in (("driver", shipped), ("spark", 0)):
            graph._DRIVER_MAX_EDGES = cap
            walls, cpus = [], []
            for i in range(runs + 1):
                c0, w0 = time.process_time() + _cpu_s(jvm), time.perf_counter()
                graph.pagerank(edges, n_iter=n_iter).write.format("noop").mode(
                    "overwrite").save()
                if i:  # the first call warms up
                    walls.append(time.perf_counter() - w0)
                    cpus.append(time.process_time() + _cpu_s(jvm) - c0)
            print(f"{m:>9,}  {path:<6}  {statistics.median(walls):6.2f}  "
                  f"{statistics.median(cpus):6.2f}", flush=True)
        graph._DRIVER_MAX_EDGES = shipped
    spark.stop()


if __name__ == "__main__":
    main()
