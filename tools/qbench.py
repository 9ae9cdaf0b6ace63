"""Targeted per-query timing: bench.py methodology (noop sink, one cold run,
min-of-N warm) for a named subset of registry queries.

Usage:
    python tools/qbench.py [--sf /root/testdata/sf0.1] [--warm 3] q1 q2 ...

Prints one line per query: name, cold seconds, min-warm seconds and the
min-warm CPU seconds of the process tree (driver, JVM and Python workers:
perfbench's ``tree_cpu_s``, the quantity its pass metrics gate; it spreads
less than wall time on a shared machine). Same session config as the
bench; ambient steal/load stamped at the end so a noisy sample is
self-declaring. For optimization-loop use only — the
driver contract stays bench.py.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(1, os.path.join(_ROOT, "perfbench"))

from workloads import tree_cpu_s  # noqa: E402


def _cpu_times():
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        vals = [int(x) for x in fields[1:9]]
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--warm", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from streaming_data_pipeline_with_iceberg_and_spark_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("qbench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    # same warm-up as bench.py: JVM/codegen + python workers
    force(qs["q5_revenue_by_nation"](spark, args.sf))
    cores = spark.sparkContext.defaultParallelism
    force(
        spark.range(cores * 4, numPartitions=cores).mapInPandas(
            lambda it: it, "id long"
        )
    )

    s0, t0 = _cpu_times()
    for name in args.queries:
        fn = qs.get(name)
        if fn is None:
            print(f"{name}\tMISSING")
            continue
        spark.sparkContext.setJobDescription(f"qbench: {name}")
        t = time.perf_counter()
        force(fn(spark, args.sf))
        cold = time.perf_counter() - t
        best = best_cpu = float("inf")
        for _ in range(args.warm):
            t, c = time.perf_counter(), tree_cpu_s()
            force(fn(spark, args.sf))
            best = min(best, time.perf_counter() - t)
            best_cpu = min(best_cpu, tree_cpu_s() - c)
        print(
            f"{name}\tcold={cold:.3f}\twarm={best:.3f}\twarm_cpu={best_cpu:.3f}",
            flush=True,
        )
    s1, t1 = _cpu_times()
    steal = 100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0
    print(f"# steal_pct={steal:.2f} load={os.getloadavg()}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
