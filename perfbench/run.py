"""spark-graft benchmark: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload llm-curation --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, sets up (three times; the median is ``setup_s``), runs the
workload's measured passes from one client, checks every output, and
prints as its last stdout line ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The traced run also prints the per-operation
layer table and the tracing overhead against the newest untraced result on
record. Every run's full result, stamped with the machine state, goes to a
new file under ``perfbench/results/``. Exit status is 1 when any operation
failed or returned a wrong result.
"""

from __future__ import annotations

import time

T0_EPOCH = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")
STEAL_LIMIT_PCT = 2.0
N_SETUPS = 3
# The end-to-end metrics the result line carries. Pass costs are CPU
# seconds: on a shared machine the wall times follow the host's CPU steal
# and spread 15 to 30 % between runs of the same code, the CPU seconds 2 to
# 5 %. The result file also has the wall times, op_p50_ms and the memory
# figures.
E2E_UNITS = {"setup_s": "s", "first_pass_cpu_s": "s", "repeat_pass_cpu_s": "s"}
PACKAGE = "streaming_data_pipeline_with_iceberg_and_spark_spark"


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat (user..steal)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def source_digest() -> str:
    """sha256 over the engine sources, so a result names the code it ran
    even in a checkout that is not a git repository."""
    h = hashlib.sha256()
    paths = sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True))
    for p in [os.path.join(ROOT, "__spark_entry__.py"), *paths]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    """HEAD of the checkout, when the checkout is itself a git repository."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except OSError:
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python driver process."""
    jvm_kb = 0
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def retained(spark) -> dict[str, float]:
    """Memory the driver holds after the measured passes, so that work moved
    into memos shows: the JVM's live heap after a full GC, and the Python
    driver's resident set."""
    jvm = spark.sparkContext._jvm
    # the first GC lets Spark's cleaner drop unreferenced shuffles and
    # broadcasts; the second frees them
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    with open("/proc/self/status") as f:
        rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return {
        "jvm_live_heap_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
        "python_rss_mb": rss_kb / 1024.0,
    }


def session(work: str, nproc: int, event_dir: str | None):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.session import get_spark

    # A fixed initial heap: left to grow on demand, the driver heap took a
    # different path on every run (peak RSS 1.5 to 3.9 GB for the same code)
    # and the GC work with it.
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Xms2g -Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, nproc: int) -> None:
    """Touch the JVM and start every Python worker; runs no workload query."""

    def ident(batches):
        yield from batches

    spark.range(0, nproc * 4, numPartitions=nproc).mapInArrow(ident, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def stop(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def latest_untraced(workload: str) -> dict | None:
    best = None
    for p in glob.glob(os.path.join(RESULTS, f"*-{workload}-trace0-*.json")):
        with open(p) as f:
            r = json.load(f)
        if r.get("correct") and (best is None or r["stamp"]["utc"] > best["stamp"]["utc"]):
            best = r
    return best


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    load1 = os.getloadavg()[0]
    steal0, total0 = cpu_times()
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    # every temporary file of this process, its JVM and its workers stays in
    # the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    sys.path.insert(1, ROOT)
    __import__(PACKAGE)  # fails here, before any output, outside a full checkout

    import numpy as np

    import layers
    import tracing
    import workloads

    wl = workloads.make(args.workload, work)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    event_dir = None
    if args.trace:
        event_dir = os.path.join(work, "eventlog")
        os.makedirs(event_dir)
    tracer = tracing.Tracer()

    spark = None
    setups = []
    for k in range(N_SETUPS):
        if spark is not None:
            spark.stop()  # the next set-up starts a new session in the same JVM
        with tracer.span(f"setup{k}", "setup") as s:
            with tracer.span("session", "session"):
                spark = session(work, nproc, event_dir)
            with tracer.span("warmup", "warmup"):
                warm_up(spark, nproc)
            with tracer.span("inputs", "inputs"):
                wl.prepare(args.seed)
        setups.append(s.end - (T0_EPOCH if k == 0 else s.start))

    if args.trace:
        tracer.sc = spark.sparkContext
        if isinstance(wl, workloads.StreamWorkload):
            wl.attach_listener(spark)
    rng = np.random.default_rng([args.seed, 0])
    try:
        wl.run(spark, tracer, rng, args.seconds)
    except Exception as e:  # counted as a failed run, reported below
        wl.fail(f"run aborted: {type(e).__name__}: {e}")
    tracer.sc = None
    t_ran = time.time()
    metrics = {"setup_s": statistics.median(setups)}
    if wl.n_passes >= 2:
        metrics.update(retained(spark))  # before the checks add their own
        try:
            wl.check(spark, tracer)
        except Exception as e:
            wl.fail(f"check aborted: {type(e).__name__}: {e}")
    else:
        wl.fail("fewer than two passes completed")
    t_checked = time.time()

    per_layer = ops = None
    if wl.n_passes >= 2:
        metrics.update(wl.end_to_end(tracer))
        stream = layers.stream_layers(wl, spark) if args.trace else {}
    metrics["peak_rss_mb"] = peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    stop(spark)
    steal1, total1 = cpu_times()
    # where the run's wall time went, for budgeting runs
    phases = {
        "setup_s": t_ran - T0_EPOCH - sum(wl.pass_walls(tracer)),
        "passes_s": sum(wl.pass_walls(tracer)),
        "check_s": t_checked - t_ran,
        "stop_s": time.time() - t_checked,
    }

    if args.trace and wl.n_passes >= 2:
        jobs, stages = tracing.parse_event_log(os.path.join(event_dir, app_id))
        tracing.attribute(tracer.spans, jobs, stages)
        per_layer, ops = layers.per_layer(wl, tracer.spans, jobs, stages, stream)

    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    failed = len(wl.failures)
    attempted = max(1, wl.attempted)
    result = {
        "workload": args.workload,
        "trace": args.trace,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "failures": wl.failures,
        "end_to_end": metrics,
        "failed_ratio": failed / attempted,
        "setup_samples_s": setups,
        "passes": wl.pass_walls(tracer),
        "phases": phases,
        "op_walls_s": wl.op_walls(tracer),
        "stamp": {
            "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "nproc": nproc,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "sf": workloads.SF,
            "seed": args.seed,
            "seconds": args.seconds,
            "git_sha": git_sha(),
            "source_sha256": source_digest(),
            "load1_before": load1,
            "steal_pct": steal_pct,
            "steal_limit_pct": STEAL_LIMIT_PCT,
            "clean_run": steal_pct <= STEAL_LIMIT_PCT,
        },
    }
    if isinstance(wl, workloads.StreamWorkload) and wl.n_passes >= 2:
        result["stream"] = wl.stream_summary(tracer)
    if per_layer is not None:
        result["per_layer"] = per_layer
        result["ops"] = {f"{p}/{op}": r for (p, op), r in sorted(ops.items())}
        base = latest_untraced(args.workload)
        if base:
            result["tracing_overhead"] = {
                k: (v - base["end_to_end"][k]) / base["end_to_end"][k]
                for k, v in metrics.items()
                if base["end_to_end"].get(k)
            }

    os.makedirs(RESULTS, exist_ok=True)
    name = (
        f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-{args.workload}-trace{args.trace}"
        f"-seed{args.seed}-c{nproc}-{os.getpid()}.json"
    )
    with open(os.path.join(RESULTS, name), "x") as f:
        json.dump(result, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for msg in wl.failures:
        print(f"FAIL {msg}")
    if not result["stamp"]["clean_run"]:
        print(f"note: steal {steal_pct:.2f}% exceeds {STEAL_LIMIT_PCT}%; figures may be inflated")
    if wl.n_passes >= 2:
        print(f"wall: first pass {metrics['first_pass_s']:.2f} s, repeat pass {metrics['repeat_pass_s']:.2f} s")
    if "stream" in result:
        print("stream: " + json.dumps(result["stream"]))
    if ops is not None:
        print(layers.format_ops(ops))
        over = result.get("tracing_overhead")
        print(
            "tracing overhead vs newest untraced run: "
            + (json.dumps(over) if over else "no untraced run of this workload on record")
        )
    print(f"result file: {os.path.relpath(os.path.join(RESULTS, name), ROOT)}")
    if args.trace:
        shown = per_layer or {}
        units = {k: u for k, (u, _, _) in layers.LAYER_MAP.items()}
    else:
        shown = {k: metrics[k] for k in E2E_UNITS} if wl.n_passes >= 2 else {}
        units = E2E_UNITS
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
            }
        ),
        flush=True,
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
