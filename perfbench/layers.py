"""Per-layer metrics of a traced run, and the per-operation diagnostics.

Every stage and job in the event log has been hung on a benchmark span
(``tracing.attribute``); each span carries the pass and the operation it
belongs to. Engine metrics are per repeat pass (the median over repeat
passes); the memo metrics compare the first pass with the repeat passes.
"""

from __future__ import annotations

import os
from collections import defaultdict

from tracing import Span, clip, union_length
from workloads import StreamWorkload, Workload, mean, median

# Layer metric -> (unit, better, the end-to-end metric it should move, and
# where). A layer that moves a pass's CPU seconds moves its wall time
# (first_pass_s, repeat_pass_s) too. batch_p50_ms and the other
# stream-ingest figures are the "stream" block of a stream-ingest result.
LAYER_MAP = {
    "session.start_s": ("s", "lower", "setup_s, all workloads"),
    "operators.build_s": ("s", "lower", "first_pass_cpu_s/repeat_pass_cpu_s on olap-sql (driver-bound) and llm-curation (eager checkpoints)"),
    "operators.build_jobs": ("count", "lower", "first_pass_cpu_s/repeat_pass_cpu_s on olap-sql and llm-curation"),
    "operators.memo_jobs_saved": ("count", "higher", "first_pass_cpu_s vs repeat_pass_cpu_s on llm-curation; ~0 on olap-sql"),
    "operators.memo_saved_s": ("s", "higher", "first_pass_cpu_s vs repeat_pass_cpu_s on llm-curation; ~0 on olap-sql"),
    "functions.python_stage_run_s": ("s", "lower", "repeat_pass_cpu_s on llm-curation; ~0 on olap-sql"),
    "functions.python_stage_share": ("ratio", "lower", "repeat_pass_cpu_s on llm-curation; ~0 on olap-sql"),
    "io.input_bytes": ("bytes", "lower", "repeat_pass_cpu_s on olap-sql"),
    "io.input_rows": ("rows", "lower", "repeat_pass_cpu_s on olap-sql"),
    "spark.jobs": ("count", "lower", "repeat_pass_cpu_s on olap-sql, and on llm-curation for the non-Python share"),
    "spark.stages": ("count", "lower", "repeat_pass_cpu_s on olap-sql, and on llm-curation for the non-Python share"),
    "spark.tasks": ("count", "lower", "repeat_pass_cpu_s on olap-sql, and on llm-curation for the non-Python share"),
    "spark.task_run_s": ("s", "lower", "repeat_pass_cpu_s on olap-sql, and on llm-curation for the non-Python share"),
    "spark.task_cpu_s": ("s", "lower", "repeat_pass_cpu_s on olap-sql, and on llm-curation for the non-Python share"),
    "spark.gc_s": ("s", "lower", "repeat_pass_cpu_s and peak_rss_mb on olap-sql and llm-curation"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "repeat_pass_cpu_s on olap-sql, and on llm-curation for the non-Python share"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "repeat_pass_cpu_s on olap-sql, and on llm-curation for the non-Python share"),
    "spark.spill_bytes": ("bytes", "lower", "repeat_pass_cpu_s on olap-sql, and on llm-curation for the non-Python share"),
    "spark.stage_wall_s": ("s", "lower", "repeat_pass_cpu_s on olap-sql, and on llm-curation for the non-Python share"),
    "driver.self_s": ("s", "lower", "repeat_pass_cpu_s (and op_p50_ms), mostly olap-sql"),
    "sources.ndjson.latest_offset_ms": ("ms", "lower", "repeat_pass_cpu_s on stream-ingest, via batch_p50_ms and append_rows_per_s"),
    "sources.ndjson.get_batch_ms": ("ms", "lower", "repeat_pass_cpu_s on stream-ingest, via batch_p50_ms and append_rows_per_s"),
    "streaming.ingest.add_batch_ms": ("ms", "lower", "repeat_pass_cpu_s on stream-ingest, via batch_p50_ms/batch_p90_ms, append_rows_per_s, fanout_rows_per_s"),
    "streaming.ingest.wal_commit_ms": ("ms", "lower", "repeat_pass_cpu_s on stream-ingest, via batch_p50_ms/batch_p90_ms, append_rows_per_s, fanout_rows_per_s"),
    "streaming.ingest.triggers": ("count", "lower", "repeat_pass_cpu_s on stream-ingest, via append_rows_per_s and fanout_rows_per_s"),
    "streaming.ingest.replay_skips": ("count", "lower", "correctness of stream-ingest: exactly 1 per pass"),
    "sources.snapshots.commits": ("count", "lower", "repeat_pass_cpu_s on stream-ingest, via batch_p90_ms and fanout_rows_per_s"),
    "sources.snapshots.meta_bytes": ("bytes", "lower", "repeat_pass_cpu_s on stream-ingest, via batch_p90_ms: the JSON log is re-read per commit"),
    "sources.snapshots.commit_growth": ("ratio", "lower", "repeat_pass_cpu_s on stream-ingest, via batch_p90_ms as history grows"),
    "sources.snapshots.fanout_batch_ms": ("ms", "lower", "repeat_pass_cpu_s on stream-ingest, via fanout_rows_per_s"),
    "sources.snapshots.read_files_ratio": ("ratio", "lower", "repeat_pass_cpu_s on stream-ingest, via read_p50_ms/read_p90_ms"),
}


def _pass_no(spans: list[Span], x) -> int | None:
    return None if x.span is None else spans[x.span].attrs.get("pass_no")


def _engine(spans, jobs, stages, p: int) -> dict[str, float]:
    st = [s for s in stages if _pass_no(spans, s) == p]
    jb = [j for j in jobs if _pass_no(spans, j) == p]
    iv = [(s.submit, s.complete) for s in st]
    pass_span = next(s for s in spans if s.kind == "pass" and s.attrs["pass_no"] == p)
    execs = [s for s in spans if s.kind == "exec" and s.attrs.get("pass_no") == p]
    run = sum(s.run_s for s in st)
    py = sum(s.run_s for s in st if s.python)
    return {
        "operators.build_s": sum(
            s.dur for s in spans if s.kind == "build" and s.attrs.get("pass_no") == p
        ),
        "operators.build_jobs": sum(1 for j in jb if spans[j.span].kind == "build"),
        "functions.python_stage_run_s": py,
        "functions.python_stage_share": py / run if run else 0.0,
        "io.input_bytes": sum(s.input_bytes for s in st),
        "io.input_rows": sum(s.input_rows for s in st),
        "spark.jobs": len(jb),
        "spark.stages": len(st),
        "spark.tasks": sum(s.tasks for s in st),
        "spark.task_run_s": run,
        "spark.task_cpu_s": sum(s.cpu_s for s in st),
        "spark.gc_s": sum(s.gc_s for s in st),
        "spark.shuffle_read_bytes": sum(s.shuffle_read for s in st),
        "spark.shuffle_write_bytes": sum(s.shuffle_write for s in st),
        "spark.spill_bytes": sum(s.spill for s in st),
        "spark.stage_wall_s": union_length(clip(iv, pass_span.start, pass_span.end)),
        "driver.self_s": sum(e.dur - union_length(clip(iv, e.start, e.end)) for e in execs),
    }


def _op_rows(spans, jobs, stages) -> dict[tuple[int, str], dict]:
    """Per (pass, operation): wall time and its split over the layers."""
    rows: dict[tuple[int, str], dict] = {}
    by_op = defaultdict(list)
    for s in stages:
        if s.span is not None and "op" in spans[s.span].attrs:
            a = spans[s.span].attrs
            by_op[(a.get("pass_no"), a["op"])].append(s)
    n_jobs = defaultdict(int)
    for j in jobs:
        if j.span is not None and "op" in spans[j.span].attrs:
            a = spans[j.span].attrs
            n_jobs[(a.get("pass_no"), a["op"])] += 1
    for sp in spans:
        a = sp.attrs
        # an operation's own span: a query, a drain or a read
        if sp.parent is None or spans[sp.parent].kind != "pass":
            continue
        key = (a["pass_no"], a["op"])
        st = by_op[key]
        iv = clip([(s.submit, s.complete) for s in st], sp.start, sp.end)
        engine = union_length(iv)
        run = sum(s.run_s for s in st)
        py_share = sum(s.run_s for s in st if s.python) / run if run else 0.0
        build = sum(
            c.dur for c in spans if c.kind == "build" and c.attrs.get("op") == a["op"]
            and c.attrs.get("pass_no") == a["pass_no"]
        )
        split = {
            "driver": sp.dur - engine,
            "spark": engine * (1 - py_share),
            "functions": engine * py_share,
        }
        rows[key] = {
            "wall_s": sp.dur,
            "build_s": build,
            "jobs": n_jobs[key],
            "stages": len(st),
            "tasks": sum(s.tasks for s in st),
            "task_run_s": run,
            "python_share": py_share,
            "stage_wall_s": engine,
            "driver_self_s": split["driver"],
            "layer": max(split, key=split.get),
        }
    return rows


def _stream_layers(wl: StreamWorkload, spark) -> dict[str, float]:
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )

    per_pass = []
    for p in range(1, wl.n_passes):
        f = wl.passes[p]
        app = f["progress"]["append"]
        add = [e.durationMs.get("addBatch", 0) for e in app]
        k = max(2, len(add) // 10)
        root = f["root"]
        versions = sum(
            SnapshotTable(spark, os.path.join(root, t)).current_version() or 0
            for t in ("append", "facts", "rollup")
        )
        table = SnapshotTable(spark, os.path.join(root, "append"))
        n_files = len(table.read().inputFiles())
        ratios = [
            len(table.read_where("timestamp", r[1], r[2]).inputFiles()) / n_files
            for r, _ in f["reads"]
            if r[0] == "range"
        ]
        meta = os.path.join(root, "append", "metadata")
        per_pass.append(
            {
                "sources.ndjson.latest_offset_ms": mean(e.durationMs.get("latestOffset", 0) for e in app),
                "sources.ndjson.get_batch_ms": mean(e.durationMs.get("getBatch", 0) for e in app),
                "streaming.ingest.add_batch_ms": mean(add),
                "streaming.ingest.wal_commit_ms": mean(
                    e.durationMs.get("walCommit", 0) + e.durationMs.get("commitOffsets", 0)
                    for e in app
                ),
                "streaming.ingest.triggers": sum(len(v) for v in f["progress"].values()),
                "streaming.ingest.replay_skips": wl.replay_skips(p),
                "sources.snapshots.commits": versions,
                "sources.snapshots.meta_bytes": sum(
                    os.path.getsize(os.path.join(meta, n)) for n in os.listdir(meta)
                ),
                "sources.snapshots.commit_growth": median(add[-k:]) / max(median(add[:k]), 1e-9),
                "sources.snapshots.fanout_batch_ms": mean(
                    e.durationMs["triggerExecution"] for e in f["progress"].get("fanout", [])
                ),
                "sources.snapshots.read_files_ratio": median(ratios),
            }
        )
    return {k: median(d[k] for d in per_pass) for k in per_pass[0]}


def stream_layers(wl: Workload, spark) -> dict[str, float]:
    """The stream-layer metrics; zero on the query workloads, which never
    touch these layers. Needs the live session (reads table metadata)."""
    if isinstance(wl, StreamWorkload):
        return _stream_layers(wl, spark)
    return {k: 0.0 for k in LAYER_MAP if k.startswith(("sources.", "streaming."))}


def per_layer(wl: Workload, spans, jobs, stages, stream: dict) -> tuple[dict, dict]:
    """All per-layer metrics, and the per-operation table."""
    repeat = [_engine(spans, jobs, stages, p) for p in range(1, wl.n_passes)]
    out = {k: median(d[k] for d in repeat) for k in repeat[0]}
    first = _engine(spans, jobs, stages, 0)
    ops = _op_rows(spans, jobs, stages)
    saved_s = 0.0
    for (p, op), r in ops.items():
        if p != 0:
            continue
        later = [ops[(q, op)] for q in range(1, wl.n_passes) if (q, op) in ops]
        if later and r["jobs"] > median(x["jobs"] for x in later):
            saved_s += r["wall_s"] - median(x["wall_s"] for x in later)
    out["operators.memo_jobs_saved"] = first["spark.jobs"] - out["spark.jobs"]
    out["operators.memo_saved_s"] = saved_s
    out["session.start_s"] = median(s.dur for s in spans if s.kind == "session")
    out.update(stream)
    return {k: out[k] for k in LAYER_MAP}, ops


def format_ops(ops: dict) -> str:
    head = (
        f"{'pass':>4} {'operation':<28} {'wall_s':>7} {'build_s':>7} {'jobs':>4} "
        f"{'stages':>6} {'tasks':>5} {'stage_s':>7} {'driver_s':>8} {'py_share':>8}  layer"
    )
    lines = [head]
    for (p, op), r in sorted(ops.items()):
        lines.append(
            f"{p:>4} {op:<28} {r['wall_s']:7.3f} {r['build_s']:7.3f} {r['jobs']:4d} "
            f"{r['stages']:6d} {r['tasks']:5d} {r['stage_wall_s']:7.3f} "
            f"{r['driver_self_s']:8.3f} {r['python_share']:8.3f}  {r['layer']}"
        )
    return "\n".join(lines)
