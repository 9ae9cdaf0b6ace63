#!/usr/bin/env python
"""Ingest-throughput benchmark vs the reference pipeline's envelope.

The reference is an INGEST pipeline (Kinesis → Firehose → S3 NDJSON →
SQS-poll micro-batch → Iceberg commit) whose published facts bound it to
≤10 files × ≤5 MB per micro-batch with a ≥10 s inter-batch sleep — an
architectural ceiling of ~5 MB/s (~50 MB per ≥10 s cycle) regardless of
hardware (see BASELINE.md "Derived envelope"). This tool measures the
engine's equivalent path end-to-end on local NDJSON:

- generates N files × M GPS-shaped records (the reference producer's
  schema, producer/gps-tracking-simulation.py:37-47);
- drains them through ``start_snapshot_ingest`` (one snapshot commit per
  micro-batch — the Iceberg-commit-per-poll re-expression) with the
  reference's ``maxFilesPerTrigger=10`` cap;
- reports wall-clock drain time, rows/s and MB/s as one JSON line.

Usage::

    python tools/ingestbench.py [--files 40] [--rows 25000] [--out /tmp/ingestbench]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _gen_files(out_dir: str, n_files: int, rows_per_file: int) -> int:
    os.makedirs(out_dir, exist_ok=True)
    total_bytes = 0
    for i in range(n_files):
        path = os.path.join(out_dir, f"batch-{i:05d}.json")
        with open(path, "w") as f:
            for j in range(rows_per_file):
                rid = i * rows_per_file + j
                rec = {
                    "vehicle_id": f"veh{rid % 5000:05d}",
                    "latitude": 12.0 + (rid % 1000) * 1e-4,
                    "longitude": -45.0 - (rid % 1000) * 1e-4,
                    "speed_kmh": float(rid % 140),
                    "direction": ("N", "NE", "E", "SE", "S", "SW", "W", "NW")[
                        rid % 8
                    ],
                    "fuel_level": None if rid % 7 == 0 else 40.0 + rid % 60,
                    "battery_level": 50.0 + rid % 50,
                    "seat_belt_status": "Fastened" if rid % 11 else "Unfastened",
                    "collision_detected": rid % 997 == 0,
                    "sudden_braking": rid % 53 == 0,
                    "timestamp": f"2024-01-01 {10 + (rid // 3600) % 12:02d}:"
                    f"{(rid // 60) % 60:02d}:{rid % 60:02d}",
                }
                f.write(json.dumps(rec) + "\n")
        total_bytes += os.path.getsize(path)
    return total_bytes


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=40)
    ap.add_argument("--rows", type=int, default=25000)
    ap.add_argument("--out", default="/tmp/ingestbench")
    args = ap.parse_args()

    from streaming_data_pipeline_with_iceberg_and_spark_spark.session import get_spark
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_snapshot_ingest,
    )

    spark = get_spark("ingestbench")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(args.out, ignore_errors=True)
    src = os.path.join(args.out, "in")
    n_bytes = _gen_files(src, args.files, args.rows)
    n_rows = args.files * args.rows

    root = os.path.join(args.out, "snap")
    t0 = time.perf_counter()
    q = start_snapshot_ingest(
        spark,
        src,
        root,
        checkpoint_dir=os.path.join(args.out, "ckpt_snap"),
        max_files_per_trigger=10,
    )
    q.awaitTermination()
    dt = time.perf_counter() - t0
    table = SnapshotTable(spark, root)
    got = table.read().count()
    assert got == n_rows, (got, n_rows)

    print(
        json.dumps(
            {
                "rows": n_rows,
                "files": args.files,
                "input_mb": round(n_bytes / 1e6, 1),
                "max_files_per_trigger": 10,
                "reference_envelope_mb_per_s": 5.0,
                "snapshot": {
                    "sec": round(dt, 2),
                    "rows_per_s": round(n_rows / dt),
                    "mb_per_s": round(n_bytes / dt / 1e6, 1),
                    "versions": table.current_version(),
                },
            }
        ),
        flush=True,
    )
    shutil.rmtree(args.out, ignore_errors=True)


if __name__ == "__main__":
    main()
