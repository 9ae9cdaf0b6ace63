"""Capture the event log that ``perfbench/test_tracing.py`` parses.

    python3 perfbench/testdata/capture_eventlog.py

Runs one real two-stage query (a ``mapInArrow`` stage feeding a shuffle,
then the aggregate's result stage) under the job group ``q/p0/agg/exec``
with a local[2] session, and writes the parts of its event log that
``tracing.parse_event_log`` reads to ``two_stage_mapinarrow.jsonl`` beside
this file. Properties other than the job group are dropped and call sites are
made relative to the checkout, so the file names no local path.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
OUT = os.path.join(HERE, "two_stage_mapinarrow.jsonl")
GROUP = "q/p0/agg/exec"
KEEP = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
}


def _plus_one(batches):
    import pyarrow.compute as pc

    for b in batches:
        yield b.set_column(0, "id", pc.add(b.column(0), 1))


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(dir=HERE)
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", work)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.setJobGroup(GROUP, "agg")
        (
            spark.range(0, 1000, numPartitions=2)
            .mapInArrow(_plus_one, "id long")
            .groupBy((F.col("id") % 3).alias("k"))
            .count()
            .collect()
        )
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.stop()
        (log,) = glob.glob(os.path.join(work, "*"))
        with open(log) as f, open(OUT, "w") as out:
            for line in f:
                ev = json.loads(line)
                if ev["Event"] not in KEEP:
                    continue
                props = ev.pop("Properties", None) or {}
                if "spark.jobGroup.id" in props:
                    ev["Properties"] = {"spark.jobGroup.id": props["spark.jobGroup.id"]}
                out.write(json.dumps(ev).replace(ROOT + os.sep, "") + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
