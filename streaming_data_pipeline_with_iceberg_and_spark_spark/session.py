"""SparkSession factory.

Mirrors the intent of the reference's ``create_spark_session``
(/root/reference/spark-data-pipeline/spark_job.py:126-145: Iceberg runtime
jars + a ``glue`` catalog) but built for local-first development with a
cluster-ready configuration surface:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- ``spark.sql.shuffle.partitions`` sized for the local core count; on a real
  cluster this is overridden by AQE coalescing + initial partition num.
- UTC session timezone so event-time semantics are deployment-independent.
- Arrow enabled for the Pandas-UDF slow path.
- A codegen class cache sized to the engine's working set: Spark keeps 100
  generated classes by default, while all 286 registry queries run once in
  one session compile 3,650 (sf0.01). ``CODEGEN_CACHE_ENTRIES`` keeps
  5,000, and class names carry no AQE stage id, so a warm session reuses
  its generated code instead of recompiling it on every pass.

No Iceberg catalog is configured: the engine's table layer is
``sources.snapshots.SnapshotTable``, which re-expresses Iceberg's snapshot
commits on plain parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# AQE converts a shuffle join to broadcast below this exact runtime size
ADAPTIVE_BROADCAST_BYTES = 32 * 1024 * 1024
# Generated classes the JVM keeps; Spark's default of 100 evicted most of
# what a warm pass had compiled before
CODEGEN_CACHE_ENTRIES = 5000


def get_spark(
    app_name: str = "spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = master or (f"local[{cpus}]" if cpus else "local[*]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Static auto-broadcast is OFF; broadcasts happen only via explicit
        # F.broadcast hints (used where boundedness is proven: dims, capped
        # query sets, clamped centroids) or AQE's runtime conversion below.
        # Rationale (measured, round 6 scale proof): Catalyst's static size
        # estimates do not model Generate/explode blowup, and at 100x data it
        # chose to broadcast a 113M-row candidate-pair aggregate (~4.5 GiB)
        # in the Jaccard pipeline, OOMing the driver. AQE converts
        # shuffle joins to broadcast from EXACT post-shuffle sizes instead.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(ADAPTIVE_BROADCAST_BYTES),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        # INT64 micros instead of legacy INT96: INT96 carries no parquet
        # min/max statistics, which would blind manifest-level file skipping
        # (snapshots.read_where) and row-group skipping on every timestamp
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # escape hatch for TIMESTAMP(NANOS) parquet inputs (unreadable as a
        # Spark timestamp): io.load sniffs the footer unit and only for nanos
        # files reads ts as long + converts to µs. No effect on micros files.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # all 286 registry queries compile 3,650 classes (sf0.01): 37 % headroom
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # the same pipeline compiles to the same class whatever stage id AQE
        # numbered it with: the id depends on which query stage finished
        # first, and in the class name it made a warm pass recompile
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
