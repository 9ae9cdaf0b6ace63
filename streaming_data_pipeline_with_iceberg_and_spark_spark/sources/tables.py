"""Bucketed session-catalog tables — the one layout ``SnapshotTable`` does not own.

Every versioned table write goes through ``sources.snapshots.SnapshotTable``.
Bucketing is different: Spark only honours bucket metadata through the
session catalog (a bare ``read.parquet`` forgets it), so a bucketed layout
has to be an external catalog table rather than a snapshot table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> str:
    """(Re)create catalog table ``name`` (``db.table`` or ``table``) at
    ``path``, pre-shuffled into ``n_buckets`` by ``bucket_cols`` at write
    time, so every later equi-join or groupBy on the bucket key between
    same-bucketed tables reads shuffle-free — the pay-once-join-many layout
    for 100 TB fact⋈fact joins. Returns ``name``."""
    db, _, _ = name.rpartition(".")
    if db:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    writer = (
        df.write.format("parquet")
        .option("compression", "snappy")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.mode("overwrite").saveAsTable(name)
    return name
