"""Row-level mutation queries: MERGE (upsert), UPDATE, DELETE with
copy-on-write semantics (SURVEY.md §2.1 S7).

The reference's Iceberg table declares copy-on-write delete/update/merge
modes (/root/reference/spark-data-pipeline/spark_job.py:50-52) without ever
issuing a row-level op. These queries exercise the declared capability
end-to-end through ``SnapshotTable.merge`` / ``update_where`` /
``delete_where``: each commits a table to a scratch snapshot table, applies
the mutation, and returns the resulting table so the DuckDB oracle can verify
the *semantics* (upsert = source ∪ anti-joined target; update = CASE
projection; delete = negated filter).

Determinism notes: the update expressions avoid ROUND (banker's-vs-half-up
divergence between engines) — additive/constant mutations only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, session_scratch_dir
from ..sources.snapshots import SnapshotTable

_ORDERS_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert into orders: urgent orders get a surcharge (matched → update),
    every 1000th orderkey is re-inserted under a shifted key as a new 'N'
    order (not matched → insert). Returns the merged table."""
    orders = load(spark, "orders", sf_dir).select(*_ORDERS_COLS)
    t = SnapshotTable(spark, session_scratch_dir(spark, "spark_graft_cow_"))
    t.append(orders)
    updates = orders.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
    )
    inserts = (
        orders.filter(F.col("o_orderkey") % 1000 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(100000000))
        .withColumn("o_orderstatus", F.lit("N"))
    )
    src = updates.unionByName(inserts).select(*_ORDERS_COLS)
    if not src.isEmpty():  # merge refuses an empty source
        t.merge(src, "o_orderkey")
    return t.read().select(*_ORDERS_COLS)


MERGE_UPSERT_SQL = """
WITH src AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, 'N',
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 1000 = 0
)
SELECT * FROM src
UNION ALL
SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
       o.o_orderdate, o.o_orderpriority
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = o.o_orderkey)
"""


def delete_update_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE finished ('F') orders, then UPDATE high-priority survivors with
    a handling fee — two sequential CoW mutations; returns the final table."""
    orders = load(spark, "orders", sf_dir).select(*_ORDERS_COLS)
    t = SnapshotTable(spark, session_scratch_dir(spark, "spark_graft_cow_"))
    t.append(orders)
    t.delete_where("o_orderstatus", "F", "F")
    t.update_where(
        "o_orderpriority", "2-HIGH", "2-HIGH", {"o_totalprice": "o_totalprice + 5.0"}
    )
    return t.read().select(*_ORDERS_COLS)


DELETE_UPDATE_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice + 5.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
WHERE NOT (o_orderstatus = 'F')
"""


def snapshot_time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot layer end-to-end with an exact oracle: commit orders to a
    versioned table, run a CoW range DELETE as v2, then TIME TRAVEL back to
    v1 — the returned frame must be byte-equivalent to the original orders
    even though the current version no longer contains the deleted rows
    (sources/snapshots.py; Iceberg's ``VERSION AS OF``)."""
    orders = load(spark, "orders", sf_dir).select(*_ORDERS_COLS)
    t = SnapshotTable(spark, session_scratch_dir(spark, "spark_graft_tt_"))
    v1 = t.append(orders)
    t.delete_where("o_orderkey", 100, 5000, mode="cow")
    return t.read(version=v1).select(*_ORDERS_COLS)


SNAPSHOT_TIME_TRAVEL_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
"""


def snapshot_changelog_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between snapshot versions, oracle-checked: v1 = orders,
    v2 appends every 97th order under a shifted key, v3 CoW-deletes keys in
    [100, 5000]. ``changelog(v1, v3)`` must emit exactly the appended rows
    as inserts and the deleted originals as deletes (the shifted keys sit
    above the delete range, so the two changes never overlap)."""
    orders = load(spark, "orders", sf_dir).select(*_ORDERS_COLS)
    t = SnapshotTable(spark, session_scratch_dir(spark, "spark_graft_cl_"))
    v1 = t.append(orders)
    t.append(
        orders.filter(F.col("o_orderkey") % 97 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
        )
    )
    v3 = t.delete_where("o_orderkey", 100, 5000, mode="cow")
    return t.changelog(v1, v3).select("o_orderkey", "o_totalprice", "_change_type")


SNAPSHOT_CHANGELOG_SQL = """
SELECT o_orderkey + 100000000 AS o_orderkey, o_totalprice,
       'insert' AS _change_type
FROM orders WHERE o_orderkey % 97 = 0
UNION ALL
SELECT o_orderkey, o_totalprice, 'delete' AS _change_type
FROM orders WHERE o_orderkey BETWEEN 100 AND 5000
"""


def snapshot_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom file-skipping end-to-end with an exact oracle: orders committed
    as four interleaved slices (split on o_custkey, so every file's
    o_orderkey [min,max] spans nearly the whole key space and min/max
    pruning keeps everything), then an IN-set point lookup through
    `read_where_in` — the sidecar blooms prune the non-matching files; the
    surviving rows must equal DuckDB's plain IN scan. One probe key is
    absent, exercising the all-pruned path."""
    orders = load(spark, "orders", sf_dir).select(*_ORDERS_COLS)
    t = SnapshotTable(
        spark,
        session_scratch_dir(spark, "spark_graft_bl_"),
        bloom_cols=["o_orderkey"],
    )
    for i in range(4):
        t.append(orders.filter(F.col("o_custkey") % 4 == i))
    keys = [1, 777, 4242, 9999, 123456789]
    return t.read_where_in("o_orderkey", keys).select(*_ORDERS_COLS)


SNAPSHOT_BLOOM_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
WHERE o_orderkey IN (1, 777, 4242, 9999, 123456789)
"""


def snapshot_schema_evolution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only rename/drop evolution with an exact oracle: commit
    orders, RENAME o_totalprice → price and DROP o_orderpriority (no data
    file rewritten), append post-evolution rows under the new schema, and
    read — old-epoch files must surface under the new names, the dropped
    column must be gone, and values must match DuckDB computing the same
    final relation directly."""
    orders = load(spark, "orders", sf_dir).select(*_ORDERS_COLS)
    t = SnapshotTable(spark, session_scratch_dir(spark, "spark_graft_se_"))
    t.append(orders)
    t.rename_column("o_totalprice", "price")
    t.drop_column("o_orderpriority")
    late = (
        orders.filter(F.col("o_orderkey") % 500 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(100000000))
        .withColumnRenamed("o_totalprice", "price")
        .drop("o_orderpriority")
    )
    t.append(late)
    return t.read().select(
        "o_orderkey", "o_custkey", "o_orderstatus", "price", "o_orderdate"
    )


SNAPSHOT_SCHEMA_EVOLUTION_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS price, o_orderdate
FROM orders
UNION ALL
SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
       o_totalprice AS price, o_orderdate
FROM orders WHERE o_orderkey % 500 = 0
"""


def snapshot_update_constrained_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CoW UPDATE under an active CHECK constraint, oracle-checked: commit
    orders, add a price-nonnegativity constraint (validating existing
    data), then `update_where` adds a surcharge to a key range — only the
    files whose manifest range intersects the keys are rewritten, the
    constraint validates the rewrite before it becomes visible, and the
    result must match DuckDB's CASE projection."""
    orders = load(spark, "orders", sf_dir).select(*_ORDERS_COLS)
    t = SnapshotTable(spark, session_scratch_dir(spark, "spark_graft_uc_"))
    t.append(orders)
    t.add_constraint("price_nonneg", "o_totalprice >= 0")
    t.update_where("o_orderkey", 1000, 3000, {"o_totalprice": "o_totalprice + 25.0"})
    return t.read().select(*_ORDERS_COLS)


SNAPSHOT_UPDATE_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey BETWEEN 1000 AND 3000
            THEN o_totalprice + 25.0 ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
"""


def snapshot_positional_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional merge-on-read delete with an exact oracle: rows matching
    a predicate no range/key column maps to (status+price conjunction) are
    recorded as (file, row-position) pairs — no data rewritten — and the
    read-back must equal DuckDB's negated filter."""
    orders = load(spark, "orders", sf_dir).select(*_ORDERS_COLS)
    t = SnapshotTable(spark, session_scratch_dir(spark, "spark_graft_pd_"))
    t.append(orders)
    t.delete_where_positional("o_orderstatus = 'O' AND o_totalprice > 50000")
    return t.read().select(*_ORDERS_COLS)


SNAPSHOT_POSITIONAL_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
WHERE NOT (o_orderstatus = 'O' AND o_totalprice > 50000)
"""


QUERIES = {
    "merge_upsert_orders": merge_upsert_orders,
    "delete_update_orders": delete_update_orders,
    "snapshot_time_travel_orders": snapshot_time_travel_orders,
    "snapshot_changelog_orders": snapshot_changelog_orders,
    "snapshot_bloom_point_lookup": snapshot_bloom_point_lookup,
    "snapshot_schema_evolution_orders": snapshot_schema_evolution_orders,
    "snapshot_update_constrained_orders": snapshot_update_constrained_orders,
    "snapshot_positional_delete_orders": snapshot_positional_delete_orders,
}

ORACLES = {
    "merge_upsert_orders": MERGE_UPSERT_SQL,
    "delete_update_orders": DELETE_UPDATE_SQL,
    "snapshot_time_travel_orders": SNAPSHOT_TIME_TRAVEL_SQL,
    "snapshot_changelog_orders": SNAPSHOT_CHANGELOG_SQL,
    "snapshot_bloom_point_lookup": SNAPSHOT_BLOOM_SQL,
    "snapshot_schema_evolution_orders": SNAPSHOT_SCHEMA_EVOLUTION_SQL,
    "snapshot_update_constrained_orders": SNAPSHOT_UPDATE_SQL,
    "snapshot_positional_delete_orders": SNAPSHOT_POSITIONAL_SQL,
}
