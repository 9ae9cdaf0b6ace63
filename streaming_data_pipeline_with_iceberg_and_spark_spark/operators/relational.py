"""Core relational queries: scan -> filter -> join -> aggregate -> sort.

The reference's only query is one enrichment projection over a temp view
(/root/reference/spark-data-pipeline/spark_job.py:156-164). This module is the
generalized relational surface (SURVEY.md §2.2-2.4, §2.6) over the testdata
star schema, TPC-H-flavored so plans exercise the optimizer paths that matter
at 100 TB: predicate pushdown to the parquet scan, partial aggregation,
broadcast vs sort-merge join selection, ordered-limit (TakeOrderedAndProject).

Scale notes:
- lineitem/orders are the fact tables -> sort-merge join on the shuffled key;
  AQE converts to broadcast when the filtered side collapses below threshold.
- region/nation are fixed-cardinality dims -> explicit ``F.broadcast``.
- Aggregations rely on Spark's automatic partial (map-side) aggregation; no
  ``repartition`` calls that would force extra shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation with derived measures.

    Filter is pushed to the parquet scan; aggregation is two-phase hash agg.
    """
    li = load(spark, "lineitem", sf_dir)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def lineitem_pricing_cells(li: DataFrame) -> DataFrame:
    """Integer pricing partials per (l_returnflag, l_linestatus) — the
    leaf pass of the TWENTIETH incremental path (Q1's pricing dashboard
    served from maintained state).  Money enters as EXACT integers
    (extendedprice → cents, discount/tax → basis points; TPC-H money
    carries two decimals and quantity is integer-valued, so the ROUNDs
    recover the exact ledger values), the disc-price and charge
    numerators are integer products summed as decimal(38, 0) —
    overflow-safe past 10¹¹ rows — and therefore per-batch partials
    merge by addition EXACTLY (the mergeable-sums class; no float
    accumulation order to diverge on).  The serve face divides once per
    group at read time. ``start_cells_ingest`` streams it."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")
    disc_bp = F.round(F.col("l_discount") * 10000).cast("long")
    tax_bp = F.round(F.col("l_tax") * 10000).cast("long")
    disc_num = (cents * (10000 - disc_bp)).cast("decimal(38,0)")
    charge_num = disc_num * (10000 + tax_bp).cast("decimal(38,0)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .select(
            "l_returnflag",
            "l_linestatus",
            qty.alias("q"),
            cents.alias("c"),
            disc_bp.alias("d"),
            disc_num.alias("dn"),
            charge_num.alias("cn"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("q").alias("sum_qty_i"),
            F.sum("c").alias("sum_base_cents"),
            F.sum("dn").alias("sum_disc_num"),
            F.sum("cn").alias("sum_charge_num"),
            F.sum("d").alias("sum_disc_bp"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def merge_pricing_cells(state: DataFrame) -> DataFrame:
    """Collapse appended per-batch pricing partials to one row per
    (flag, status) — the serve-side merge (and the ``merge``
    ``streaming.ingest.compact`` folds the maintained table with)."""
    return state.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("sum_qty_i").alias("sum_qty_i"),
        F.sum("sum_base_cents").alias("sum_base_cents"),
        F.sum("sum_disc_num").alias("sum_disc_num"),
        F.sum("sum_charge_num").alias("sum_charge_num"),
        F.sum("sum_disc_bp").alias("sum_disc_bp"),
        F.sum("n").alias("n"),
    )


def q1_from_pricing_cells(state: DataFrame) -> DataFrame:
    """Serve TPC-H Q1 from the maintained pricing cells —
    ``q1_from_pricing_cells(cells) ≡ q1_pricing_summary`` over
    everything ingested (parity-tested on the rounded report).  All
    sums arrive as exact integers; every double is produced by ONE
    division at read time over the ≤|flag×status| metadata rows, so
    the maintained face cannot drift with batch splits (the batch
    face's double accumulation is the less exact of the two).

    Rounding stays in INTEGER space for the decimal(38,0) numerators:
    ROUND(dn/10^k, 2) = ((dn + 10^(k-2)/2) div 10^(k-2)) / 100.0 —
    half-up on non-negative exact integers, so no double cast touches
    the numerator and the result is exact out to the full decimal(38,0)
    range (a plain cast loses integer precision past 2^53, reached
    within the documented 10^11-row envelope).  The avg columns divide
    LONG numerators by n before any rounding; those are exact to 2^53
    cents (≈ 9·10^16 dollars), an order beyond the envelope's mass."""
    m = merge_pricing_cells(state)
    n = F.col("n")
    disc_cents = F.expr(
        "(sum_disc_num + 5000) div 10000"
    )  # dn is dollars·10^-6; half-up to cents in integer space
    charge_cents = F.expr("(sum_charge_num + 50000000) div 100000000")
    return m.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("sum_qty_i").cast("double"), 2).alias("sum_qty"),
        F.round(F.col("sum_base_cents") / 100.0, 2).alias("sum_base_price"),
        F.round(disc_cents / 100.0, 2).alias("sum_disc_price"),
        F.round(charge_cents / 100.0, 2).alias("sum_charge"),
        F.round(F.col("sum_qty_i") / n, 6).alias("avg_qty"),
        F.round(F.col("sum_base_cents") / (100.0 * n), 6).alias("avg_price"),
        F.round(F.col("sum_disc_bp") / (10000.0 * n), 6).alias("avg_disc"),
        n.alias("count_order"),
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                                            AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                                       AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                    AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)      AS sum_charge,
       ROUND(AVG(l_quantity), 6)                                            AS avg_qty,
       ROUND(AVG(l_extendedprice), 6)                                       AS avg_price,
       ROUND(AVG(l_discount), 6)                                            AS avg_disc,
       COUNT(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, grouped revenue, deterministic top-10."""
    cust = load(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1996-01-01")
    )
    li = load(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1996-01-01")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1996-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# Q5's pinned order-date window — shared by the batch face and the
# TWENTY-FIRST incremental path's ingest filter (one definition, no drift).
_Q5_DATE_LO = "1995-01-01"
_Q5_DATE_HI = "1997-01-01"


def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: revenue by nation — star join over all 5 relational tables.

    region/nation broadcast (fixed cardinality at any SF); customer joins via
    shuffle; orders⋈lineitem is the fact-fact sort-merge join.
    """
    region = F.broadcast(load(spark, "region", sf_dir))
    nation = F.broadcast(load(spark, "nation", sf_dir))
    cust = load(spark, "customer", sf_dir)
    orders = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit(_Q5_DATE_LO))
        & (F.col("o_orderdate") < F.lit(_Q5_DATE_HI))
    )
    li = load(spark, "lineitem", sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_SQL = """
SELECT r_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY r_name, n_name
ORDER BY revenue DESC, n_name ASC
"""


def customer_nation_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c_custkey → (n_name, r_name) dimension for the TWENTY-FIRST
    incremental path — customer ⋈ nation ⋈ region collapsed once; fixed
    nation/region cardinality keeps it broadcastable at any SF."""
    nation = F.broadcast(load(spark, "nation", sf_dir))
    region = F.broadcast(load(spark, "region", sf_dir))
    return (
        load(spark, "customer", sf_dir)
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
    )


def lineitem_order_partials(li: DataFrame) -> DataFrame:
    """Per-ORDER revenue partials from a lineitem delta — the lineitem
    leaf of the TWENTY-FIRST incremental path (Q5 revenue cells via
    delta-join).  Revenue enters as the exact integer
    cents·(10000−disc_bp) = dollars·10⁻⁶ summed as decimal(38,0) (the
    20th path's money discipline), keyed by o_orderkey — the join key
    the delta-join resolves through.  Partial aggregation pushes below
    the join: the view's group keys (r_name, n_name) are functionally
    determined by the order, so per-orderkey sums lose nothing and the
    join input shrinks from lineitem mass to order mass."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_bp = F.round(F.col("l_discount") * 10000).cast("long")
    rev_num = (cents * (10000 - disc_bp)).cast("decimal(38,0)")
    return (
        li.select(
            F.col("l_orderkey").alias("o_orderkey"),
            rev_num.alias("rev_num"),
        )
        .groupBy("o_orderkey")
        .agg(
            F.sum("rev_num").alias("rev_num"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def merge_order_partials(state: DataFrame) -> DataFrame:
    """Collapse appended per-batch lineitem partials to one row per
    order (the ``merge`` ``streaming.ingest.compact`` folds the lineitem
    state with — additive integer sums, so merging is exact under any
    batch split)."""
    return state.groupBy("o_orderkey").agg(
        F.sum("rev_num").alias("rev_num"), F.sum("n").alias("n")
    )


def merge_revenue_cells(state: DataFrame) -> DataFrame:
    """Collapse appended per-batch (r_name, n_name) revenue deltas to
    one row per cell — additive integer sums."""
    return state.groupBy("r_name", "n_name").agg(
        F.sum("rev_num").alias("rev_num"), F.sum("n").alias("n")
    )


def q5_from_revenue_cells(cells: DataFrame) -> DataFrame:
    """Serve Q5's revenue-by-nation report from the maintained cells —
    ``q5_from_revenue_cells(cells) ≡ q5_revenue_by_nation`` over
    everything ingested (parity-tested across uneven batch splits,
    out-of-order arrival, replay and compaction).  Rounding follows the
    20th path's integer discipline: rev_num is dollars·10⁻⁶ as
    decimal(38,0); half-up to cents happens in integer space
    ((rev_num + 5000) div 10000), ONE double division at read time over
    the ≤|region×nation| metadata rows."""
    m = merge_revenue_cells(cells)
    rev_cents = F.expr("(rev_num + 5000) div 10000")
    return m.select(
        "r_name",
        "n_name",
        F.round(rev_cents / 100.0, 2).alias("revenue"),
        F.col("n").alias("n_lineitems"),
    ).orderBy(F.desc("revenue"), F.asc("n_name"))


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight filter + single global aggregate.

    All three predicates push to the parquet scan; result is one row.
    """
    li = load(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


Q6_SQL = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most value (returnflag = 'R')."""
    cust = load(spark, "customer", sf_dir)
    nation = F.broadcast(load(spark, "nation", sf_dir))
    orders = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1995-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = load(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P7: predicate + column pruning — both must reach the parquet scan."""
    orders = load(spark, "orders", sf_dir)
    return (
        orders.filter(
            (F.col("o_totalprice") > 400000) & (F.col("o_orderstatus") == "O")
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("price"),
            F.to_date("o_orderdate").alias("order_date"),
        )
    )


FILTER_PROJECT_SQL = """
SELECT o_orderkey, o_custkey,
       ROUND(o_totalprice, 2) AS price,
       CAST(o_orderdate AS DATE) AS order_date
FROM orders
WHERE o_totalprice > 400000 AND o_orderstatus = 'O'
"""


def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: string function battery over customer."""
    cust = load(spark, "customer", sf_dir)
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("seg_name"),
        F.regexp_extract("c_name", r"(\d+)", 1).alias("name_digits"),
        F.col("c_name").like("%1%").alias("has_one"),
        F.trim(F.lpad("c_name", 25, " ")).alias("trimmed"),
        F.split("c_name", "#").getItem(0).alias("name_stem"),
    )


SCALAR_STRING_SQL = """
SELECT c_custkey,
       UPPER(c_name)                    AS name_upper,
       LOWER(c_mktsegment)              AS seg_lower,
       CAST(LENGTH(c_name) AS INT)      AS name_len,
       SUBSTRING(c_name, 1, 8)          AS name_prefix,
       c_mktsegment || '|' || c_name    AS seg_name,
       COALESCE(regexp_extract(c_name, '(\\d+)', 1), '') AS name_digits,
       c_name LIKE '%1%'                AS has_one,
       TRIM(LPAD(c_name, 25, ' '))      AS trimmed,
       string_split(c_name, '#')[1]     AS name_stem
FROM customer
"""


def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: date/time function battery over orders."""
    orders = load(spark, "orders", sf_dir)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_str"),
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month_start"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_98"
        ),
        F.dayofweek("o_orderdate").alias("dow"),
    )


SCALAR_DATE_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT)      AS yr,
       CAST(month(o_orderdate) AS INT)     AS mo,
       CAST(day(o_orderdate) AS INT)       AS dom,
       CAST(quarter(o_orderdate) AS INT)   AS qtr,
       strftime(o_orderdate, '%Y-%m-%d')   AS date_str,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT) AS days_to_98,
       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
FROM orders
"""


def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: math function battery over lineitem (rounded for float stability)."""
    li = load(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("abs_disc"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        F.round(F.pow(F.col("l_quantity"), 2), 6).alias("qty_sq"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("log_price"),
        F.floor("l_quantity").cast("bigint").alias("qty_floor"),
        F.ceil("l_tax" ).cast("bigint").alias("tax_ceil"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


SCALAR_MATH_SQL = """
SELECT l_orderkey, l_linenumber,
       ROUND(ABS(l_discount - 0.05), 6)      AS abs_disc,
       ROUND(SQRT(l_extendedprice), 6)       AS sqrt_price,
       ROUND(POW(l_quantity, 2), 6)          AS qty_sq,
       ROUND(LN(l_extendedprice + 1), 6)     AS log_price,
       CAST(FLOOR(l_quantity) AS BIGINT)     AS qty_floor,
       CAST(CEIL(l_tax) AS BIGINT)           AS tax_ceil,
       l_orderkey % 7                        AS key_mod,
       GREATEST(l_discount, l_tax)           AS max_rate,
       LEAST(l_discount, l_tax)              AS min_rate
FROM lineitem
"""


def case_when_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: CASE WHEN banding + conditional aggregation."""
    orders = load(spark, "orders", sf_dir)
    band = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .when(F.col("o_totalprice") < 400000, "large")
        .otherwise("jumbo")
    )
    return (
        orders.withColumn("price_band", band)
        .groupBy("price_band")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
                "n_finished"
            ),
        )
    )


CASE_WHEN_SQL = """
SELECT CASE WHEN o_totalprice < 50000  THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            WHEN o_totalprice < 400000 THEN 'large'
            ELSE 'jumbo' END AS price_band,
       COUNT(*) AS n_orders,
       ROUND(AVG(o_totalprice), 2) AS avg_price,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
FROM orders
GROUP BY 1
"""


def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11/P5: null predicates + coalesce/nullif (nulls manufactured via
    NULLIF since testdata has no null column — the reference's nullable
    ``fuel_level`` analog)."""
    ev = load(spark, "events", sf_dir)
    return (
        ev.withColumn("v_or_null", F.when(F.col("value") < 50, None).otherwise(F.col("value")))
        .select(
            "event_id",
            "v_or_null",
            F.coalesce("v_or_null", F.lit(-1.0)).alias("v_filled"),
            F.col("v_or_null").isNull().alias("is_small"),
            F.nullif(F.col("event_type"), F.lit("error")).alias("type_no_error"),
            F.nvl2(F.col("v_or_null"), F.lit("big"), F.lit("small")).alias("size_tag"),
        )
    )


NULL_HANDLING_SQL = """
SELECT event_id,
       CASE WHEN value < 50 THEN NULL ELSE value END                    AS v_or_null,
       COALESCE(CASE WHEN value < 50 THEN NULL ELSE value END, -1.0)    AS v_filled,
       (CASE WHEN value < 50 THEN NULL ELSE value END) IS NULL          AS is_small,
       NULLIF(event_type, 'error')                                     AS type_no_error,
       CASE WHEN (CASE WHEN value < 50 THEN NULL ELSE value END) IS NOT NULL
            THEN 'big' ELSE 'small' END                                AS size_tag
FROM events
"""


def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12: JSON functions over events.props (the reference parses its SQS
    JSON envelope driver-side, spark_job.py:90-100 — here it's in-engine)."""
    ev = load(spark, "events", sf_dir)
    return (
        ev.select(
            "event_id",
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


JSON_EXTRACT_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(CAST(props ->> '$.k' AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


def hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15: hash functions (dedup-key basis). md5/sha2 are cross-engine
    stable; xxhash64 is Spark-specific (used engine-side, not oracle-checked)."""
    cust = load(spark, "customer", sf_dir)
    return cust.select(
        "c_custkey",
        F.md5("c_name").alias("md5_name"),
        F.sha2("c_name", 256).alias("sha256_name"),
    )


HASH_FUNCS_SQL = """
SELECT c_custkey,
       md5(c_name)    AS md5_name,
       sha256(c_name) AS sha256_name
FROM customer
"""


def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-limit over a join+agg (TakeOrderedAndProject path)."""
    cust = load(spark, "customer", sf_dir)
    orders = load(spark, "orders", sf_dir)
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count("*").alias("n_orders"),
        )
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(15)
    )


TOP_CUSTOMERS_SQL = """
SELECT c_custkey, c_name,
       ROUND(SUM(o_totalprice), 2) AS total_spend,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spend DESC, c_custkey ASC
LIMIT 15
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_revenue_by_nation": q5_revenue_by_nation,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_items": q10_returned_items,
    "filter_project": filter_project,
    "scalar_string_funcs": scalar_string_funcs,
    "scalar_date_funcs": scalar_date_funcs,
    "scalar_math_funcs": scalar_math_funcs,
    "case_when_banding": case_when_banding,
    "null_handling": null_handling,
    "json_extraction": json_extraction,
    "hash_funcs": hash_funcs,
    "top_customers": top_customers,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_revenue_by_nation": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q10_returned_items": Q10_SQL,
    "filter_project": FILTER_PROJECT_SQL,
    "scalar_string_funcs": SCALAR_STRING_SQL,
    "scalar_date_funcs": SCALAR_DATE_SQL,
    "scalar_math_funcs": SCALAR_MATH_SQL,
    "case_when_banding": CASE_WHEN_SQL,
    "null_handling": NULL_HANDLING_SQL,
    "json_extraction": JSON_EXTRACT_SQL,
    "hash_funcs": HASH_FUNCS_SQL,
    "top_customers": TOP_CUSTOMERS_SQL,
}
