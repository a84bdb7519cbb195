"""Generic relational operators (SURVEY.md §2.3 T1/T2, §2.1 S7, §2.4 M3)
plus TPC-H-style headline queries exercising Spark's free query surface
(joins / grouped aggregation — reference §2.6 has none; our engine gets
them from Catalyst).

Scale notes (100 TB stance):
  * Projections/filters are declared directly over the parquet scan so
    Catalyst pushes them down (``PushedFilters`` / pruned ``ReadSchema``).
  * Dim tables (region/nation/customer at TPC-H ratios) are broadcast —
    no shuffle of the fact table for q3/q5-style joins beyond the agg.
  * Aggregate sums go through DECIMAL so partial (map-side) aggregation is
    exact and deterministic regardless of partition count / merge order —
    this is what makes the result reproducible on 1000 executors, and
    hash-identical to the single-threaded DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tomixpanel_spark.operators.base import QuerySpec, table

def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 rename: canonical-name projection (reference connectors/csvETL.js:101-118
    renameKeys of distinct_id/time/insert_id columns)."""
    return table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").alias("qty"),
        F.col("l_returnflag").alias("return_flag"),
    )


_PROJECT_RENAME_SQL = """
SELECT l_orderkey AS order_id, l_linenumber AS line_no,
       l_quantity AS qty, l_returnflag AS return_flag
FROM lineitem
"""


def project_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 drop: ignore_cols semantics (reference connectors/csvETL.js:94-98).
    Catalyst column pruning turns the drop into a narrow parquet ReadSchema."""
    return table(spark, sf_dir, "events").drop("props", "value")


_PROJECT_DROP_SQL = "SELECT event_id, ts, user_id, event_type FROM events"


def pushdown_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 source-side predicate pushdown: `where` expression + `event` IN-list
    (reference connectors/mixpanelETL.js:76-85 pushes them into the export
    query string; here Catalyst pushes them into the parquet scan)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1998-01-01")
        & (F.col("l_quantity") < 25)
        & F.col("l_returnflag").isin("A", "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate", "l_returnflag")


_PUSHDOWN_FILTER_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate, l_returnflag
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_quantity < 25
  AND l_returnflag IN ('A', 'R')
"""


def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 union-of-stages + M2 synthesized boundary rows: per-user
    'session begins' rows (reference transform/gaToMixpanel.js:144-154)
    unioned with the event stream (reference transform/amplitudeToMixpanel.js:54-56
    accumulates stages by append; unionByName is the relational form)."""
    ev = table(spark, sf_dir, "events")
    begins = ev.groupBy("user_id").agg(
        F.unix_millis(F.min("ts")).alias("time_ms")
    ).select("user_id", F.lit("session begins").alias("event"), "time_ms")
    stream = ev.select(
        "user_id",
        F.col("event_type").alias("event"),
        F.unix_millis("ts").alias("time_ms"),
    )
    return begins.unionByName(stream)


_UNION_ALL_SQL = """
SELECT user_id, 'session begins' AS event, epoch_ms(min(ts)) AS time_ms
FROM events GROUP BY user_id
UNION ALL
SELECT user_id, event_type AS event, epoch_ms(ts) AS time_ms FROM events
"""


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary (headline bench query). Single scan +
    hash aggregate; partial aggregation makes the shuffle tiny (4 groups).

    Arithmetic strategy (exact + fast): money columns are 2-decimal values
    stored as doubles, so ``round(x*100)`` recovers the exact integer cents.
    Narrow-value sums (qty/disc cents, max ~1e4/row) run as
    whole-stage-codegen LONG sums (no decimal in the hot loop — measured
    2.5x faster than the decimal tower): 7e11 rows x 1e4 = 7e15, three
    orders of magnitude inside int64. Wide-value sums — base_price cents
    (~1e7/row -> 7e18, <25% int64 headroom at the 100 TB worst case, and
    ANSI-off overflow wraps SILENTLY) and the two products (~1e11/row) —
    aggregate into DECIMAL(28,0) so the grand total cannot overflow at any
    scale.
    Integer/decimal sums are associative => deterministic under any
    partitioning, hash-identical to the single-threaded oracle.
    """
    li = table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    ep = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    tax = F.round(F.col("l_tax") * 100).cast("long")
    dp = (ep * (100 - disc)).cast("decimal(28,0)")
    ch = (ep * (100 - disc) * (100 + tax)).cast("decimal(28,0)")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= "2001-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty) / 100.0).alias("sum_qty"),
            (F.sum(ep.cast("decimal(28,0)")).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(dp).cast("double") / 10000.0).alias("sum_disc_price"),
            (F.sum(ch).cast("double") / 1000000.0).alias("sum_charge"),
            (F.sum(qty) / 100.0 / n).alias("avg_qty"),
            (F.sum(disc) / 100.0 / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


_TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  SUM(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty,
  SUM(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
  CAST(SUM(CAST(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT))
                AS DECIMAL(28,0))) AS DOUBLE)/10000.0 AS sum_disc_price,
  CAST(SUM(CAST(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT))
                * (100 + CAST(round(l_tax*100) AS BIGINT))
                AS DECIMAL(28,0))) AS DOUBLE)/1000000.0 AS sum_charge,
  SUM(CAST(round(l_quantity*100) AS BIGINT))/100.0/COUNT(*) AS avg_qty,
  SUM(CAST(round(l_discount*100) AS BIGINT))/100.0/COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""

_REVENUE = (
    "SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))"
)


def _revenue_col():
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return F.sum(ep * (F.lit(1).cast("decimal(3,2)") - disc)).cast("double")


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping-priority join.

    Scale shape: customer (filtered to one segment) broadcasts; the
    lineitem⋈orders fact-fact join shuffles on the order key — at 100 TB
    that is the right plan (both sides huge), and AQE promotes it to a
    broadcast join automatically when the filtered orders side turns out
    small at runtime.
    """
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    oc = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        li.join(oc, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue_col().alias("revenue"))
    )


_TPCH_Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST({_REVENUE} AS DOUBLE) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style revenue-per-nation 5-way join.

    Scale shape: only true dimension tables (region 5 rows, nation 25) are
    explicitly broadcast; customer⋈(nation⋈region) prunes customers to one
    region *before* the fact joins, and the two fact joins shuffle on their
    keys (AQE re-plans them to broadcast when a filtered side is small).
    """
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(dims, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(_revenue_col().alias("revenue"))
    )


_TPCH_Q5_SQL = f"""
SELECT n_name, CAST({_REVENUE} AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecasting-revenue-change: single-table
    filter + aggregate.

    Scale shape: the canonical pushdown showcase — date/discount/quantity
    predicates reach the parquet scan (PushedFilters), only three columns
    survive pruning (ReadSchema), and the whole plan is one
    WholeStageCodegen span into a 1-row partial-then-final aggregate.
    Zero joins, one exchange of 1 row per task."""
    li = table(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(ep * disc).cast("double").alias("revenue"))
    )


_TPCH_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set rollup over orders (subtotals + grand total) — part of
    the free Catalyst query surface the reference lacks (SURVEY §2.6)."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


_ROLLUP_ORDERS_SQL = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
"""


def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts by status into columns (conditional aggregation —
    identical physical shape to Catalyst's pivot rewrite, portable names)."""
    o = table(spark, sf_dir, "orders")
    def cnt(status):
        return F.sum(F.when(F.col("o_orderstatus") == status, 1).otherwise(0)).cast(
            "bigint"
        )
    return o.groupBy("o_orderpriority").agg(
        cnt("O").alias("n_open"), cnt("F").alias("n_filled"), cnt("P").alias("n_partial")
    )


_PIVOT_STATUS_SQL = """
SELECT o_orderpriority,
  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
FROM orders GROUP BY o_orderpriority
"""


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price within each priority class — the rank-and-
    filter shape (row_number over a per-group sort, keep rk <= k).
    Deterministic tie-break on o_orderkey. At scale Spark pushes a
    per-partition top-k (WindowGroupLimit) below the shuffle, so the
    exchange carries at most k rows per group per map partition, not the
    whole table."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
    )


_TOPK_PER_GROUP_SQL = """
SELECT * FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
    CAST(row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
  FROM orders)
WHERE rk <= 3
"""


def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order total (window frame sum). DECIMAL inside
    the frame keeps the running sum exact => deterministic under any
    partitioning, bit-equal to the oracle."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
        (F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        )).cast("bigint").alias("order_seq"),
    )


_WINDOW_RUNNING_SQL = """
SELECT o_orderkey, o_custkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq
FROM orders
"""




def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-style semi join (free Catalyst surface, SURVEY §2.6):
    orders having at least one returned lineitem."""
    orders = table(spark, sf_dir, "orders")
    returned = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return orders.join(
        returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_orderstatus")


_SEMI_JOIN_SQL = """
SELECT o_orderkey, o_orderstatus
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
"""



def part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by part brand (lineitem x part, dim broadcast) — exercises
    the part dimension and the broadcast-then-aggregate shape."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            _revenue_col().alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_PART_REVENUE_SQL = f"""
SELECT p_brand, CAST({_REVENUE} AS DOUBLE) AS revenue, COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier account balance rollup per nation (supplier x nation)."""
    sup = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("total_balance"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


_SUPPLIER_BALANCE_SQL = """
SELECT n_name,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance,
  COUNT(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def salted_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient join: attach per-type stats to every event via
    ``functions.skew.salted_join``. ``event_type`` has only ~5 distinct
    values over the whole events table — the canonical pathological key: a
    plain shuffle join puts ~20% of a 100 TB fact on ONE reducer. Salting
    spreads each hot key across ``salts`` reducers (small side replicated
    ``salts``x — the classic trade) while producing bit-identical rows to
    the plain join, which is exactly what the oracle checks. (When the dim
    fits in memory broadcast is still preferred; salting is for
    large-x-large skewed joins where broadcast is off the table.)
    """
    from tomixpanel_spark.functions.skew import salted_join

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_n"),
        F.max("value").alias("type_max"),
    )
    return salted_join(ev, dim, "event_type", salts=8).select(
        "event_id", "event_type", "value", "type_n", "type_max"
    )


_SALTED_JOIN_STATS_SQL = """
SELECT event_id, event_type, value, type_n, type_max
FROM events
JOIN (SELECT event_type, COUNT(*) AS type_n, MAX(value) AS type_max
      FROM events GROUP BY event_type) USING (event_type)
"""


# Helper modules whose changes should count as a change to this
# module's registered queries for the external-window rotation
# (rule: code changed since last external green outranks staleness).
ROTATION_DEPS = [
    "tomixpanel_spark.functions.skew",
]

REGISTRY = {
    "project_rename": QuerySpec(project_rename, _PROJECT_RENAME_SQL, "T1"),
    "project_drop": QuerySpec(project_drop, _PROJECT_DROP_SQL, "T2"),
    "pushdown_filter": QuerySpec(pushdown_filter, _PUSHDOWN_FILTER_SQL, "S7"),
    "union_all": QuerySpec(union_all, _UNION_ALL_SQL, "M3+M2"),
    "tpch_q1": QuerySpec(tpch_q1, _TPCH_Q1_SQL, "bench headline"),
    "tpch_q3": QuerySpec(tpch_q3, _TPCH_Q3_SQL, "bench headline"),
    "tpch_q5": QuerySpec(tpch_q5, _TPCH_Q5_SQL, "bench headline"),
    "tpch_q6": QuerySpec(tpch_q6, _TPCH_Q6_SQL, "bench headline"),
    "rollup_orders": QuerySpec(rollup_orders, _ROLLUP_ORDERS_SQL, "free surface"),
    "pivot_status": QuerySpec(pivot_status, _PIVOT_STATUS_SQL, "free surface"),
    "window_running": QuerySpec(window_running, _WINDOW_RUNNING_SQL, "free surface"),
    "topk_per_group": QuerySpec(topk_per_group, _TOPK_PER_GROUP_SQL, "free surface"),
    "semi_join": QuerySpec(semi_join, _SEMI_JOIN_SQL, "free surface"),
    "part_revenue": QuerySpec(part_revenue, _PART_REVENUE_SQL, "free surface"),
    "supplier_balance": QuerySpec(supplier_balance, _SUPPLIER_BALANCE_SQL, "free surface"),
    "salted_join_stats": QuerySpec(salted_join_stats, _SALTED_JOIN_STATS_SQL, "skew"),
}
