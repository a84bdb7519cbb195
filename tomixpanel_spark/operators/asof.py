"""AS-OF join: for each left row, the latest right row at-or-before its
time, per key — the point-in-time lookup engines like DuckDB ship natively
(``ASOF JOIN``) and Spark lacks.

Spark-first composition (no UDF, no range self-join): union both sides
into one keyed stream, sort within each key partition by (time, side) so
right rows precede left rows at equal times (inclusive at-or-before), and
carry the right-side values forward with ``last(..., ignorenulls=True)``
over an unbounded-preceding running frame. Left rows then read their
point-in-time values directly.

Scale shape: ONE exchange on the key + a partition-local sort — the same
cost as the sort-merge join Spark would need anyway, with no
range-condition explosion (a naive ``left.ts >= right.ts`` join is a
per-key cross product that Spark can only post-filter). Key skew behaves
like any keyed shuffle (AQE skew handling applies). This is the only
physical shape: the per-record work stays in the JVM's generated code
and no row crosses into Python. The broadcast and cogroup
``pd.merge_asof`` strategies it replaced never beat it where measured
(ARCHITECTURE.md, "Temporal joins").

Oracle: DuckDB's native ``ASOF LEFT JOIN`` — an INDEPENDENT implementation
of the same semantics, so the hash comparison cross-checks the window
composition against a reference engine, not against our own SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from tomixpanel_spark.operators.base import QuerySpec, table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_tiebreak: tuple[str, ...] = (),
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join: all ``left`` columns plus ``right``'s value
    columns (everything but ``on``/``right_time``) taken from the
    matched right row for the same ``on`` key; nulls when none exists.
    ``direction="backward"`` (default) matches the LATEST right row with
    ``right_time <= left_time``; ``direction="forward"`` the EARLIEST
    with ``right_time >= left_time`` (the next-reading / next-quote
    shape) — same single exchange + window, just a reversed time sort.

    If the right side has several rows per (key, time), pass
    ``right_tiebreak`` columns: the row sorting LAST under them
    (ascending) wins — resolved inside the one window sort this operator
    already pays, so no pre-aggregation exchange is needed. Without a
    tiebreak, pre-aggregate the right side (e.g. ``max_by``) or the
    match is not well defined.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    left_cols = [c for c in left.columns if c != on]
    value_cols = [c for c in right.columns if c not in (on, right_time)]
    overlap = set(left_cols) & set(value_cols)
    if overlap:
        raise ValueError(f"column collision between sides: {sorted(overlap)}")
    if not value_cols:
        raise ValueError("right side has no value columns to carry")

    # ALL right value columns ride in ONE struct carried by a single
    # last(ignorenulls=True): per-column carries would back-fill a NULL
    # field of the winning right row from an older, losing row — mixing
    # columns across right rows. The struct itself is non-null for every
    # right row (even when all its fields are null), so the carry is
    # atomic: the output is exactly the matched row, nulls included.
    v_type = StructType(
        [StructField(c, right.schema[c].dataType, True) for c in value_cols]
    )
    # left_time rides ONLY as __t (carrying it again under its own name
    # would emit a duplicate column in the output)
    plain_left = [c for c in left_cols if c != left_time]
    l_half = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(0).alias("__r"),
        *[F.col(c) for c in plain_left],
        F.lit(None).cast(v_type).alias("__v"),
    )
    r_half = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(1).alias("__r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in plain_left],
        F.struct(*[F.col(c) for c in value_cols]).alias("__v"),
    )
    u = l_half.unionByName(r_half)
    # right rows sort BEFORE left rows at equal time -> inclusive <= / >=
    # (forward mode just walks time DESCENDING, so "carried last right
    # row" is the earliest at-or-after one); tiebreak columns order right
    # rows among themselves only (left rows all share __r=0 and a null
    # struct, so their null tiebreak fields never interleave)
    t_ord = F.col("__t").asc() if direction == "backward" else F.col("__t").desc()
    w = (
        Window.partitionBy("__k")
        .orderBy(
            t_ord,
            F.col("__r").desc(),
            *[F.col("__v")[c].asc() for c in right_tiebreak],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "__k",
        "__t",
        "__r",
        *plain_left,
        F.last("__v", ignorenulls=True).over(w).alias("__v"),
    )
    return carried.filter(F.col("__r") == 0).select(
        F.col("__k").alias(on),
        F.col("__t").alias(left_time),
        *plain_left,
        *[F.col("__v")[c].alias(c) for c in value_cols],
    )


def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: each event joined to the user's latest order
    at-or-before the event time. Order times are synthesized into the
    events' range with deterministic modular rules (both engines derive
    the identical right side). Ties per (user, time) resolve to the max
    orderkey via the window tiebreak — the oracle pre-aggregates with
    max_by instead, so the hash match also proves the in-sort tiebreak
    equals an explicit pre-aggregation (one exchange saved here)."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = table(spark, sf_dir, "orders")
    r = orders.select(
        F.pmod("o_custkey", F.lit(150)).cast("bigint").alias("user_id"),
        F.expr(
            "timestampadd(HOUR, cast(o_orderkey % 720 as int), "
            "timestamp'2024-01-01 00:00:00')"
        ).alias("ts_r"),
        F.col("o_orderkey").alias("order_key"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_c"),
    )
    return asof_join(
        ev, r, on="user_id", left_time="ts", right_time="ts_r",
        right_tiebreak=("order_key",),
    ).select("event_id", "user_id", "order_key", "total_c")


_ASOF_SQL = """
WITH r AS (
  SELECT user_id, ts_r, max(o_orderkey) AS order_key,
         CAST(round(max_by(o_totalprice, o_orderkey) * 100) AS BIGINT) AS total_c
  FROM (
    SELECT o_custkey % 150 AS user_id,
           TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey % 720) * INTERVAL 1 HOUR AS ts_r,
           o_orderkey, o_totalprice
    FROM orders)
  GROUP BY user_id, ts_r)
SELECT e.event_id, e.user_id, r.order_key, r.total_c
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND e.ts >= r.ts_r
"""


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: each purchase attributed
    to the user's latest click at-or-before it (null when none). Pure
    reuse of ``asof_join`` — same single exchange + window sort; the
    in-sort tiebreak (max event_id among same-instant clicks) is proved
    against the oracle's explicit max_by pre-aggregation, like
    ``asof_latest_order``."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("ts_c"),
        F.col("event_id").alias("click_id"),
        F.unix_millis("ts").alias("click_ms"),
    )
    return asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts_c",
        right_tiebreak=("click_id",),
    ).select("event_id", "user_id", "click_id", "click_ms")


_ATTRIBUTION_SQL = """
WITH c AS (
  SELECT user_id, ts AS ts_c, max(event_id) AS click_id,
         epoch_ms(ts) AS click_ms
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, c.click_id, c.click_ms
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts_c
"""


def asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: each event joined to the user's EARLIEST order
    at-or-after the event time — the next-reading / next-quote shape
    (``direction='forward'``), which until now only library tests
    exercised. Same derived right side as ``asof_latest_order``; ties
    per (user, time) resolve to the max orderkey exactly like the
    backward query, proved against the oracle's max_by pre-aggregation
    + min_by(ts) pick."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = table(spark, sf_dir, "orders")
    r = orders.select(
        F.pmod("o_custkey", F.lit(150)).cast("bigint").alias("user_id"),
        F.expr(
            "timestampadd(HOUR, cast(o_orderkey % 720 as int), "
            "timestamp'2024-01-01 00:00:00')"
        ).alias("ts_r"),
        F.col("o_orderkey").alias("order_key"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_c"),
    )
    return asof_join(
        ev, r, on="user_id", left_time="ts", right_time="ts_r",
        right_tiebreak=("order_key",), direction="forward",
    ).select("event_id", "user_id", "order_key", "total_c")


_ASOF_FWD_SQL = """
WITH r AS (
  SELECT user_id, ts_r, max(o_orderkey) AS order_key,
         CAST(round(max_by(o_totalprice, o_orderkey) * 100) AS BIGINT) AS total_c
  FROM (
    SELECT o_custkey % 150 AS user_id,
           TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey % 720) * INTERVAL 1 HOUR AS ts_r,
           o_orderkey, o_totalprice
    FROM orders)
  GROUP BY user_id, ts_r)
SELECT e.event_id, e.user_id,
       min_by(r.order_key, r.ts_r) AS order_key,
       min_by(r.total_c, r.ts_r) AS total_c
FROM events e LEFT JOIN r
  ON e.user_id = r.user_id AND r.ts_r >= e.ts
GROUP BY e.event_id, e.user_id
"""


REGISTRY = {
    "asof_next_order": QuerySpec(
        asof_next_order,
        _ASOF_FWD_SQL,
        "custom operator: FORWARD as-of join (next order at-or-after)",
    ),
    "asof_latest_order": QuerySpec(
        asof_latest_order,
        _ASOF_SQL,
        "custom operator: as-of join (union+window carry)",
    ),
    "attribution_last_touch": QuerySpec(
        attribution_last_touch, _ATTRIBUTION_SQL, "analytics: last-touch attribution"
    ),
}
