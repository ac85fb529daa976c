"""Analytics-core queries (SURVEY.md §2 block B) over the TPC-H-ish
tables, each with a DuckDB oracle.

Plan notes (100 TB): small dims (region/nation/supplier/customer at
these ratios) are broadcast; fact-side filters are expressed before
joins so they reach the parquet scan (PushedFilters); aggregates are
partial-agg friendly (sum/count/avg on grouped keys).

Float rounding: big-money sums round to 4 decimals (engine summation
order differs at ~1e-6 absolute on 1e10 magnitudes), normalized
values to 9.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sources import load_table

R_MONEY = 4
R_NORM = 9


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --- B1: TPC-H Q1 style pricing summary -----------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), R_MONEY).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), R_MONEY).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), R_MONEY
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                R_MONEY,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), R_NORM).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), R_NORM).alias("avg_price"),
            F.round(F.avg("l_discount"), R_NORM).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), {R_MONEY}) AS sum_qty,
       round(sum(l_extendedprice), {R_MONEY}) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), {R_MONEY}) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), {R_MONEY}) AS sum_charge,
       round(avg(l_quantity), {R_NORM}) AS avg_qty,
       round(avg(l_extendedprice), {R_NORM}) AS avg_price,
       round(avg(l_discount), {R_NORM}) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- B2: TPC-H Q3 style shipping priority ---------------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), R_MONEY
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), {R_MONEY}) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- B3: TPC-H Q5 style local supplier volume ------------------------------

def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), R_MONEY
            ).alias("revenue")
        )
    )


Q5_SQL = f"""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), {R_MONEY}) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
GROUP BY n_name
"""


# --- B4: TPC-H Q6 style revenue delta (pushdown showcase) -------------------

def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), R_MONEY
            ).alias("revenue")
        )
    )


Q6_SQL = f"""
SELECT round(sum(l_extendedprice * l_discount), {R_MONEY}) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
"""


# --- B5: top customers per nation (join + rank window) ---------------------

def top_customers_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    totals = (
        orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("total_spent"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("total_spent"), F.asc("c_custkey")
    )
    return (
        totals.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "n_name",
            "c_custkey",
            "c_name",
            F.round(F.col("total_spent"), R_MONEY).alias("total_spent"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


TOP_CUSTOMERS_SQL = f"""
SELECT n_name, c_custkey, c_name,
       round(total_spent, {R_MONEY}) AS total_spent,
       CAST(rank AS INT) AS rank
FROM (
  SELECT n_name, c_custkey, c_name, total_spent,
         row_number() OVER (PARTITION BY n_name ORDER BY total_spent DESC, c_custkey ASC) AS rank
  FROM (
    SELECT o_custkey, sum(o_totalprice) AS total_spent FROM orders GROUP BY o_custkey
  ) t
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
)
WHERE rank <= 3
"""


# --- B6: sessionization -----------------------------------------------------

def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessionize import session_stats

    ev = _t(spark, sf_dir, "events")
    s = session_stats(
        ev, key_col="user_id", ts_col="ts", gap_minutes=30.0, order_cols=["ts", "event_id"]
    )
    return s.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("duration_sec"), R_NORM).alias("duration_sec"),
    )


SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR (epoch_ms(ts) - epoch_ms(lag(ts) OVER w)) / 1000.0 > 1800.0
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       round((epoch_ms(max(ts)) - epoch_ms(min(ts))) / 1000.0, 9) AS duration_sec
FROM s GROUP BY user_id, session_id
"""


# --- B7: as-of join ---------------------------------------------------------

def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase event: the latest prior (strictly) view-event
    value of the same user — distributed backward as-of join."""
    from .operators.asof import asof_join_backward

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts"), F.col("value").alias("last_view_value")
    )
    out = asof_join_backward(
        purchases,
        views,
        by="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        value_cols=["last_view_value"],
        strict=True,
    )
    return out.select(
        "user_id",
        "purchase_id",
        "purchase_ts",
        F.round("purchase_value", R_NORM).alias("purchase_value"),
        F.round("last_view_value", R_NORM).alias("last_view_value"),
    )


ASOF_SQL = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       round(p.value, 9) AS purchase_value,
       round(v.value, 9) AS last_view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts > v.ts
"""


# --- B8: pivot --------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
                for t in _EVENT_TYPES
            ],
        )
    )


PIVOT_SQL = """
SELECT user_id,
       count(*) FILTER (event_type = 'click') AS n_click,
       count(*) FILTER (event_type = 'error') AS n_error,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'signup') AS n_signup,
       count(*) FILTER (event_type = 'view') AS n_view
FROM events GROUP BY user_id
"""


# --- B9: TPC-H Q10 style returned-item report -------------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue lost to returns per customer over a 6-month window.
    Plan: both fact-side filters (returnflag, date window) sit before
    the joins so they reach the scans; nation broadcasts; the
    customer join is AQE's call (broadcast at test SF, sort-merge at
    100 TB where customer is itself fact-sized)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), R_MONEY
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), {R_MONEY}) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --- B10: TPC-H Q18 style large-volume orders --------------------------------

Q18_MIN_QTY = 180


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds Q18_MIN_QTY. Plan: the
    lineitem aggregate happens FIRST (map-side partial agg on
    l_orderkey, the table's natural key) and the >threshold filter
    shrinks it before any join — at 100 TB the join inputs are the
    filtered ~1% of orders, not the raw fact table. Quantities are
    integral so the double sums are exact and the HAVING cut is
    engine-stable."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_MIN_QTY)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", R_MONEY).alias("o_totalprice"),
            F.round("total_qty", R_MONEY).alias("total_qty"),
        )
    )


Q18_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       round(o_totalprice, {R_MONEY}) AS o_totalprice,
       round(total_qty, {R_MONEY}) AS total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > {Q18_MIN_QTY}
) t
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- B12: binned range join --------------------------------------------------

BURST_WINDOW_SEC = 300


def events_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity in the 5 minutes after each error event — a PURE
    range join (no equality key), planned as a binned hash join
    (operators/rangejoin.py) instead of the O(n^2) nested loop
    Catalyst would otherwise emit."""
    from .operators.rangejoin import range_join_binned

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts")
    )
    follow = ev.select(F.col("ts").alias("f_ts"), F.col("value").alias("f_value"))
    pairs = range_join_binned(
        errors, follow, "error_ts", "f_ts", 0.0, float(BURST_WINDOW_SEC)
    )
    return pairs.groupBy("error_id").agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.round(F.sum("f_value"), R_MONEY).alias("total_value"),
    )


ERROR_BURST_SQL = f"""
SELECT l.event_id AS error_id,
       count(*) AS n_follow,
       round(sum(r.value), {R_MONEY}) AS total_value
FROM (SELECT * FROM events WHERE event_type = 'error') l
JOIN events r
  ON epoch_us(r.ts) > epoch_us(l.ts)
 AND epoch_us(r.ts) <= epoch_us(l.ts) + {BURST_WINDOW_SEC} * 1000000
GROUP BY l.event_id
"""


# --- B11: salted skew join ---------------------------------------------------

SKEW_SALTS = 16


def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment x event type via an explicitly
    SALTED events-customer join (operators/skewjoin.py): the fact side
    carries xxhash64(event_id) % 16 and customer is replicated 16x, so
    a hot user_id would spread over 16 reducers instead of melting
    one. Results are identical to the plain join — the oracle IS the
    plain join."""
    from .operators.skewjoin import salted_join

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        ev,
        cust,
        on=F.col("user_id") == F.col("c_custkey"),
        salt_source="event_id",
        num_salts=SKEW_SALTS,
    )
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), R_MONEY).alias("total_value"),
    )


SKEW_JOIN_SQL = f"""
SELECT c_mktsegment, event_type,
       count(*) AS n_events,
       round(sum(value), {R_MONEY}) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
"""


# --- B20: RANGE-frame rolling aggregate --------------------------------------

ROLL_DAYS = 7
_ROLL_SEC = (ROLL_DAYS - 1) * 86400


def rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue with a 7-day trailing sum via a RANGE window
    frame (value-based, so gap days don't corrupt the trailing sum
    the way a ROWS frame would). The window is global-ordered but
    runs AFTER the daily aggregate — a few thousand rows at any fact
    scale, so the single-partition sort is trivial; the heavy input
    is reduced by the partial-agg groupBy first."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("day_rev"),
        )
        .withColumn("day_epoch", (F.unix_millis(F.col("day")) / 1000).cast("long"))
    )
    w = Window.orderBy("day_epoch").rangeBetween(-_ROLL_SEC, 0)
    return daily.select(
        "day",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round("day_rev", R_MONEY).alias("day_rev"),
        F.round(F.sum("day_rev").over(w), R_MONEY).alias("rev_7d"),
    )


ROLLING_REVENUE_SQL = f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         count(*) AS n_orders,
         sum(o_totalprice) AS day_rev,
         CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT) AS day_epoch
  FROM orders GROUP BY date_trunc('day', o_orderdate)
)
SELECT day, n_orders,
       round(day_rev, {R_MONEY}) AS day_rev,
       round(sum(day_rev) OVER (ORDER BY day_epoch
             RANGE BETWEEN {_ROLL_SEC} PRECEDING AND CURRENT ROW), {R_MONEY}) AS rev_7d
FROM daily
"""


# --- B16: TPC-H Q4 style EXISTS semi-join ------------------------------------

LATE_SHIP_DAYS = 60


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per priority that had at least one late-shipped line
    (l_shipdate > o_orderdate + LATE_SHIP_DAYS). The EXISTS becomes a
    LEFT SEMI join: the probe side never duplicates order rows no
    matter how many lines match, so the join output is bounded by
    orders — the property that makes EXISTS cheap at 100 TB."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, LATE_SHIP_DAYS)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


Q4_SQL = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL {LATE_SHIP_DAYS} DAY
  )
GROUP BY o_orderpriority
"""


# --- B13: exact distributed quantiles ----------------------------------------

QUANTILES = [0.25, 0.5, 0.75, 0.95]


def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quantiles of extended price (linear
    interpolation — Spark `percentile`, DuckDB `quantile_cont`).
    Exact quantiles are a full-sort-per-group aggregate; for 100 TB
    approx_percentile (t-digest sketch, mergeable map-side) is the
    drop-in — kept exact here so the oracle can hash-match."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(
                F.expr(f"percentile(l_extendedprice, {q})"), R_MONEY
            ).alias(f"p{int(q * 100)}")
            for q in QUANTILES
        ],
        F.count(F.lit(1)).alias("n"),
    )


PRICE_QUANTILES_SQL = f"""
SELECT l_returnflag,
       {", ".join(f"round(quantile_cont(l_extendedprice, {q}), {R_MONEY}) AS p{int(q * 100)}" for q in QUANTILES)},
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


APPROX_PCT_ACCURACY = 10_000


def approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB drop-in for B13: sketch-based approximate per-group
    quantiles (`approx_percentile`, rank error <= n/accuracy). The
    sketch is MERGEABLE, so partial aggregation happens map-side and
    the full per-group sort that exact quantiles require never runs —
    the shuffle carries one sketch per group per mapper instead of
    every row. No SQL oracle (sketch internals are engine-specific);
    tests/test_scale_patterns.py pins every approx value within rank
    tolerance of the exact B13 quantiles — same pattern as the B19
    HLL sketch."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(
                F.expr(
                    f"approx_percentile(l_extendedprice, {q}, {APPROX_PCT_ACCURACY})"
                ),
                R_MONEY,
            ).alias(f"p{int(q * 100)}")
            for q in QUANTILES
        ],
        F.count(F.lit(1)).alias("n"),
    )


# --- B14: conversion funnel --------------------------------------------------

def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup -> first-purchase conversion per user: one conditional
    min-aggregate pass over events (no self-join), then row-local
    comparisons. Partial-agg friendly; scales as a single shuffle on
    user_id."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    converted = (
        F.col("first_signup").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") > F.col("first_signup"))
    )
    secs_to_convert = F.when(
        converted,
        (F.unix_micros(F.col("first_purchase")) - F.unix_micros(F.col("first_signup")))
        / 1_000_000.0,
    )
    return per_user.select(
        "user_id",
        "first_signup",
        "first_purchase",
        F.col("n_events").cast("long").alias("n_events"),
        converted.alias("converted"),
        F.round(secs_to_convert, R_NORM).alias("secs_to_convert"),
    )


FUNNEL_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         min(ts) FILTER (event_type = 'signup') AS first_signup,
         min(ts) FILTER (event_type = 'purchase') AS first_purchase,
         count(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, first_signup, first_purchase, n_events,
       (first_signup IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase > first_signup) AS converted,
       CASE WHEN first_signup IS NOT NULL AND first_purchase IS NOT NULL
                 AND first_purchase > first_signup
            THEN round((epoch_us(first_purchase) - epoch_us(first_signup)) / 1000000.0, {R_NORM})
       END AS secs_to_convert
FROM per_user
"""


# --- B15: fixed-width histogram ----------------------------------------------

HIST_WIDTH = 25.0


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per event type — a pure
    projection (bucket = floor(value/width)) plus one aggregate;
    the cheapest possible distribution profile at any scale."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / HIST_WIDTH).cast("long")
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * HIST_WIDTH).alias("bucket_lo"),
            F.col("n").cast("long").alias("n"),
        )
    )


VALUE_HISTOGRAM_SQL = f"""
SELECT event_type,
       CAST(floor(value / {HIST_WIDTH}) AS BIGINT) AS bucket,
       floor(value / {HIST_WIDTH}) * {HIST_WIDTH} AS bucket_lo,
       count(*) AS n
FROM events
GROUP BY event_type, floor(value / {HIST_WIDTH})
"""


# --- B17: distinct users per day ---------------------------------------------

def distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per day. Exact distinct is a two-level
    aggregate under the hood; at 100 TB the drop-in is
    approx_count_distinct (HyperLogLog++, mergeable map-side, no
    second shuffle) at ~2% error — kept exact here so the oracle can
    hash-match."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    return (
        ev.groupBy(day.alias("day"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "day",
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


DISTINCT_USERS_SQL = """
SELECT date_trunc('day', ts) AS day,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM events GROUP BY date_trunc('day', ts)
"""


APPROX_RSD = 0.02


def approx_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of distinct_users_daily: HyperLogLog++ sketch
    (approx_count_distinct, rsd=2%) — mergeable map-side, one shuffle,
    no exact-distinct expand. No SQL oracle (sketch estimates are
    engine-specific); tests/test_scale_patterns.py bounds the error
    against the exact count instead."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    return (
        ev.groupBy(day.alias("day"))
        .agg(F.approx_count_distinct("user_id", rsd=APPROX_RSD).alias("n_users_approx"))
        .select("day", F.col("n_users_approx").cast("long").alias("n_users_approx"))
    )


# --- B18: rollup / grouping sets ---------------------------------------------

def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue ROLLUP over (returnflag, linestatus) — subtotals and a
    grand total in ONE pass (Catalyst expands grouping sets into a
    single Expand + aggregate, not N scans). grouping_id
    disambiguates subtotal rows from real NULL keys."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), R_MONEY).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
            F.grouping_id().cast("long").alias("grouping_id"),
        )
    )


REVENUE_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice), {R_MONEY}) AS revenue,
       count(*) AS n_lines,
       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS grouping_id
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# --- B22-B25: additional TPC-H classics ------------------------------------

def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral shipping volume between two nations by
    year. 6-way join — lineitem is the only fact; only the two
    nation copies (≤25 rows at any SF) carry explicit broadcast
    hints. supplier, orders and customer all grow with SF, so their
    join strategy is left to size estimates / AQE: broadcast while
    they measure small, graceful sort-merge once they don't — an
    explicit hint there would OOM the driver at 100× instead of
    degrading (VERDICT r5 item 1)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1996-12-31").cast("timestamp"))
    )
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(
            _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"),
            li["l_suppkey"] == F.col("s_suppkey"),
        )
        .join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), R_MONEY
            ).alias("revenue")
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.col("l_year").cast("int").alias("l_year"),
            "revenue",
        )
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, CAST(l_year AS INT) AS l_year,
       round(sum(volume), {R_MONEY}) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN TIMESTAMP '1995-01-01'
                       AND TIMESTAMP '1996-12-31'
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one ship month. The tight
    date filter reaches the lineitem scan; part grows with SF so it
    carries NO explicit hint — AQE broadcasts it while it measures
    small and falls back to sort-merge when it doesn't."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(
        _t(spark, sf_dir, "part").select("p_partkey", "p_type"),
        li["l_partkey"] == F.col("p_partkey"),
    )
    return j.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
            / F.sum(vol),
            6,
        ).alias("promo_revenue_pct")
    )


Q14_SQL = """
SELECT round(
         100.0 * sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0 END)
         / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the quarter's top-revenue supplier. The revenue
    aggregate is supplier-sized (small); the max cut ranks on the
    ROUNDED revenue with a supplier-key tiebreak so the winner is
    engine-stable. The final name lookup hint-broadcasts the
    provably-1-row winner, never supplier (which grows with SF)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                R_MONEY,
            ).alias("total_revenue")
        )
    )
    w = Window.orderBy(F.desc("total_revenue"), F.asc("supplier_no"))
    top = rev.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1)
    return (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name")
        .join(F.broadcast(top), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), {R_MONEY})
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
),
r AS (
  SELECT *, row_number() OVER (ORDER BY total_revenue DESC,
                               supplier_no ASC) AS rk
  FROM revenue
)
SELECT s_suppkey, s_name, total_revenue
FROM r JOIN supplier ON supplier_no = s_suppkey
WHERE rk = 1
"""


def q19_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted to this schema's columns): revenue under an
    OR-of-ANDs brand/size/quantity predicate. The pushdown showcase:
    Catalyst distributes the disjunction — part-only conjuncts
    (brand, size) reach the part scan, the derived quantity envelope
    reaches the lineitem scan — before the join. part grows with SF
    so the join strategy is AQE's call (broadcast at test SF)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(p, li["l_partkey"] == F.col("p_partkey"))
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 30)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(20, 50)
            & q.between(20, 30)
        )
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), R_MONEY
        ).alias("revenue")
    )


Q19_SQL = f"""
SELECT round(sum(l_extendedprice * (1 - l_discount)), {R_MONEY}) AS revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND ((p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
        AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#4' AND p_size BETWEEN 20 AND 50
        AND l_quantity BETWEEN 20 AND 30))
"""


# --- B26: CDC latest-wins upsert (lakehouse MERGE shape) ---------------------

def upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert without a table format: a base snapshot (even
    event_ids) and a change feed (odd event_ids) merge into the
    latest-wins snapshot per (user_id, event_type) key, version-ordered
    by (ts, event_id). Implementation is the standard Spark CDC shape:
    union the two sides, one hash shuffle on the key, per-key
    row_number desc -> rn=1. At scale the same semantics is available
    as a partial-aggregable ``max_by(struct(*), version)`` when the
    version is a scalar; the window form is used here because the
    (ts, event_id) version is composite and the oracle mirrors it
    row-for-row."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    base = ev.filter(F.col("event_id") % 2 == 0)
    changes = ev.filter(F.col("event_id") % 2 == 1)
    merged = base.unionByName(changes)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.round("value", R_NORM).alias("last_value"),
            (F.col("event_id") % 2 == 1).alias("from_changes"),
        )
    )


UPSERT_LATEST_SQL = """
SELECT user_id, event_type,
       ts AS last_ts,
       event_id AS last_event_id,
       round(value, 9) AS last_value,
       event_id % 2 = 1 AS from_changes
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# --- B27: pairwise symbol correlation ---------------------------------------

CORR_MIN_OBS = 10
R_CORR = 6  # corr's co-moment accumulation cancels more than plain sums


def symbol_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of daily returns between symbols:
    daily avg price per symbol (one partial-aggregable groupBy), daily
    return via per-symbol lag window, then a self-equi-join on the day
    key and one corr aggregate per pair. The join is day-bucketed so
    the pair blow-up is per-day (symbols_active_that_day^2), never the
    global all-pairs; pairs below CORR_MIN_OBS common days are
    dropped."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.col("user_id").alias("sym"), F.to_date("ts").alias("day")
        )
        .agg(F.avg("value").alias("v"))
    )
    w = Window.partitionBy("sym").orderBy("day")
    ret = (
        daily.withColumn("r", F.col("v") / F.lag("v").over(w) - 1)
        .filter(F.col("r").isNotNull())
        .select("sym", "day", "r")
    )
    a = ret.select(F.col("sym").alias("sym_a"), "day", F.col("r").alias("ra"))
    b = ret.select(F.col("sym").alias("sym_b"), "day", F.col("r").alias("rb"))
    pairs = a.join(b, on="day").filter(F.col("sym_a") < F.col("sym_b"))
    return (
        pairs.groupBy("sym_a", "sym_b")
        .agg(
            F.round(F.corr("ra", "rb"), R_CORR).alias("corr_daily"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
        .filter(F.col("n_obs") >= CORR_MIN_OBS)
    )


SYMBOL_CORRELATION_SQL = f"""
WITH daily AS (
  SELECT user_id AS sym, CAST(ts AS DATE) AS day, avg(value) AS v
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
ret AS (
  SELECT sym, day, v / lag(v) OVER (PARTITION BY sym ORDER BY day) - 1 AS r
  FROM daily
)
SELECT a.sym AS sym_a, b.sym AS sym_b,
       round(corr(a.r, b.r), {R_CORR}) AS corr_daily,
       CAST(count(*) AS BIGINT) AS n_obs
FROM ret a JOIN ret b ON a.day = b.day AND a.sym < b.sym
WHERE a.r IS NOT NULL AND b.r IS NOT NULL
GROUP BY a.sym, b.sym
HAVING count(*) >= {CORR_MIN_OBS}
"""


# --- B28: Bloom-filter semi-join prefilter ----------------------------------

BLOOM_M = 16384        # filter bits
BLOOM_K = 3            # hash functions
BLOOM_PRIORITY = "1-URGENT"


def _bloom_bucket(key, j: int):
    """Bit position j for a key: md5 is bit-identical across engines."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"bf{j}:"), key.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % BLOOM_M
    )


def bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter for a semi join: build BLOOM_K bit
    positions per urgent-order key, probe every lineitem row against
    the bit set, and report pass/true/false-positive counts.

    This is the join-prefilter Spark's own runtime bloom pushdown
    (spark.sql.optimizer.runtime.bloomFilter.*) automates: when the
    build side is too large to broadcast raw but its ~M-bit filter is
    tiny, the probe side is pruned AT THE SCAN, before any shuffle.
    Plan shape here mirrors that: the bit set (<= BLOOM_M rows after
    DISTINCT — bounded by the filter geometry, not the data) is
    hint-broadcast per probe, so every bit lookup is map-side; the
    true-key mark joins WITHOUT a hint (the key set grows with SF —
    AQE broadcasts it while small, degrades to shuffle when not).
    Each probe-side lookup joins a DISTINCT bit set, so no row
    multiplication occurs. False positives are expected by design
    (~(1-e^(-kn/m))^k, here a few percent) — the aggregate measures
    them instead of hiding them."""
    dkeys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == BLOOM_PRIORITY)
        .select(F.col("o_orderkey").alias("k"))
    )
    bits = dkeys.select(
        F.explode(
            F.array(*[_bloom_bucket(F.col("k"), j) for j in range(BLOOM_K)])
        ).alias("bucket")
    ).distinct()
    probe = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    for j in range(BLOOM_K):
        bj = F.broadcast(
            bits.select(
                F.col("bucket").alias(f"_bk{j}"), F.lit(1).alias(f"_m{j}")
            )
        )
        probe = probe.join(
            bj, _bloom_bucket(F.col("l_orderkey"), j) == F.col(f"_bk{j}"), "left"
        )
    dmark = dkeys.select(F.col("k").alias("_dk"), F.lit(1).alias("_true"))
    probe = probe.join(dmark, F.col("l_orderkey") == F.col("_dk"), "left")
    bloom_pass = F.lit(True)
    for j in range(BLOOM_K):
        bloom_pass = bloom_pass & F.col(f"_m{j}").isNotNull()
    is_true = F.col("_true").isNotNull()
    agg = probe.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(bloom_pass, 1).otherwise(0)).cast("long").alias(
            "n_bloom_pass"
        ),
        F.sum(F.when(is_true, 1).otherwise(0)).cast("long").alias(
            "n_true_match"
        ),
        F.sum(F.when(bloom_pass & ~is_true, 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    )
    return agg.select(
        "n_rows",
        "n_bloom_pass",
        "n_true_match",
        "n_false_pos",
        F.round(
            F.col("n_false_pos") / (F.col("n_rows") - F.col("n_true_match")), 9
        ).alias("fp_rate"),
    )


def _bloom_bucket_sql(key_expr: str, j: int) -> str:
    return (
        f"('0x' || substr(md5('bf{j}:' || CAST({key_expr} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {BLOOM_M}"
    )


BLOOM_PREFILTER_SQL = f"""
WITH dkeys AS (
  SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '{BLOOM_PRIORITY}'
),
bits AS (
  SELECT DISTINCT {_bloom_bucket_sql("k", 0).replace("bf0", "bf' || j || '")}
         AS bucket
  FROM dkeys, range({BLOOM_K}) r(j)
),
probe AS (
  SELECT l_orderkey,
         {" AND ".join(
             f"EXISTS (SELECT 1 FROM bits WHERE bucket = "
             f"{_bloom_bucket_sql('l_orderkey', j)})"
             for j in range(BLOOM_K)
         )} AS bloom_pass,
         EXISTS (SELECT 1 FROM dkeys WHERE k = l_orderkey) AS true_match
  FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_pass,
       CAST(sum(CASE WHEN true_match THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_match,
       CAST(sum(CASE WHEN bloom_pass AND NOT true_match THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       round(sum(CASE WHEN bloom_pass AND NOT true_match THEN 1 ELSE 0 END)
             / CAST(count(*) - sum(CASE WHEN true_match THEN 1 ELSE 0 END)
                    AS DOUBLE), 9) AS fp_rate
FROM probe
"""


# --- B29: TPC-H Q13-style customer order distribution ------------------------

Q13_EXCL_PRIORITY = "1-URGENT"


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer distribution by order count, INCLUDING zero-order
    customers (the classic Q13 left-join trap: the priority filter
    must act as the join condition, not a post-filter, or zero-order
    customers vanish).

    Scale shape: orders aggregate to per-customer counts FIRST (one
    partial-aggregable groupBy), and the left join attaches counts to
    customers afterwards — joining then counting would shuffle every
    order row per customer; aggregating first shuffles one row per
    customer. The final distribution is a second tiny aggregate."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    ocnt = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != Q13_EXCL_PRIORITY)
        .groupBy(F.col("o_custkey"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_cust = cust.join(
        ocnt, cust.c_custkey == ocnt.o_custkey, "left"
    ).select(F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("c_count"))
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


Q13_SQL = f"""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '{Q13_EXCL_PRIORITY}'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


# --- B30: TPC-H Q17-style small-quantity revenue ------------------------------

Q17_BRAND = "Brand#13"


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost if small-quantity orders (below 20%
    of the part's average order quantity) were not filled — TPC-H
    Q17's correlated scalar subquery, decorrelated the way Catalyst
    would: ONE per-part average aggregate over the brand's lineitems,
    joined back, and a threshold filter. Both the brand part slice
    and the per-part threshold relation grow with SF, so neither
    carries an explicit hint — AQE broadcasts them while small
    (VERDICT r5 item 1). The threshold is rounded
    on both engines so summation-order ULPs can't flip a row across
    the comparison."""
    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == Q17_BRAND)
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_li = li.join(
        parts, li.l_partkey == parts.p_partkey
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    thresh = brand_li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.round(F.avg("l_quantity") * 0.2, 9).alias("qty_cut")
    )
    return (
        brand_li.join(
            thresh, F.col("l_partkey") == F.col("t_partkey")
        )
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, R_MONEY).alias(
                "avg_yearly"
            )
        )
    )


Q17_SQL = f"""
WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = '{Q17_BRAND}'
),
thresh AS (
  SELECT l_partkey AS t_partkey, round(avg(l_quantity) * 0.2, 9) AS qty_cut
  FROM brand_li GROUP BY l_partkey
)
SELECT round(sum(l_extendedprice) / 7.0, {R_MONEY}) AS avg_yearly
FROM brand_li JOIN thresh ON l_partkey = t_partkey
WHERE l_quantity < qty_cut
"""


# --- B31: TPC-H Q22-style idle high-balance customers -------------------------


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: customers with above-average (positive) account
    balance who have NO orders — Q22's shape: a scalar aggregate
    broadcast into the filter, then an ANTI join against orders
    (output bounded by customers, never expanded), then one small
    aggregate. The average is rounded on both engines before the
    comparison."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 9).alias("cut")
    )
    cands = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("cut")
    )
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    idle = cands.join(
        orders, cands.c_custkey == orders.o_custkey, "left_anti"
    )
    return idle.groupBy(F.col("c_nationkey").cast("long").alias("nationkey")).agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        F.round(F.sum("c_acctbal"), R_MONEY).alias("totacctbal"),
    )


Q22_SQL = f"""
WITH cut AS (
  SELECT round(avg(c_acctbal), 9) AS cut FROM customer WHERE c_acctbal > 0
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal), {R_MONEY}) AS totacctbal
FROM customer, cut
WHERE c_acctbal > cut
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
"""


# --- B32: TPC-H Q8 national market share --------------------------------------

Q8_REGION = "EUROPE"
Q8_NATION = "NATION_7"
Q8_TYPE = "PROMO"


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: yearly share of one supplier nation's revenue within a
    region's market for one part type (reference scope: the analytics
    surface of SURVEY §2). Shape notes for 100 TB: the two fact tables
    (lineitem, orders) hash-join on their key; the bounded dimensions
    (nation→region derivatives: ≤25 rows at every SF) carry explicit
    broadcast hints.  supplier and the type-filtered part slice GROW
    WITH SF (~1M suppliers at sf100, more at 100 TB), so they carry no
    hint — an explicit hint is honored unconditionally and would OOM
    the driver at scale, while AQE broadcasts them only while their
    measured size stays under the threshold and degrades to a shuffle
    join past it. The nation table joins twice under different roles;
    both sides get role-prefixed column names before the join so no
    ambiguous-column resolution is left to chance."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == Q8_TYPE)
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cust_nation = (
        _t(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").alias("cn_nationkey"),
            F.col("n_regionkey").alias("cn_regionkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
            ),
            F.col("cn_regionkey") == F.col("r_regionkey"),
        )
        .select("cn_nationkey")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    supp_nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cust_nation), cust.c_nationkey == F.col("cn_nationkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nation), supp.s_nationkey == F.col("sn_nationkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == Q8_NATION, vol).otherwise(0.0))
                / F.sum(vol),
                9,
            ).alias("mkt_share")
        )
    )


Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(CASE WHEN n2.n_name = '{Q8_NATION}'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 9) AS mkt_share
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_type = '{Q8_TYPE}'
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n1.n_regionkey AND r_name = '{Q8_REGION}'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
"""


# --- B33: TPC-H Q9-style profit by nation and year ---------------------------

Q9_PART_WORD = "gear"
#: the testdata has no partsupp table, so supply cost is proxied as a
#: fixed fraction of the part's retail price (same formula on both
#: engines); the join/agg SHAPE — two facts + three small dims,
#: profit expression, (nation, year) rollup — is Q9's.
Q9_COST_FRAC = 0.5


def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted): per supplier-nation per order-year profit
    over parts whose name contains a word. amount = revenue - cost,
    cost proxied via p_retailprice (no partsupp in the testdata).
    lineitem⨝orders is the one big join; only nation (bounded) is
    hint-broadcast — the name-filtered part slice and supplier grow
    with SF, so their strategy stays stats/AQE-driven. Rounded on
    both engines."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains(Q9_PART_WORD))
        .select("p_partkey", "p_retailprice")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(Q9_COST_FRAC) * F.col("p_retailprice") * F.col("l_quantity")
    )
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), R_MONEY).alias("sum_profit"))
    )


Q9_SQL = f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - {Q9_COST_FRAC} * p_retailprice * l_quantity),
             {R_MONEY}) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_name LIKE '%{Q9_PART_WORD}%'
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
GROUP BY 1, 2
"""


# --- B34: TPC-H Q21-style suppliers who kept orders waiting -------------------

#: a lineitem is "late" when it shipped more than this many days after
#: the order date (the testdata carries no commit/receipt dates, so
#: ship-lag stands in; the semi+anti double self-correlation is Q21's)
Q21_LATE_DAYS = 180
Q21_TOP = 20


def q21_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted): suppliers that were the SOLE late shipper
    on finished multi-supplier orders. Shape: the late fact (l1) is
    semi-joined against "some other supplier on the order" and
    anti-joined against "some other supplier was also late" — both
    correlations stay key-local (hash on l_orderkey), output bounded
    by l1, never expanded; then one small count-rollup and a
    deterministic top-N. At 100 TB all three lineitem roles shuffle on
    the same key, so AQE can pipeline them off one exchange."""
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {Q21_LATE_DAYS} DAYS"
    )
    l1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(late)
        .select(
            F.col("l_orderkey").alias("k1"), F.col("l_suppkey").alias("s1")
        )
    )
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2"))
    l3 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(late)
        .select(
            F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
        )
    )
    waiting = (
        l1.join(
            l2,
            (F.col("k1") == F.col("k2")) & (F.col("s1") != F.col("s2")),
            "left_semi",
        ).join(
            l3,
            (F.col("k1") == F.col("k3")) & (F.col("s1") != F.col("s3")),
            "left_anti",
        )
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(supp, F.col("s1") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(Q21_TOP)
    )


Q21_SQL = f"""
WITH l1 AS (
  SELECT l_orderkey AS k1, l_suppkey AS s1
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM l1 JOIN supplier ON s1 = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = k1 AND l2.l_suppkey <> s1)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                  WHERE l3.l_orderkey = k1 AND l3.l_suppkey <> s1
                    AND o3.o_orderstatus = 'F'
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT {Q21_TOP}
"""


# --- B35: semi-structured JSON extraction over events.props ------------------


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the semi-structured ``props`` JSON column
    and a per-event-type rollup of the extracted field. Uses
    ``from_json`` with an explicit schema — ONE schema-driven JVM-side
    parse per row (codegen, no Python), which is the 100 TB shape:
    schema-on-read without an inference pass, and Catalyst prunes the
    struct down to the single extracted field. The oracle extracts
    the same field with DuckDB's JSON operators."""
    ev = _t(spark, sf_dir, "events").select("event_type", "props")
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return (
        ev.withColumn("_k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count("_k").cast("long").alias("n_with_k"),
            F.sum("_k").cast("long").alias("sum_k"),
            F.round(F.avg("_k"), 9).alias("avg_k"),
            F.min("_k").cast("int").alias("min_k"),
            F.max("_k").cast("int").alias("max_k"),
        )
    )


EVENTS_JSON_SQL = """
WITH e AS (
  SELECT event_type, CAST(props->>'k' AS INT) AS k FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       round(avg(k), 9) AS avg_k,
       CAST(min(k) AS INT) AS min_k,
       CAST(max(k) AS INT) AS max_k
FROM e GROUP BY event_type
"""


# --- B36: streaming twin of the JSON extraction ------------------------------

_JSON_SINK_SEQ = itertools.count()


def events_json_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed rollup of a JSON-extracted field ON THE EVENT STREAM:
    ``readStream`` -> from_json -> watermarked tumbling window. Closes
    the last batch/stream asymmetry in the registry (every other
    batch family already has a streaming twin): replaying the finite
    stream must equal the plain batch group-by, which is the oracle.
    UPDATE mode + availableNow (same contract as events_stream_window
    A11, since r9): watermark eviction active, final counters
    recovered at read via latest_window_counts."""
    from .sources import stream_table
    from .streaming import await_or_raise
    from .streaming.windowed import latest_window_counts, windowed_json_rollup

    ev = stream_table(spark, sf_dir, "events")
    sink = f"events_json_sink_{next(_JSON_SINK_SEQ)}"
    q = (
        windowed_json_rollup(ev)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    return latest_window_counts(
        spark.table(sink), ["window_start_epoch", "event_type"]
    )


EVENTS_JSON_STREAM_SQL = """
SELECT CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS window_start_epoch,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(CAST(props->>'k' AS INT)) AS BIGINT) AS n_with_k,
       CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k
FROM events
GROUP BY 1, event_type
"""


# --- B37: VARIANT-typed semi-structured extraction (Spark 4 native) ---------

def events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` ingests ``props`` once into the binary Variant
    encoding and ``try_variant_get`` extracts the field — the modern
    engine-native path for schema-flexible columns (Variant decodes
    ~8x faster than repeated string JSON parsing and is the shredding-
    ready storage form), vs B35's from_json which needs the schema up
    front. Distinct rollup shape from B35: value-decile histogram per
    event type, so both extraction paths stay independently
    oracle-checked. try_variant_get (not variant_get) so a malformed
    row degrades to NULL instead of failing the query — the crawl-
    ingest contract."""
    ev = _t(spark, sf_dir, "events").select("event_type", "props")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.withColumn("_k", k)
        # floor, not truncate-toward-zero: the oracle's `k // 10`
        # floors, and the two diverge for negative k (ADVICE r7)
        .withColumn("decile", F.floor(F.col("_k") / F.lit(10)).cast("int"))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("_k").cast("long").alias("sum_k"),
        )
    )


EVENTS_VARIANT_SQL = """
WITH e AS (
  SELECT event_type, CAST(props->>'k' AS INT) AS k FROM events
)
SELECT event_type, CAST(k // 10 AS INT) AS decile,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM e GROUP BY event_type, k // 10
"""


# --- B38: mergeable HLL sketch rollup (Datasketches, Spark 4 native) ---------

def sketch_rollup_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB distinct-count PATTERN, not just the estimate: daily
    Datasketches HLL sketches built ONCE from the raw stream
    (``hll_sketch_agg``), then the month total derived by MERGING the
    daily sketches (``hll_union_agg``) — no second scan of the raw
    data. At scale the daily sketch column is what you persist;
    rollups to any coarser grain are sketch unions, which is the
    whole reason mergeable sketches exist (approx_count_distinct B19
    gives one grain only). Estimates are rows-only for the oracle
    (sketch internals are engine-specific); the pytest invariant pins
    each day's estimate AND the merged total within tolerance of
    exact, and that the merged total is NOT the sum of dailies
    (overlapping users dedup through the union)."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("_sk"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    per_day = daily.select(
        F.col("day").cast("string").alias("day"),
        "n_events",
        F.hll_sketch_estimate("_sk").cast("long").alias("est_users"),
    )
    total = daily.agg(
        F.lit("TOTAL").alias("day"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("_sk"))
        .cast("long")
        .alias("est_users"),
    )
    return per_day.unionByName(total)


# --- B39: theta-sketch audience overlap (set ops HLL can't do) ---------------

def audience_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience SET ALGEBRA on sketches: theta sketches support
    intersection and difference, which HLL fundamentally cannot —
    the standard tool for 'how many users did BOTH X and Y' at a
    scale where materializing either set is off the table. One pass
    builds a theta sketch per event type; the overlap row derives
    from the two 1-row sketch scalars (the crossJoin is a scalar
    broadcast, same budget rule as the other 1-row joins). Rows-only
    for the oracle; the pytest invariant checks every estimate
    against the EXACT set sizes (theta sketches are exact below their
    sampling threshold) and the inclusion-exclusion identity."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    sk = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("_sk")
    )
    p = sk.filter(F.col("event_type") == "purchase").select(
        F.col("_sk").alias("_p")
    )
    c = sk.filter(F.col("event_type") == "click").select(
        F.col("_sk").alias("_c")
    )
    return p.crossJoin(c).select(
        F.theta_sketch_estimate(F.theta_union("_p", "_c"))
        .cast("long")
        .alias("union_users"),
        F.theta_sketch_estimate(F.theta_intersection("_p", "_c"))
        .cast("long")
        .alias("both_users"),
        F.theta_sketch_estimate(F.theta_difference("_p", "_c"))
        .cast("long")
        .alias("purchase_only_users"),
        F.theta_sketch_estimate("_p").cast("long").alias("purchase_users"),
        F.theta_sketch_estimate("_c").cast("long").alias("click_users"),
    )


ANALYTICS_QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "q6_revenue_delta": q6_revenue_delta,
    "top_customers_window": top_customers_window,
    "events_sessionize": events_sessionize,
    "asof_join": asof_join_events,
    "events_pivot": events_pivot,
    "q10_returned_items": q10_returned_items,
    "q18_large_orders": q18_large_orders,
    "skew_join_salted": skew_join_salted,
    "events_error_burst": events_error_burst,
    "price_quantiles": price_quantiles,
    "approx_price_quantiles": approx_price_quantiles,
    "events_funnel": events_funnel,
    "value_histogram": value_histogram,
    "q4_order_priority": q4_order_priority,
    "distinct_users_daily": distinct_users_daily,
    "approx_distinct_users_daily": approx_distinct_users_daily,
    "revenue_rollup": revenue_rollup,
    "rolling_revenue_7d": rolling_revenue_7d,
    "events_variant": events_variant,
    "sketch_rollup_hll": sketch_rollup_hll,
    "audience_overlap_theta": audience_overlap_theta,
    "events_json_extract": events_json_extract,
    "events_json_stream": events_json_stream,
    "q8_market_share": q8_market_share,
    "q9_profit_by_nation": q9_profit_by_nation,
    "q21_late_suppliers": q21_late_suppliers,
    "q7_volume_shipping": q7_volume_shipping,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q19_disjunctive_pushdown": q19_disjunctive_pushdown,
    "upsert_latest": upsert_latest,
    "symbol_correlation": symbol_correlation,
    "bloom_prefilter": bloom_prefilter,
    "q13_order_distribution": q13_order_distribution,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q22_idle_customers": q22_idle_customers,
}

# approx_distinct_users_daily and approx_price_quantiles deliberately
# have NO oracle entry: HLL/t-digest sketch estimates are
# engine-specific; the driver records rows-only checks and the
# tolerance tests bound the error vs the exact aggregates.
ANALYTICS_ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_local_supplier": Q5_SQL,
    "q6_revenue_delta": Q6_SQL,
    "top_customers_window": TOP_CUSTOMERS_SQL,
    "events_sessionize": SESSIONIZE_SQL,
    "asof_join": ASOF_SQL,
    "events_pivot": PIVOT_SQL,
    "q10_returned_items": Q10_SQL,
    "q18_large_orders": Q18_SQL,
    "skew_join_salted": SKEW_JOIN_SQL,
    "events_error_burst": ERROR_BURST_SQL,
    "price_quantiles": PRICE_QUANTILES_SQL,
    "events_funnel": FUNNEL_SQL,
    "value_histogram": VALUE_HISTOGRAM_SQL,
    "q4_order_priority": Q4_SQL,
    "distinct_users_daily": DISTINCT_USERS_SQL,
    "revenue_rollup": REVENUE_ROLLUP_SQL,
    "rolling_revenue_7d": ROLLING_REVENUE_SQL,
    "events_variant": EVENTS_VARIANT_SQL,
    # sketch_rollup_hll / audience_overlap_theta: estimates are
    # engine-specific sketch outputs — rows-only by design, with
    # tolerance-vs-exact invariants in tests/test_scale_patterns.py
    "events_json_extract": EVENTS_JSON_SQL,
    "events_json_stream": EVENTS_JSON_STREAM_SQL,
    "q8_market_share": Q8_SQL,
    "q9_profit_by_nation": Q9_SQL,
    "q21_late_suppliers": Q21_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q14_promo_revenue": Q14_SQL,
    "q15_top_supplier": Q15_SQL,
    "q19_disjunctive_pushdown": Q19_SQL,
    "upsert_latest": UPSERT_LATEST_SQL,
    "symbol_correlation": SYMBOL_CORRELATION_SQL,
    "bloom_prefilter": BLOOM_PREFILTER_SQL,
    "q13_order_distribution": Q13_SQL,
    "q17_small_qty_revenue": Q17_SQL,
    "q22_idle_customers": Q22_SQL,
}
