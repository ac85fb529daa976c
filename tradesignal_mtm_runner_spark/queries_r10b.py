"""Round-10 second batch: the classic production-analytics shapes the
surface still lacked — market-basket pair mining, an iterative graph
centrality (weighted PageRank over the co-purchase graph), a Markov
transition matrix over the event stream, robust (median/MAD) anomaly
detection on daily counts, and a Deequ-style declarative data-quality
audit.

House conventions throughout: declarative one-logical-plan queries,
bounded broadcast sides, every float through ``round(x, 9) + 0.0`` on
both engines, Spark column names identical to the oracle's. The five
canonical TPC-H queries this batch skipped (q2/q11/q16/q20 need
``partsupp``; q12 needs ``l_shipmode``/``l_commitdate``/
``l_receiptdate``) landed in round 11 as schema-adapted forms that
keep the canonical operator shapes (queries_r11.py).

No counterpart exists in the pandas reference (reference scope is the
MTM loop, runner_mtm.py:71); these are the large-scale-warehouse
operations a production deployment runs next to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .cache_registry import persist_tracked
from .functions.rounding import r9
from .sources import load_table

#: minimum co-occurrence count for a basket pair to be reported /
#: become a co-purchase edge — the classic support cut that keeps the
#: pair relation output-sized, not O(parts^2)
BASKET_MIN_SUP = 2

#: PageRank damping factor and fixed iteration count (unrolled in the
#: oracle, looped in Spark — same structure as C51's power iteration)
PR_DAMP = 0.85
PR_ITERS = 5

#: MAD robust z-score threshold for flagging an anomalous day
ANOM_THRESH = 3.0
#: floor on the MAD denominator — half a count unit, so a type whose
#: daily counts are near-constant (MAD 0) doesn't divide by zero
ANOM_MAD_FLOOR = 0.5


# --- B43 market-basket pair mining -------------------------------------------


def _basket_pair_counts(spark: SparkSession, sf_dir: str):
    """Shared pair-count plan: one shuffle by ``l_orderkey`` builds the
    per-order distinct item set (``collect_set`` dedups in the
    aggregate — no separate DISTINCT shuffle), pair generation is then
    ROW-LOCAL (two lateral explodes of the sorted array, ``a < b``),
    and the pair aggregate is the only other shuffle, with map-side
    partial aggregation. Never an O(n^2) self-join of lineitem: the
    explode is bounded by order size, which the schema bounds at
    single digits (TPC-H-style ≤7 lineitems/order). Returns
    (baskets, pairs) with baskets persisted for reuse by support /
    total counts. Pair generation is the shared
    operators/graph.pairs_from_baskets kernel (also the append-only
    edge-partials ingest path, where the cut moves to fold time)."""
    from .operators.graph import baskets_from_items, pairs_from_baskets

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = persist_tracked(baskets_from_items(li))
    return baskets, pairs_from_baskets(baskets, min_sup=BASKET_MIN_SUP)


#: shared oracle CTEs for the pair relation (DuckDB mirrors the
#: distinct-items → pair-count structure with a plain self-join; the
#: VALUES are identical, only the physical strategy differs)
_BASKET_CTES = f"""
op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS MATERIALIZED (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS pair_cnt
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {BASKET_MIN_SUP}
)"""


def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining (the frequent-pair half of
    apriori, which is what production recommenders actually ship):
    for every part pair co-purchased in >= BASKET_MIN_SUP orders,
    report the pair count, per-part supports, and support/lift. The
    per-part support and the order total are derived from the SAME
    persisted basket relation (no second lineitem scan) and are
    broadcast back onto the pair relation — parts is a dimension-sized
    set, pairs are output-sized."""
    baskets, pairs = _basket_pair_counts(spark, sf_dir)
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    sup = (
        baskets.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("sup"))
    )
    return (
        pairs.join(
            F.broadcast(
                sup.select(F.col("pk").alias("part_a"), F.col("sup").alias("sup_a"))
            ),
            "part_a",
        )
        .join(
            F.broadcast(
                sup.select(F.col("pk").alias("part_b"), F.col("sup").alias("sup_b"))
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "pair_cnt",
            "sup_a",
            "sup_b",
            r9(F.col("pair_cnt") / F.col("n_orders")).alias("support"),
            r9(
                F.col("pair_cnt") * F.col("n_orders")
                / (F.col("sup_a") * F.col("sup_b"))
            ).alias("lift"),
        )
    )


BASKET_PAIRS_SQL = f"""
WITH {_BASKET_CTES},
tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op),
sup AS (SELECT l_partkey AS pk, count(*) AS sup FROM op GROUP BY 1)
SELECT p.part_a, p.part_b, p.pair_cnt, sa.sup AS sup_a, sb.sup AS sup_b,
       round(p.pair_cnt * 1.0 / t.n_orders, 9) + 0.0 AS support,
       round(p.pair_cnt * t.n_orders * 1.0 / (sa.sup * sb.sup), 9) + 0.0 AS lift
FROM pairs p
JOIN sup sa ON sa.pk = p.part_a
JOIN sup sb ON sb.pk = p.part_b
CROSS JOIN tot t
"""


# --- B44 weighted PageRank over the co-purchase graph ------------------------


def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the co-purchase graph — the canonical
    distributed ITERATIVE graph computation (the CC family covers
    label propagation; this covers the fixed-point score family).
    Nodes = parts, edges = B43's support-cut pairs symmetrized with
    weight = pair_cnt; transition probability w/wdeg precomputed ONCE
    and persisted, so each of the PR_ITERS iterations is exactly one
    co-partitioned join (rank onto transitions, both keyed by node)
    plus one aggregate by destination — the textbook Spark PageRank
    shape, with the edge relation reused across iterations instead of
    recomputed. The graph is symmetric with wdeg > 0 for every node,
    so there is no dangling-mass term. Node count N is fetched as ONE
    scalar (bounded model state, same convention as the trained
    centroid/BPE families); ranks are rounded to 9 dp each iteration
    on BOTH engines so the two fixed-point chains stay glued.

    The kernel (symmetrize + w/wdeg normalize + iterate) lives in
    operators/graph.py (r14) and is SHARED with the standing-edge-
    index probe ``pagerank_from_index`` — live pays the lineitem scan,
    the probe reads the persisted graph-sized tables; parity pinned in
    tests/test_scale_patterns.py."""
    from .operators.graph import node_degrees, pagerank_scores

    _, pairs = _basket_pair_counts(spark, sf_dir)
    # the edge relation feeds FOUR consumers (both unionAll arms of
    # the kernel's symmetrize + both arms of node_degrees' union) —
    # persist it so the pair aggregate over the persisted baskets runs
    # once, the family convention every other graph query already
    # follows (optimization r16; this was the one missing site)
    edges = persist_tracked(pairs.select("part_a", "part_b", "pair_cnt"))
    return pagerank_scores(
        edges, node_degrees(edges).select("pk", "wdeg"), PR_DAMP, PR_ITERS
    )


def _pagerank_iter_sql(k: int) -> str:
    return f"""
r{k} AS (
  SELECT d.node,
         round({1.0 - PR_DAMP} / (SELECT c FROM n)
               + {PR_DAMP} * coalesce(sum(p.pagerank * t.p), 0), 9) + 0.0 AS pagerank
  FROM (SELECT node FROM nodes) d
  LEFT JOIN t ON t.dst = d.node
  LEFT JOIN r{k - 1} p ON p.node = t.src
  GROUP BY d.node
)"""


def _pagerank_sql() -> str:
    iters = ",".join(_pagerank_iter_sql(k) for k in range(1, PR_ITERS + 1))
    sql = f"""
WITH {_BASKET_CTES},
e AS MATERIALIZED (
  SELECT part_a AS src, part_b AS dst, pair_cnt AS w FROM pairs
  UNION ALL
  SELECT part_b AS src, part_a AS dst, pair_cnt AS w FROM pairs
),
deg AS MATERIALIZED (SELECT src, sum(w) AS wdeg FROM e GROUP BY src),
nodes AS MATERIALIZED (SELECT src AS node FROM deg),
n AS MATERIALIZED (SELECT count(*) AS c FROM nodes),
t AS MATERIALIZED (
  SELECT e.src, e.dst, e.w * 1.0 / deg.wdeg AS p
  FROM e JOIN deg ON e.src = deg.src
),
r0 AS (SELECT node, round(1.0 / (SELECT c FROM n), 9) + 0.0 AS pagerank FROM nodes),
{iters}
SELECT node AS p_partkey, pagerank FROM r{PR_ITERS}
"""
    return sql


# --- B45 Markov transition matrix over the event stream ----------------------


def user_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the clickstream "what happens next" rollup. One
    shuffle by user_id (the lag window, deterministically ordered by
    (ts, event_id) since event_id is unique), then a transition
    aggregate whose cardinality is bounded by |event_type|^2 — the
    row-probability normalizer is a window over that tiny relation,
    not another pass over events."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("cnt"))
    return trans.select(
        "prev_type",
        "next_type",
        "cnt",
        r9(F.col("cnt") / F.sum("cnt").over(Window.partitionBy("prev_type"))).alias("p"),
    )


USER_TRANSITION_SQL = """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
trans AS (
  SELECT prev_type, next_type, count(*) AS cnt
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, cnt,
       round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY prev_type), 9) + 0.0 AS p
FROM trans
"""


# --- B46 robust daily-count anomaly detection (median/MAD) -------------------


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly screen over per-type daily event counts: score =
    |cnt - median| / max(MAD, floor), flag days beyond ANOM_THRESH.
    The only corpus-sized shuffle is the (event_type, day) count; the
    median and MAD aggregates run over the DAILY relation, whose
    cardinality is bounded by |types| x |days| regardless of event
    volume — which is why EXACT percentiles are affordable here (the
    approx_percentile swap is only needed when the grouped relation
    itself is corpus-sized, the B13→B21 convention). Both engines
    interpolate the even-count median identically (Spark exact
    `percentile`, DuckDB `median`)."""
    ev = load_table(spark, sf_dir, "events")
    daily = persist_tracked(
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    med = daily.groupBy("event_type").agg(
        F.percentile("cnt", F.lit(0.5)).alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cnt") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "day",
            "cnt",
            r9(F.col("med")).alias("med"),
            r9(F.col("mad")).alias("mad"),
            r9(
                F.col("adev") / F.greatest(F.col("mad"), F.lit(ANOM_MAD_FLOOR))
            ).alias("score"),
        )
        .withColumn("is_anomaly", F.col("score") > ANOM_THRESH)
    )


EVENTS_ANOMALY_SQL = f"""
WITH daily AS MATERIALIZED (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
med AS (SELECT event_type, median(cnt) AS med FROM daily GROUP BY 1),
dev AS (
  SELECT d.event_type, d.day, d.cnt, m.med, abs(d.cnt - m.med) AS adev
  FROM daily d JOIN med m ON d.event_type = m.event_type
),
mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1)
SELECT v.event_type, v.day, v.cnt,
       round(v.med, 9) + 0.0 AS med,
       round(a.mad, 9) + 0.0 AS mad,
       round(v.adev / greatest(a.mad, {ANOM_MAD_FLOOR}), 9) + 0.0 AS score,
       round(v.adev / greatest(a.mad, {ANOM_MAD_FLOOR}), 9) + 0.0 > {ANOM_THRESH}
         AS is_anomaly
FROM dev v JOIN mad a ON v.event_type = a.event_type
"""


# --- B47 declarative data-quality audit --------------------------------------


def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative constraint audit: every rule reports
    (violations, checked, fail_rate) in one result relation. The
    per-table value rules (range/nullability/duplicate-key) are ONE
    conditional-aggregate pass per table — the single-row aggregate is
    unpivoted row-locally via explode(array(struct..)), never
    re-scanned per rule — and the referential rules are left-anti
    joins on the foreign key (AQE picks broadcast vs shuffle by dim
    size). Scans are column-pruned to exactly the audited columns."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def rules_row(agg_df: DataFrame, rules: list[tuple[str, str]]) -> DataFrame:
        # single-row aggregate -> one rule row per entry, row-locally
        return agg_df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(rule).alias("rule"),
                            F.col(vcol).alias("violations"),
                            F.col("checked").alias("checked"),
                        )
                        for rule, vcol in rules
                    ]
                )
            ).alias("r")
        ).select("r.*")

    li_agg = li.agg(
        F.count(F.lit(1)).alias("checked"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        ).alias("v_disc"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("v_qty"),
        # distinct over a STRUCT (not a column pair): count_distinct(a, b)
        # skips rows where either column is NULL, while the DuckDB oracle's
        # count(DISTINCT (a, b)) counts NULL-field structs — the struct form
        # gives both engines identical NULL-key semantics.
        (
            F.count(F.lit(1))
            - F.count_distinct(F.struct(F.col("l_orderkey"), F.col("l_linenumber")))
        ).alias("v_dup"),
    )
    o_agg = o.agg(
        F.count(F.lit(1)).alias("checked"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("v_total"),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias("v_nulldt"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey"))).alias("v_dup"),
    )
    li_rules = rules_row(
        li_agg,
        [
            ("lineitem_discount_in_range", "v_disc"),
            ("lineitem_positive_quantity", "v_qty"),
            ("lineitem_unique_line_key", "v_dup"),
        ],
    )
    o_rules = rules_row(
        o_agg,
        [
            ("orders_positive_totalprice", "v_total"),
            ("orders_orderdate_not_null", "v_nulldt"),
            ("orders_unique_orderkey", "v_dup"),
        ],
    )
    li_orphan = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .crossJoin(li.agg(F.count(F.lit(1)).alias("checked")))
        .select(F.lit("lineitem_orderkey_in_orders").alias("rule"), "violations", "checked")
    )
    o_orphan = (
        o.select("o_custkey")
        .join(c.select("c_custkey"), o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .crossJoin(o.agg(F.count(F.lit(1)).alias("checked")))
        .select(F.lit("orders_custkey_in_customer").alias("rule"), "violations", "checked")
    )
    return (
        li_rules.unionAll(o_rules)
        .unionAll(li_orphan)
        .unionAll(o_orphan)
        .select(
            "rule",
            "violations",
            "checked",
            r9(F.col("violations") / F.col("checked")).alias("fail_rate"),
        )
    )


DQ_AUDIT_SQL = """
WITH raw AS (
  SELECT 'lineitem_discount_in_range' AS rule,
         (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1) AS violations,
         (SELECT count(*) FROM lineitem) AS checked
  UNION ALL
  SELECT 'lineitem_positive_quantity',
         (SELECT count(*) FROM lineitem WHERE l_quantity <= 0),
         (SELECT count(*) FROM lineitem)
  UNION ALL
  SELECT 'lineitem_unique_line_key',
         (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem),
         (SELECT count(*) FROM lineitem)
  UNION ALL
  SELECT 'orders_positive_totalprice',
         (SELECT count(*) FROM orders WHERE o_totalprice <= 0),
         (SELECT count(*) FROM orders)
  UNION ALL
  SELECT 'orders_orderdate_not_null',
         (SELECT count(*) FROM orders WHERE o_orderdate IS NULL),
         (SELECT count(*) FROM orders)
  UNION ALL
  SELECT 'orders_unique_orderkey',
         (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders),
         (SELECT count(*) FROM orders)
  UNION ALL
  SELECT 'lineitem_orderkey_in_orders',
         (SELECT count(*) FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
         (SELECT count(*) FROM lineitem)
  UNION ALL
  SELECT 'orders_custkey_in_customer',
         (SELECT count(*) FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
         (SELECT count(*) FROM orders)
)
SELECT rule, violations, checked,
       round(violations * 1.0 / checked, 9) + 0.0 AS fail_rate
FROM raw
"""


R10B_QUERIES: dict = {
    "basket_pairs": basket_pairs,
    "copurchase_pagerank": copurchase_pagerank,
    "user_transition_matrix": user_transition_matrix,
    "events_anomaly_mad": events_anomaly_mad,
    "dq_audit": dq_audit,
}

R10B_ORACLES: dict = {
    "basket_pairs": BASKET_PAIRS_SQL,
    "copurchase_pagerank": _pagerank_sql(),
    "user_transition_matrix": USER_TRANSITION_SQL,
    "events_anomaly_mad": EVENTS_ANOMALY_SQL,
    "dq_audit": DQ_AUDIT_SQL,
}
