"""Round-17 batch: the cohesive-subgraph family completed with
k-TRUSS edge peeling (the triangle-cohesion classic one notch
stronger than B56's k-core degree-cohesion), a first-class ANN
RECALL evaluation (the measure-don't-guess harness for the C8b IVF
path — recall@k vs the exact C8 baseline as a queryable relation,
not just a test-floor pin), and a two-window MEAN-SHIFT changepoint
detector over the per-type daily event series (the B46 MAD screen
flags level OUTLIERS; this flags level SHIFTS — the complementary
regime-change question).

House conventions: fixed-round unrolls mirrored EXACTLY by the
DuckDB oracle (k-truss: same peel count both engines, convergence
pinned separately), floats through ``round(x, 9) + 0.0``, and every
changepoint statistic is built from INTEGER daily counts (window
means = exact-integer sums / constant, robust scale = MAD of
integers) so both engines compute bit-identical doubles before the
round — no stddev/variance accumulation-order risk.

No counterpart in the pandas reference (reference scope is the MTM
loop, runner_mtm.py:71); this is the warehouse/graph/pipeline
surface the build brief adds on top of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .cache_registry import persist_tracked
from .operators.graph import (
    hyperball_counts,
    ktruss_edges_converged,
    reach_counts,
)
from .queries_pipeline import (
    _IVF_CA_SQL,
    _V_SQL,
    ANN_QUERIES,
    ANN_TOPK,
    IVF_CENTROIDS,
    IVF_NPROBE,
    R,
    _emb,
)
from .functions.rounding import r9
from .queries_r10b import _BASKET_CTES, _basket_pair_counts
from .sources import load_table

#: the truss order: k=3 (every surviving edge closes ≥ 1 triangle
#: within the survivors) — discriminating at all test SFs (sf0.001:
#: 2244 of 2324 support-cut edges survive; sf0.01: 181 of 3445;
#: sf0.1: 3 of 3573 — the support-cut graph thins with SF, so the
#: triangle-cohesive backbone shrinks fast); k=4 empties sf0.01+.
KTRUSS_K = 3

#: simultaneous-peel rounds. Measured truss peel DEPTH across the
#: test SFs is 1 (round 2 changes nothing anywhere); 4 leaves spare
#: rounds so the fixed unroll is converged everywhere — one extra
#: round changing nothing is pinned in tests/test_r17.py. The oracle
#: unrolls the SAME 4.
KTRUSS_PEELS = 4


def copurchase_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B66: k-truss backbone of the co-purchase graph (nodes = parts,
    edges = B43's support-cut pairs), each surviving edge with its
    in-truss triangle support. Kernel = operators/graph.ktruss_edges
    (iterated simultaneous edge peeling over the SHARED oriented
    triangle enumeration — O(√E) wedges, three row-local edge
    credits, one edge-keyed aggregate per round, per-round lineage
    cuts per the k-core convention) — shared with the standing-index
    probe ``ktruss_from_index`` so live/probe parity is structural.
    Scale: every round's work is GRAPH-sized and shrinks as edges
    peel; rounds = truss peel depth; nothing but the bounded
    convergence count is collected driver-side.

    OPTIMIZATION r16: runs the ITERATE-TO-FIXPOINT kernel
    (ktruss_edges_converged — converged == KTRUSS_PEELS unroll pinned
    in tests/test_r17.py) instead of the fixed 4-round unroll:
    measured truss peel depth is 1 at every test SF, so the fixed form
    paid three extra full triangle-enumeration rounds that are
    provable no-ops (survivor edge sets are monotone decreasing) — the
    OUTPUT is identical and the KTRUSS_PEELS-unrolled oracle still
    matches. The fixed kernel remains for the oracle mirror and plan
    pins."""
    _, pairs = _basket_pair_counts(spark, sf_dir)
    edges = persist_tracked(pairs.select("part_a", "part_b"))
    return ktruss_edges_converged(edges, KTRUSS_K)


def _ktruss_round_sql(i: int) -> str:
    prev = "e0" if i == 1 else f"e{i - 1}"
    return f"""
s{i} AS MATERIALIZED (
  SELECT part_a AS u, part_b AS v FROM {prev}
  UNION ALL
  SELECT part_b AS u, part_a AS v FROM {prev}
),
e{i} AS MATERIALIZED (
  SELECT e.part_a, e.part_b, count(*) AS truss_sup
  FROM {prev} e
  JOIN s{i} x ON x.u = e.part_a
  JOIN s{i} y ON y.u = e.part_b AND y.v = x.v
  GROUP BY e.part_a, e.part_b
  HAVING count(*) >= {KTRUSS_K - 2}
)"""


def _ktruss_sql() -> str:
    rounds = ",".join(_ktruss_round_sql(i) for i in range(1, KTRUSS_PEELS + 1))
    return f"""
WITH {_BASKET_CTES},
e0 AS MATERIALIZED (SELECT part_a, part_b FROM pairs),
{rounds}
SELECT CAST(part_a AS BIGINT) AS part_a, CAST(part_b AS BIGINT) AS part_b,
       CAST(truss_sup AS BIGINT) AS truss_sup
FROM e{KTRUSS_PEELS}
"""


KTRUSS_SQL = _ktruss_sql()


def copurchase_ktruss_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B66b: ``copurchase_ktruss`` under ``readStream`` — continual
    order ingest maintains the co-purchase graph WITHOUT re-scanning
    history (the B56b/B58b convention). Front half =
    queries_r14.streamed_support_cut_edges (staged whole-order replay
    → additive pair partials appended per micro-batch, retry-
    idempotent by batch_id-derived overwrite paths → support-cut fold
    over all generations, so pairs crossing the cut only across batch
    boundaries are correctly edges); the folded edges feed the SAME
    peeling kernel, so the stream replay equals the batch B66 oracle
    exactly."""
    from .queries_r14 import streamed_support_cut_edges

    edges = streamed_support_cut_edges(spark, sf_dir, "ktruss_stream")
    if edges is None:
        return spark.createDataFrame(
            [], "part_a long, part_b long, truss_sup long"
        )
    return ktruss_edges_converged(edges.select("part_a", "part_b"), KTRUSS_K)


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C76: per-query RECALL@k of the C8b IVF path against the exact
    C8 brute-force baseline — the ANN family's evaluation harness
    made a first-class relation (the existing test pins only a recall
    FLOOR; tuning nprobe/centroids needs the per-query curve — this
    is how IVF_NPROBE 2→3 was retuned in round 5). Both sides run
    with the family's shared constants and the same rounded-cosine
    deterministic ranking, so the eval measures the INDEX's recall,
    not tie-break noise. Scale: the exact side is the documented
    brute-force baseline (ANN_QUERIES probe rows broadcast against
    the corpus — the eval runs on a query SAMPLE by construction);
    the join/aggregate run on two (queries × k)-sized relations.
    Returns (query_id, n_exact, n_hits, recall)."""
    from .operators.similarity import cosine_topk, ivf_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    exact = cosine_topk(emb, queries, k=ANN_TOPK, round_digits=R).select(
        "query_id", "corpus_id"
    )
    approx = ivf_topk(
        emb,
        queries,
        k=ANN_TOPK,
        num_centroids=IVF_CENTROIDS,
        nprobe=IVF_NPROBE,
        round_digits=R,
    ).select("query_id", "corpus_id")
    hits = (
        exact.join(approx, ["query_id", "corpus_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    qs = queries.select(F.col("vec_id").cast("long").alias("query_id"))
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.lit(ANN_TOPK).cast("long").alias("n_exact"),
        n_hits.alias("n_hits"),
        r9(n_hits.cast("double") / F.lit(ANN_TOPK)).alias("recall"),
    )


ANN_RECALL_SQL = f"""
WITH {_V_SQL},
ex_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         round(list_dot_product(q.e, c.e)
               / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), {R}) AS cosine
  FROM v c, (SELECT * FROM v WHERE vec_id < {ANN_QUERIES}) q
  WHERE c.vec_id != q.vec_id
),
ex AS (
  SELECT query_id, corpus_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
    FROM ex_scored
  ) WHERE rank <= {ANN_TOPK}
),
cent AS (SELECT vec_id AS cent_id, e AS w FROM v ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
{_IVF_CA_SQL},
assign AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
    FROM ca
  ) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, cent_id AS cell FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
    FROM ca WHERE vec_id < {ANN_QUERIES}
  ) WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS corpus_id
  FROM probe p JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id
),
iv_scored AS (
  SELECT query_id, corpus_id,
         round(list_dot_product(q.e, c.e)
               / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), {R}) AS cosine
  FROM cand JOIN v q ON q.vec_id = query_id JOIN v c ON c.vec_id = corpus_id
),
iv AS (
  SELECT query_id, corpus_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
    FROM iv_scored
  ) WHERE rank <= {ANN_TOPK}
),
hits AS (
  SELECT e.query_id, count(*) AS n_hits
  FROM ex e JOIN iv i ON i.query_id = e.query_id AND i.corpus_id = e.corpus_id
  GROUP BY e.query_id
)
SELECT q.vec_id AS query_id,
       CAST({ANN_TOPK} AS BIGINT) AS n_exact,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) * 1.0 / {ANN_TOPK}, 9) + 0.0 AS recall
FROM (SELECT vec_id FROM v WHERE vec_id < {ANN_QUERIES}) q
LEFT JOIN hits h ON h.query_id = q.vec_id
"""


#: two-sided window width (days) for the mean-shift detector
CP_W = 7

#: MAD floor (a constant-count series has MAD 0) and the shift
#: threshold in robust-scale units — the B46 convention
CP_MAD_FLOOR = 1.0
CP_THRESH = 3.0


def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B67: two-window MEAN-SHIFT changepoint screen over per-type
    daily event counts — the regime-change complement of B46's
    outlier screen (a one-day spike is an anomaly; a sustained jump
    in level is a changepoint; MAD z-scores flag the former and
    smear the latter across the window). At each day t of a type's
    daily series: left mean over the CP_W preceding days, right mean
    over [t, t+CP_W), both windows required FULL (row-count frame
    predicates — truncated edge windows would manufacture shifts),
    score = |right − left| / max(noise, floor) where the robust
    scale is the type's median |first difference| of the daily
    series — the LOCAL-NOISE scale, deliberately NOT B46's MAD of
    levels: a balanced regime shift inflates the level-MAD by half
    the step itself and mutes the very shift being measured, while
    day-over-day differences see only noise plus the one jump.

    Engine-parity by construction: daily counts are integers, window
    means are exact integer sums / constant, the scale is a median
    of integer |diffs| — both engines produce bit-identical doubles
    before the 9 dp round (no stddev accumulation-order risk; this
    is WHY the scale is a diff-median, not a pooled variance). The
    only corpus-sized shuffle is the (type, day) count; every window
    runs over the |types| × |days| grid (the B46/B54 convention)."""
    ev = load_table(spark, sf_dir, "events")
    daily = persist_tracked(
        ev.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return _changepoint_from_daily(daily)


def _changepoint_from_daily(daily: DataFrame) -> DataFrame:
    """The detector tail over an arbitrary (event_type, day, cnt)
    relation — factored out so the B67b stream twin's FOLDED daily
    counts run the identical arithmetic (and so tests can plant a
    daily series without parquet plumbing)."""
    ord_w = Window.partitionBy("event_type").orderBy("day")
    mad = (
        daily.withColumn("prev", F.lag("cnt").over(ord_w))
        .filter(F.col("prev").isNotNull())
        .withColumn("adiff", F.abs(F.col("cnt") - F.col("prev")))
        .groupBy("event_type")
        .agg(F.percentile("adiff", F.lit(0.5)).alias("mad"))
    )
    wl = ord_w.rowsBetween(-CP_W, -1)
    wr = ord_w.rowsBetween(0, CP_W - 1)
    scored = (
        daily.withColumn("left_mean", F.avg("cnt").over(wl))
        .withColumn("n_left", F.count(F.lit(1)).over(wl))
        .withColumn("right_mean", F.avg("cnt").over(wr))
        .withColumn("n_right", F.count(F.lit(1)).over(wr))
        .filter((F.col("n_left") == CP_W) & (F.col("n_right") == CP_W))
        .join(F.broadcast(mad), "event_type")
    )
    score = r9(
        F.abs(F.col("right_mean") - F.col("left_mean"))
        / F.greatest(F.col("mad"), F.lit(CP_MAD_FLOOR))
    )
    return scored.select(
        "event_type",
        "day",
        "cnt",
        r9(F.col("left_mean")).alias("left_mean"),
        r9(F.col("right_mean")).alias("right_mean"),
        score.alias("score"),
        (score > CP_THRESH).alias("is_changepoint"),
    )


#: replay micro-batches for the staged event stream (B67b)
CP_STREAM_BATCHES = 3


def events_stream_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """B67b: ``events_changepoint`` under ``readStream`` — continual
    event ingest maintains the daily-count relation WITHOUT
    re-scanning history (the B56b/B66b replay convention, with the
    simplest additivity of all: daily COUNTS sum across ANY event
    slicing, no whole-unit constraint needed). Stage events sliced by
    event_id % CP_STREAM_BATCHES, replay one micro-batch per slice;
    each batch appends its own (event_type, day, cnt) partials to a
    batch_id-derived path (``overwrite`` → a retried batch rewrites
    byte-identical partials, the C67 exactly-once convention); the
    fold SUMS partials per (type, day) and the IDENTICAL detector
    tail runs on the folded relation — so the stream replay equals
    the batch B67 oracle exactly. At 100 TB the partials are the
    standing index: a crawl-day's ingest appends one day-grid-sized
    partial and the detector re-reads only the grid, never raw
    events."""
    import glob as _glob
    import os as _os
    import time as _time  # noqa: F401  (mirrors the r13 helper's env)

    from .cache_registry import tracked_mkdtemp
    from .queries_r13 import _slice_replay_stream
    from .streaming import await_or_raise

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    root = tracked_mkdtemp("cp_stream_")
    part_root = _os.path.join(root, "slices")
    stream_dir = _os.path.join(root, "stream")
    _os.makedirs(stream_dir)
    (
        ev.withColumn(
            "slice", (F.col("event_id") % CP_STREAM_BATCHES).cast("int")
        )
        .repartition(CP_STREAM_BATCHES, F.col("slice"))
        .write.partitionBy("slice")
        .mode("overwrite")
        .parquet(part_root)
    )
    stream, n_files = _slice_replay_stream(
        spark,
        part_root,
        stream_dir,
        CP_STREAM_BATCHES,
        "event_id long, ts timestamp, event_type string",
    )
    if stream is None:
        return spark.createDataFrame(
            [],
            "event_type string, day timestamp, cnt long, left_mean double,"
            " right_mean double, score double, is_changepoint boolean",
        )
    parts_root = _os.path.join(root, "daily_partials")
    _os.makedirs(parts_root)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(
                "event_type", F.date_trunc("day", F.col("ts")).alias("day")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .write.mode("overwrite")
            .parquet(_os.path.join(parts_root, f"b{batch_id:05d}"))
        )

    q = (
        stream.writeStream.foreachBatch(_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", _os.path.join(root, "ckpt"))
        .start()
    )
    await_or_raise(q)
    if not _glob.glob(_os.path.join(parts_root, "b*")):
        return spark.createDataFrame(
            [],
            "event_type string, day timestamp, cnt long, left_mean double,"
            " right_mean double, score double, is_changepoint boolean",
        )
    daily = persist_tracked(
        spark.read.schema("event_type string, day timestamp, cnt long")
        .option("recursiveFileLookup", "true")
        .parquet(parts_root)
        .groupBy("event_type", "day")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    return _changepoint_from_daily(daily)


EVENTS_CHANGEPOINT_SQL = f"""
WITH daily AS MATERIALIZED (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
diffs AS (
  SELECT event_type,
         abs(cnt - lag(cnt) OVER (PARTITION BY event_type ORDER BY day)) AS adiff
  FROM daily
),
mad AS (
  SELECT event_type, median(adiff) AS mad
  FROM diffs WHERE adiff IS NOT NULL
  GROUP BY event_type
),
win AS (
  SELECT event_type, day, cnt,
         avg(cnt) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN {CP_W} PRECEDING AND 1 PRECEDING) AS left_mean,
         count(*) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN {CP_W} PRECEDING AND 1 PRECEDING) AS n_left,
         avg(cnt) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN CURRENT ROW AND {CP_W - 1} FOLLOWING) AS right_mean,
         count(*) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN CURRENT ROW AND {CP_W - 1} FOLLOWING) AS n_right
  FROM daily
)
SELECT w.event_type, w.day, w.cnt,
       round(w.left_mean, 9) + 0.0 AS left_mean,
       round(w.right_mean, 9) + 0.0 AS right_mean,
       round(abs(w.right_mean - w.left_mean)
             / greatest(m.mad, {CP_MAD_FLOOR}), 9) + 0.0 AS score,
       round(abs(w.right_mean - w.left_mean)
             / greatest(m.mad, {CP_MAD_FLOOR}), 9) + 0.0 > {CP_THRESH}
         AS is_changepoint
FROM win w JOIN mad m ON w.event_type = m.event_type
WHERE w.n_left = {CP_W} AND w.n_right = {CP_W}
"""


#: hop-plot depth. 4 is where the test graphs' growth flattens
#: (sf0.001 saturates its 200-node component by t=3; sf0.01 is still
#: growing at t=4 — measured reach rows 456k) while keeping the exact
#: relation bounded at every test SF.
HOP_T = 4


def copurchase_hopplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B68: EXACT neighborhood function / hop-plot of the co-purchase
    graph — N(v, t) = #{u : dist(v, u) ≤ t} for t = 0..HOP_T, the
    distance-structure classic (effective diameter, hop-plot) beside
    the family's cohesion (k-core/k-truss) and centrality (PageRank)
    kernels. Kernel = operators/graph.reach_counts (iterated frontier
    expansion on the materialized reach relation, per-round lineage
    cuts). SCALE HONESTY: the exact reach relation is inherently
    O(n²) on a connected graph — this is the ORACLE-GROUNDABLE twin
    (bounded on the support-cut graphs: ≤ 0.5 M rows at the bench
    SFs); the 100× production path is B68b `copurchase_hyperball`
    (HLL sketch propagation, O(n·64) rows per round), whose tolerance
    against THIS query is pinned in tests/test_r17.py."""
    _, pairs = _basket_pair_counts(spark, sf_dir)
    edges = persist_tracked(pairs.select("part_a", "part_b"))
    return reach_counts(edges, HOP_T)


def _hopplot_round_sql(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
r{i} AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM {prev}
    UNION ALL
    SELECT p.src, s.v AS dst FROM {prev} p JOIN sym s ON s.u = p.dst
  )
)"""


def _hopplot_sql() -> str:
    rounds = ",".join(_hopplot_round_sql(i) for i in range(1, HOP_T + 1))
    hops = "\nUNION ALL\n".join(
        f"SELECT src, {t} AS hop, count(*) AS n_reach FROM r{t} GROUP BY src"
        for t in range(0, HOP_T + 1)
    )
    return f"""
WITH {_BASKET_CTES},
sym AS MATERIALIZED (
  SELECT part_a AS u, part_b AS v FROM pairs
  UNION ALL
  SELECT part_b AS u, part_a AS v FROM pairs
),
r0 AS MATERIALIZED (SELECT DISTINCT u AS src, u AS dst FROM sym),
{rounds}
SELECT CAST(src AS BIGINT) AS part, CAST(hop AS BIGINT) AS hop,
       CAST(n_reach AS BIGINT) AS n_reach
FROM ({hops})
"""


HOPPLOT_SQL = _hopplot_sql()


def copurchase_eff_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B68c: EFFECTIVE DIAMETER of the co-purchase graph — the
    one-row summary the hop-plot exists to answer (the classic
    "90 % of reachable pairs are within d hops" metric, Palmer et
    al. / the HyperANF reporting convention, with the standard
    linear interpolation between the bracketing hops). Derived
    entirely from B68's exact reach relation: per-hop totals
    T_t = Σ_v N(v, t) over the ≤ HOP_T+1-row hop grid, target =
    0.9 · T_{HOP_T} (the observed horizon — the support-cut graph's
    balls saturate well inside HOP_T at every test SF, measured),
    t90 = the first hop meeting the target, eff_diameter =
    (t90 − 1) + (target − T_{t90−1}) / (T_{t90} − T_{t90−1}) when a
    previous hop exists, else 0.0. Integer totals → bit-identical
    doubles in both engines before the 9 dp round. Scale: the hop
    grid is HOP_T+1 rows regardless of graph size; the cost IS
    B68's (its scale story applies — at 100× the same rollup reads
    the HyperBall estimates instead)."""
    _, pairs = _basket_pair_counts(spark, sf_dir)
    edges = persist_tracked(pairs.select("part_a", "part_b"))
    per_hop = (
        reach_counts(edges, HOP_T)
        .groupBy("hop")
        .agg(F.sum("n_reach").cast("long").alias("tot"))
    )
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("hop")
    scored = per_hop.select(
        "hop",
        "tot",
        F.max("tot").over(w_all).alias("_max"),
        F.lag("tot").over(w_ord).alias("_prev"),
    ).withColumn("_target", F.lit(0.9) * F.col("_max"))
    hit = (
        scored.filter(F.col("tot") >= F.col("_target"))
        .orderBy("hop")
        .limit(1)
    )
    eff = F.when(
        F.col("_prev").isNull() | (F.col("tot") == F.col("_prev")), F.lit(0.0)
    ).otherwise(
        (F.col("hop") - 1).cast("double")
        + (F.col("_target") - F.col("_prev"))
        / (F.col("tot") - F.col("_prev")).cast("double")
    )
    return hit.select(
        F.col("hop").cast("long").alias("t90"),
        F.col("_max").cast("long").alias("total_reach_pairs"),
        r9(eff).alias("eff_diameter"),
    )


EFF_DIAMETER_SQL = f"""
WITH hp AS MATERIALIZED ({_hopplot_sql()}),
per_hop AS (SELECT hop, sum(n_reach) AS tot FROM hp GROUP BY hop),
scored AS (
  -- 0.9 cast to DOUBLE: DuckDB's bare 0.9 is DECIMAL (exact
  -- arithmetic) while Spark's lit(0.9) is a double — the target must
  -- be the SAME ieee double in both engines or the bracketing hop
  -- can differ at exact-boundary totals
  SELECT hop, tot,
         max(tot) OVER () AS mx,
         lag(tot) OVER (ORDER BY hop) AS prev,
         CAST(0.9 AS DOUBLE) * max(tot) OVER () AS target
  FROM per_hop
)
SELECT CAST(hop AS BIGINT) AS t90,
       CAST(mx AS BIGINT) AS total_reach_pairs,
       round(CASE WHEN prev IS NULL OR tot = prev THEN 0.0
                  ELSE (hop - 1) + (target - prev) / (tot - prev)
             END, 9) + 0.0 AS eff_diameter
FROM scored WHERE tot >= target ORDER BY hop LIMIT 1
"""


def copurchase_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B68b: HyperBall neighborhood function (Boldi–Vigna) — the
    PRODUCTION form of B68: every node carries a 64-register HLL
    sketch of its ball, one merge round per hop (edge join + a
    (node, register) MAX aggregate, map-side combinable — O(n·64)
    rows per round instead of B68's O(n²) reach relation), estimates
    via the standard HLL formula with the small-range correction.
    Everything is built-in column algebra on the sparse long form —
    no UDF, no driver data, deterministic register placement
    (xxhash64). NO SQL ORACLE BY DESIGN (a sketch estimate has no
    engine-independent exact value; DuckDB's hash() is a different
    function): the pytest substitute pins determinism and the
    measured tolerance vs the exact B68 twin (median relative error
    ≈ the 13 % HLL bound for m=64) in tests/test_r17.py — the
    B19/B21 approx-family convention."""
    _, pairs = _basket_pair_counts(spark, sf_dir)
    edges = persist_tracked(pairs.select("part_a", "part_b"))
    return hyperball_counts(edges, HOP_T)


def copurchase_eff_diameter_hb(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """B68d: effective diameter from the HYPERBALL estimates — the
    100× form of B68c made real (B68c's docstring claims "at 100×
    the same rollup reads the HyperBall estimates"; this is that
    query): per-hop estimate totals T̂_t = Σ_v N̂(v, t) over the
    sketches, then the IDENTICAL target/bracket/interpolate rollup.
    Per-node sketch errors are independent, so the TOTALS concentrate
    far inside the per-node 13 % bound and the interpolated diameter
    tracks the exact B68c closely (tolerance pinned in
    tests/test_r17.py). rows-only BY DESIGN, like its B68b input."""
    _, pairs = _basket_pair_counts(spark, sf_dir)
    edges = persist_tracked(pairs.select("part_a", "part_b"))
    per_hop = (
        hyperball_counts(edges, HOP_T)
        .groupBy("hop")
        .agg(F.sum("est_reach").alias("tot"))
    )
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("hop")
    scored = per_hop.select(
        "hop",
        "tot",
        F.max("tot").over(w_all).alias("_max"),
        F.lag("tot").over(w_ord).alias("_prev"),
    ).withColumn("_target", F.lit(0.9) * F.col("_max"))
    hit = (
        scored.filter(F.col("tot") >= F.col("_target"))
        .orderBy("hop")
        .limit(1)
    )
    eff = F.when(
        F.col("_prev").isNull() | (F.col("tot") == F.col("_prev")), F.lit(0.0)
    ).otherwise(
        (F.col("hop") - 1).cast("double")
        + (F.col("_target") - F.col("_prev"))
        / (F.col("tot") - F.col("_prev"))
    )
    return hit.select(
        F.col("hop").cast("long").alias("t90"),
        r9(F.col("_max")).alias("est_total_reach"),
        r9(eff).alias("eff_diameter"),
    )


R17_QUERIES: dict = {
    "copurchase_ktruss": copurchase_ktruss,
    "copurchase_ktruss_stream": copurchase_ktruss_stream,
    "ann_recall_eval": ann_recall_eval,
    "events_changepoint": events_changepoint,
    "events_stream_changepoint": events_stream_changepoint,
    "copurchase_hopplot": copurchase_hopplot,
    "copurchase_eff_diameter": copurchase_eff_diameter,
    # rows-only by design: sketch estimates have no engine-independent
    # exact value (tolerance vs the exact B68/B68c twins pinned in
    # pytest)
    "copurchase_hyperball": copurchase_hyperball,
    "copurchase_eff_diameter_hb": copurchase_eff_diameter_hb,
}

R17_ORACLES: dict = {
    "copurchase_ktruss": KTRUSS_SQL,
    # stream replay == batch: the staged whole-order replay folds to
    # the identical support-cut graph, so the B66 oracle applies
    "copurchase_ktruss_stream": KTRUSS_SQL,
    "ann_recall_eval": ANN_RECALL_SQL,
    "events_changepoint": EVENTS_CHANGEPOINT_SQL,
    # stream replay == batch: daily counts are additive over any
    # event slicing, so the folded relation IS the batch relation
    "events_stream_changepoint": EVENTS_CHANGEPOINT_SQL,
    "copurchase_hopplot": HOPPLOT_SQL,
    "copurchase_eff_diameter": EFF_DIAMETER_SQL,
}
