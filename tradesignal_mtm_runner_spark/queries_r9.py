"""Round-9 surface: the 100 TB scale twin of the exact table profile
and the production lexical x vector hybrid retriever.

Both follow the house conventions: declarative one-scan plans, bounded
broadcast sides, every float through ``round(x, 9) + 0.0`` on both
engines, Spark column names identical to the oracle's.

No counterpart exists in the pandas reference (reference scope is the
MTM loop, runner_mtm.py:71); these extend the profiling (B41) and
retrieval (C52/C53/C30b) families the way a production deployment
composes them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .cache_registry import persist_tracked
from .functions.rounding import r9
from .queries_pipeline import _V_SQL, _emb
from .queries_r8 import (
    BM25_QUERIES,
    BM25_SCORED_CTES,
    RRF_K,
    RRF_POOL,
    RRF_TOPK,
    _PROFILE_COLS,
    bm25_scored,
)
from .sources import load_table

R = 9

#: exact-rerank shortlist depth multiplier for the hybrid's vector arm
#: (C30b uses 40 at ANN_TOPK=5 depth; at RRF_POOL=20 a 4x shortlist is
#: the same 80-candidate budget)
HYB_RERANK_FACTOR = 4


# --- B42 retention cohort ------------------------------------------------------


def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention-cohort rollup over orders: customers are
    cohorted by their FIRST order's month; every later order lands in
    (cohort_month, months-since-cohort) with distinct-customer and
    order counts — the triangle a warehouse retention dashboard reads.
    Plan: one customer-keyed aggregate for the cohort anchor, one
    co-partitioned join back on the same key (no re-shuffle of the
    orders side beyond the first hash), and a small final rollup
    (months x cohorts rows). Month arithmetic is integer
    (year*12+month) on both engines — no interval/DST semantics to
    disagree on."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    first = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    mo = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    mf = F.year("first_dt") * 12 + F.month("first_dt")
    j = o.join(first, "o_custkey")
    return (
        j.groupBy(
            F.date_format("first_dt", "yyyy-MM").alias("cohort_month"),
            (mo - mf).cast("int").alias("month_offset"),
        )
        .agg(
            F.count_distinct("o_custkey").cast("long").alias("n_customers"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )


RETENTION_COHORT_SQL = """
WITH first AS (
  SELECT o_custkey, min(o_orderdate) AS first_dt FROM orders GROUP BY o_custkey
)
SELECT strftime(f.first_dt, '%Y-%m') AS cohort_month,
       CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate))
            - (year(f.first_dt) * 12 + month(f.first_dt)) AS INT) AS month_offset,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o JOIN first f USING (o_custkey)
GROUP BY 1, 2
"""


# --- A27 streaming trending top-k ----------------------------------------------

import itertools as _it_r9  # noqa: E402

TREND_WINDOW = "1 hour"
TREND_WATERMARK = "2 hours"
TREND_TOPK = 3
_TREND_SINK_SEQ = _it_r9.count()


def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending event types per hour FROM THE STREAM: watermarked
    tumbling-window counts maintained by Structured Streaming in
    UPDATE mode — watermark state eviction is ACTIVE in update mode
    (complete mode ignores it and would retain every window forever),
    so state really is bounded by open windows x event types. The
    sink receives one row per counter REVISION; the final counters
    are the last revision per (window, type) — extracted with a
    max-n_events argmax, valid because a counter's n_events strictly
    increases across its revisions. The top-k RANK is applied at read
    over those finals — rank isn't streamable post-aggregation, and
    the split is exactly how a production trending dashboard works
    (the stream maintains counters; the serving query ranks them).
    availableNow replay == batch group-by + rank is the oracle."""
    from .sources import stream_table
    from .streaming import await_or_raise

    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", TREND_WATERMARK)
        .groupBy(F.window(F.col("ts"), TREND_WINDOW).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r9(F.sum("value")).alias("total_value"),
        )
        .select(
            (F.unix_millis(F.col("w.start")) / 1000)
            .cast("long")
            .alias("window_start_epoch"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            "total_value",
        )
    )
    sink = f"trend_sink_{next(_TREND_SINK_SEQ)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    wlast = Window.partitionBy("window_start_epoch", "event_type").orderBy(
        F.desc("n_events")
    )
    final = (
        spark.table(sink)
        .withColumn("_rev", F.row_number().over(wlast))
        .filter(F.col("_rev") == 1)
        .drop("_rev")
    )
    wr = Window.partitionBy("window_start_epoch").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        final.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TREND_TOPK)
        .select(
            "window_start_epoch",
            "event_type",
            "n_events",
            "total_value",
            F.col("rank").cast("int").alias("rank"),
        )
    )


STREAM_TOPK_TRENDING_SQL = f"""
WITH counts AS (
  SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_epoch,
         event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         round(sum(value), 9) + 0.0 AS total_value
  FROM events
  GROUP BY 1, event_type
)
SELECT window_start_epoch, event_type, n_events, total_value,
       CAST(row_number() OVER (PARTITION BY window_start_epoch
                               ORDER BY n_events DESC, event_type ASC) AS INT) AS rank
FROM counts
QUALIFY rank <= {TREND_TOPK}
"""


# --- C57 keep-best dedup decision ---------------------------------------------


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup decision rule: within each near-dup
    cluster keep the most COMPLETE document (max token count,
    deterministic min-doc_id tiebreak) instead of ``dedup_connected``'s
    min-id — the rule real pipelines use (the arbitrary-id keep throws
    away the best version of a page; CCNet/RefinedWeb keep the longest
    representative). Components come from the same simhash near-dup
    graph + min-label propagation; the representative is a per-
    component TWO-STEP argmax (max length, then min id at that length
    — engine-agnostic tie order), two bounded aggregates + two key
    joins on top of the CC labels. Output: every doc with its
    component, the kept representative, and its own keep flag."""
    from .functions.text import tokens
    from .operators.dedup import (
        connected_canonical,
        simhash_near_dup_pairs,
        simhash_signatures,
    )
    from .queries_pipeline import (
        DEDUP_CC_ITERS,
        SIMHASH_MAX_BUCKET,
        SIMHASH_MAX_HAMMING,
        _docs,
    )

    d = _docs(spark, sf_dir)
    sig = simhash_signatures(d)
    pairs = simhash_near_dup_pairs(
        sig, max_hamming=SIMHASH_MAX_HAMMING, max_bucket=SIMHASH_MAX_BUCKET
    )
    comp = connected_canonical(
        d.select("doc_id"), pairs, iters=DEDUP_CC_ITERS
    ).select("doc_id", "canonical_id")
    lens = d.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_toks")
    )
    # one row per doc, consumed by THREE branches (mx, best, final
    # output) — without the persist each branch re-runs the whole
    # simhash + banded-pairs + iterative-CC chain upstream (measured
    # 17 s -> ~6 s at sf0.1); tracked so bench/gen_plans release it
    cl = persist_tracked(comp.join(lens, "doc_id"))
    mx = cl.groupBy("canonical_id").agg(F.max("n_toks").alias("_mx"))
    best = (
        cl.join(mx, "canonical_id")
        .filter(F.col("n_toks") == F.col("_mx"))
        .groupBy("canonical_id")
        .agg(F.min("doc_id").alias("best_id"))
    )
    return (
        cl.join(best, "canonical_id")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("canonical_id").cast("long").alias("canonical_id"),
            F.col("best_id").cast("long").alias("best_id"),
            F.col("n_toks").cast("long").alias("n_toks"),
            (F.col("doc_id") == F.col("best_id")).alias("keep"),
        )
    )


def _keep_best_sql() -> str:
    """Oracle: the dedup_connected chain's CTEs verbatim (simhash
    core, banded candidates, hamming filter, unrolled CC iterations)
    + token lengths + the two-step per-component argmax. ``cl`` is
    MATERIALIZED: it is referenced three times (mx, best, final
    SELECT) and without the hint DuckDB re-inlines — and re-runs —
    the whole simhash+CC chain per reference (measured ~287 s -> 29 s
    at sf0.01; the r16 sim-budget fix)."""
    from .queries_pipeline import DEDUP_CONNECTED_SQL, DEDUP_CC_ITERS

    chain = DEDUP_CONNECTED_SQL.rsplit(
        "SELECT doc_id, lab AS canonical_id", 1
    )[0].rstrip()
    return f"""{chain},
lens AS (
  SELECT doc_id, len(string_split_regex(trim(text), ' +')) AS n_toks
  FROM documents
),
comp AS (SELECT doc_id, lab AS canonical_id FROM l{DEDUP_CC_ITERS}),
cl AS MATERIALIZED (SELECT c.doc_id, c.canonical_id, l.n_toks FROM comp c JOIN lens l USING (doc_id)),
mx AS (SELECT canonical_id, max(n_toks) AS _mx FROM cl GROUP BY canonical_id),
best AS (
  SELECT cl.canonical_id, min(cl.doc_id) AS best_id
  FROM cl JOIN mx ON mx.canonical_id = cl.canonical_id AND cl.n_toks = mx._mx
  GROUP BY cl.canonical_id
)
SELECT CAST(cl.doc_id AS BIGINT) AS doc_id,
       CAST(cl.canonical_id AS BIGINT) AS canonical_id,
       CAST(b.best_id AS BIGINT) AS best_id,
       CAST(cl.n_toks AS BIGINT) AS n_toks,
       cl.doc_id = b.best_id AS keep
FROM cl JOIN best b ON b.canonical_id = cl.canonical_id
"""


# --- B41b approx table profile (the 100 TB drop-in for B41) -------------------


def approx_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE twin of ``table_profile`` (the B17 -> B19 convention
    applied to profiling): identical one-scan long-form output, but
    NDV via ``approx_count_distinct`` (HyperLogLog++). The exact form
    plans a single Expand pass — one input copy per distinct column,
    then a shuffle of every distinct value; at 100 TB that shuffle IS
    the job. The sketch form is a plain partial-aggregable accumulator
    per column: no Expand blow-up, no distinct-value shuffle, one
    constant-size sketch per (column) merged at the driver — the form
    a CBO stats collector actually ships. Accuracy vs the exact NDVs
    is pinned in tests (HLL++ default rsd = 0.05)."""
    li = load_table(spark, sf_dir, "lineitem").select(*_PROFILE_COLS)
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.approx_count_distinct(F.col(c)).alias(f"{c}__ndv"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            F.avg(c).alias(f"{c}__avg"),
        ]
    one = li.agg(*aggs)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"{c}__rows").alias("n_rows"),
                        F.col(f"{c}__nulls").alias("n_nulls"),
                        F.col(f"{c}__ndv").alias("n_distinct_approx"),
                        r9(F.col(f"{c}__min")).alias("min_value"),
                        r9(F.col(f"{c}__max")).alias("max_value"),
                        r9(F.col(f"{c}__avg")).alias("avg_value"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("s")
    )
    return stacked.select("s.*")


# --- C53b hybrid retrieval: BM25 x PQ+rerank RRF fusion -----------------------


def _hyb_query_ids() -> list[int]:
    """The shared query-id space: BM25_QUERIES' keys double as vec_ids
    (documents.doc_id and embeddings.vec_id share the 0..N-1 id space,
    so vec_id q is 'the embedding of doc q' — the standard setup where
    a hybrid query carries both a term list and an embedding)."""
    return sorted(BM25_QUERIES)


def hybrid_bm25_pq_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION two-tier hybrid retriever: BM25 lexical
    shortlist (C52's scoring chain) fused with the PQ/ADC + exact
    re-rank vector shortlist (C30b's two-stage shape) by reciprocal
    rank fusion. Unlike ``hybrid_search_rrf`` (whose retriever A is a
    deliberate exact-cosine baseline), NEITHER arm scans the full
    corpus with exact math: the lexical arm touches only
    query-vocabulary postings, the vector arm scores compressed codes
    and exact-reranks an RRF_POOL x {HYB_RERANK_FACTOR} shortlist.
    rrf = sum 1/(K + rank); FULL OUTER rank join so a doc surfaced by
    one arm still scores; all per-query work partitions by query_id."""
    from .operators.similarity import pq_rerank_topk
    from .queries_pipeline_extras import PQ_K, PQ_M

    qids = _hyb_query_ids()

    # lexical arm: BM25 at pool depth
    wl = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    lex = (
        bm25_scored(spark, sf_dir)
        .withColumn("rank_lex", F.row_number().over(wl))
        .filter(F.col("rank_lex") <= RRF_POOL)
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "rank_lex",
        )
    )

    # vector arm: PQ/ADC shortlist -> exact cosine re-rank (the C30b
    # shape, shared helper)
    emb = _emb(spark, sf_dir)
    qvecs = emb.filter(F.col("vec_id").isin(qids))
    vec = pq_rerank_topk(
        emb,
        qvecs,
        k=RRF_POOL,
        shortlist=RRF_POOL * HYB_RERANK_FACTOR,
        num_subspaces=PQ_M,
        num_codes=PQ_K,
        round_digits=R,
    ).select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("corpus_id").cast("long").alias("doc_id"),
        F.col("rank").alias("rank_vec"),
    )

    fused = lex.join(vec, ["query_id", "doc_id"], "full_outer").withColumn(
        "rrf",
        r9(
            F.coalesce(1.0 / (RRF_K + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("rank_vec")), F.lit(0.0))
        ),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= RRF_TOPK)
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            "doc_id",
            F.col("rrf").alias("rrf_score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _hybrid_sql() -> str:
    """Oracle: the BM25 scoring CTEs verbatim + the PQ/ADC chain (the
    ANN_PQ_SQL shape with the query set restricted to the shared
    query ids) + exact re-rank + RRF fusion."""
    from .queries_pipeline_extras import PQ_K, PQ_M, PQ_SUB

    qid_list = ", ".join(str(q) for q in _hyb_query_ids())
    pq_diff = (
        f"list_transform(range(1, {PQ_SUB + 1}), "
        f"i -> v.e[cb.m * {PQ_SUB} + i] - cb.w[i])"
    )
    return f"""
WITH {BM25_SCORED_CTES},
lex AS (
  SELECT CAST(query_id AS INT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id, rank_lex
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id ASC) AS rank_lex
    FROM scored
  ) WHERE rank_lex <= {RRF_POOL}
),
{_V_SQL},
seed0 AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {PQ_K}),
seed AS (SELECT e, row_number() OVER (ORDER BY vec_id) - 1 AS code FROM seed0),
cb AS (
  SELECT t.m, s.code,
         list_transform(range(1, {PQ_SUB + 1}), i -> s.e[t.m * {PQ_SUB} + i]) AS w
  FROM seed s CROSS JOIN (SELECT range AS m FROM range({PQ_M})) t
),
encd AS (
  SELECT v.vec_id, cb.m, cb.code, {pq_diff} AS d
  FROM v CROSS JOIN cb
),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY round(list_dot_product(d, d), {R}) ASC, code ASC) AS rn
    FROM encd
  ) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS query_id, m, code, round(list_dot_product(d, d), {R}) AS dist
  FROM encd WHERE vec_id IN ({qid_list})
),
adc AS (
  SELECT l.query_id, e.vec_id AS corpus_id, round(sum(l.dist), {R}) AS approx_dist
  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code AND e.vec_id != l.query_id
  GROUP BY l.query_id, e.vec_id
),
cand AS (
  SELECT query_id, corpus_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY approx_dist ASC, corpus_id ASC) AS rn
    FROM adc
  ) WHERE rn <= {RRF_POOL * HYB_RERANK_FACTOR}
),
rr AS (
  SELECT cd.query_id, cd.corpus_id,
         round(list_dot_product(q.e, t.e)
               / (sqrt(list_dot_product(q.e, q.e))
                  * sqrt(list_dot_product(t.e, t.e))), {R}) AS cosine
  FROM cand cd
  JOIN v q ON q.vec_id = cd.query_id
  JOIN v t ON t.vec_id = cd.corpus_id
),
vec AS (
  SELECT CAST(query_id AS INT) AS query_id, CAST(corpus_id AS BIGINT) AS doc_id, rank_vec
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, corpus_id ASC) AS rank_vec
    FROM rr
  ) WHERE rank_vec <= {RRF_POOL}
),
fused AS (
  SELECT COALESCE(lex.query_id, vec.query_id) AS query_id,
         COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         round(COALESCE(1.0 / ({RRF_K} + lex.rank_lex), 0.0)
               + COALESCE(1.0 / ({RRF_K} + vec.rank_vec), 0.0), {R}) + 0.0 AS rrf_score
  FROM lex FULL OUTER JOIN vec USING (query_id, doc_id)
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT CAST(query_id AS INT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       rrf_score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {RRF_TOPK}
"""


# --- C55 character-entropy quality screen ------------------------------------

#: keep floor: natural text sits near 4 bits/char; random hex ~4, but
#: single-char spam / whitespace runs collapse toward 0 — the screen
#: targets the degenerate tail, so the floor is deliberately low
ENTROPY_MIN_BITS = 2.0


def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the cheap
    gibberish/degenerate-text screen (binary spam, single-char floods,
    whitespace runs all collapse toward 0 bits/char; natural language
    sits near 4). Complements the token-level quality family (C4/C14/
    C45: those need tokenizable text; entropy works on ANY byte soup —
    it's the filter you run FIRST). Plan: one char explode + two
    aggregates ((doc, char) counts, then the per-doc entropy fold) —
    partial maps collapse per (doc, char) so the shuffle carries at
    most |alphabet| rows per doc, not characters."""
    from .queries_pipeline import _docs

    d = _docs(spark, sf_dir)
    # Split on Unicode CODE POINTS, not UTF-16 code units: Java regex
    # `.` consumes a full code point (surrogate pairs stay whole),
    # matching DuckDB's string_split(text, '') semantics — F.split on
    # "" would shear emoji/non-BMP chars into surrogate halves and
    # diverge from the oracle (ADVICE r9).
    chars = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("text", F.lit(r"(?s)."), 0)
        ).alias("ch"),
    )
    per_char = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n = F.sum("cnt")
    # entropy = log2(n) - (1/n) * sum cnt*log2(cnt): one pass, no
    # pre-computed per-doc total needed (algebraic identity)
    ent = F.log2(n) - F.sum(F.col("cnt") * F.log2("cnt")) / n
    per_doc = per_char.groupBy("doc_id").agg(
        n.cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_unique_chars"),
        r9(ent).alias("entropy_bits"),
    )
    return per_doc.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_chars",
        "n_unique_chars",
        "entropy_bits",
        (F.col("entropy_bits") >= ENTROPY_MIN_BITS).alias("keep"),
    )


DOC_CHAR_ENTROPY_SQL = f"""
WITH chars AS (
  SELECT doc_id, u.ch AS ch
  FROM (SELECT doc_id, string_split(text, '') AS cs FROM documents),
       UNNEST(cs) AS u(ch)
  WHERE u.ch != ''
),
per_char AS (
  SELECT doc_id, ch, count(*) AS cnt FROM chars GROUP BY doc_id, ch
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_chars,
         CAST(count(*) AS BIGINT) AS n_unique_chars,
         round(log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt), 9) + 0.0
           AS entropy_bits
  FROM per_char GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_chars, n_unique_chars,
       entropy_bits, entropy_bits >= {ENTROPY_MIN_BITS} AS keep
FROM per_doc
"""


# --- C56 Zipf-slope corpus diagnostic -----------------------------------------

ZIPF_TOP = 100  # fit over the top-N terms (bounded relation)


def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary — the classic corpus-
    health diagnostic (natural text has log-freq ~ -1 x log-rank;
    template/machine-generated corpora bend the slope). Plan: one
    token aggregate (the C15 shape), a distributed TakeOrdered cut to
    the top {ZIPF_TOP} terms (never a global sort of the vocabulary),
    deterministic re-rank of that bounded relation, then ordinary
    least squares in log-log space computed from SUFFICIENT STATISTICS
    (sum x, sum y, sum xy, sum x^2, sum y^2 — one aggregate row;
    distributed regression without collecting a single term). Output
    is one row: slope, intercept, r^2, n_terms — every statistic
    value-hashed."""
    from .functions.text import tokens
    from .queries_pipeline import _docs

    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(ZIPF_TOP)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))  # bounded: ZIPF_TOP rows
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r2 = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    ) / (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        r9(slope).alias("zipf_slope"),
        r9(intercept).alias("zipf_intercept"),
        r9(r2).alias("r_squared"),
        F.col("n").cast("long").alias("n_terms"),
    )


TOKEN_ZIPF_SQL = f"""
WITH counts AS (
  SELECT u.tok AS tok, count(*) AS cnt
  FROM (SELECT string_split_regex(trim(text), ' +') AS t FROM documents),
       UNNEST(t) AS u(tok)
  GROUP BY u.tok
),
top AS (
  SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank
  FROM counts QUALIFY rank <= {ZIPF_TOP}
),
xy AS (
  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y FROM top
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM xy
)
SELECT round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) + 0.0 AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 9) + 0.0
         AS zipf_intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) + 0.0 AS r_squared,
       CAST(n AS BIGINT) AS n_terms
FROM s
"""


R9_QUERIES = {
    "approx_table_profile": approx_table_profile,
    "hybrid_bm25_pq_rrf": hybrid_bm25_pq_rrf,
    "doc_char_entropy": doc_char_entropy,
    "token_zipf_fit": token_zipf_fit,
    "dedup_keep_best": dedup_keep_best,
    "retention_cohort": retention_cohort,
    "stream_topk_trending": stream_topk_trending,
}

# approx_table_profile is rows-only BY DESIGN (sketch NDVs are
# estimator-specific — DuckDB's approx_count_distinct uses a different
# HLL than Spark's HLL++, so values legitimately differ inside the
# rsd band; the tolerance pin vs the exact B41 profile lives in
# tests/test_r9.py)
R9_ORACLES = {
    "hybrid_bm25_pq_rrf": _hybrid_sql(),
    "doc_char_entropy": DOC_CHAR_ENTROPY_SQL,
    "token_zipf_fit": TOKEN_ZIPF_SQL,
    "dedup_keep_best": _keep_best_sql(),
    "retention_cohort": RETENTION_COHORT_SQL,
    "stream_topk_trending": STREAM_TOPK_TRENDING_SQL,
}
