"""Round-8 surface: warehouse-history, profiling, distributed PCA,
and text-retrieval operators.

Each query follows the house rules: declarative DataFrame plans
(windows partitioned by the natural key, one corpus pass per
aggregate, bounded model state driver-side where iteration is
inherent), every float rounded through ``r9``-style ``round(x, 9) +
0.0`` on BOTH engines, and a DuckDB oracle whose column names match
the Spark output exactly.

No counterpart exists in the pandas reference (reference scope is the
MTM loop, runner_mtm.py:71); these extend the engine the way a
training-data platform needs: CDC history construction, table
profiling, matrix-free PCA, BM25 / hybrid retrieval, and CCNet-style
boilerplate stripping.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.rounding import ROUND as R
from .functions.rounding import r9
from .operators.lexical import BM25_B, BM25_K1
from .queries_pipeline import _docs, _emb
from .sources import load_table


# --- B40 SCD2 history build ---------------------------------------------------


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build from a change stream —
    the warehouse complement of ``upsert_latest``/``stream_upsert``
    (those keep only the latest row; SCD2 keeps EVERY version with a
    validity interval). Per user: collapse same-timestamp changes with
    the engine-agnostic two-step tiebreak (max value at the ts), then
    ``lead(ts)`` closes each version's interval; the open interval is
    the current row. One key shuffle + one key-partitioned window —
    at 100 TB this parallelizes over users with bounded per-key state,
    and the layout is exactly what a MERGE-based SCD2 job would write."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    ver = ev.groupBy("user_id", "ts").agg(F.max("value").alias("value"))
    w = Window.partitionBy("user_id").orderBy("ts")
    return ver.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        r9(F.col("value")).alias("value"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


SCD2_HISTORY_SQL = """
WITH ver AS (
  SELECT user_id, ts, max(value) AS value
  FROM events GROUP BY user_id, ts
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
       round(value, 9) + 0.0 AS value,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
FROM ver
"""


# --- B41 table profile (ANALYZE shape) ----------------------------------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-statistics profiling (the ANALYZE TABLE / data-quality
    shape): null count, exact distinct count, min/max/avg for every
    profiled column in ONE scan — Spark plans the multi-distinct
    aggregate with a single Expand pass, so the table is read once no
    matter how many columns are profiled (vs one scan per column for
    naive per-column ANALYZE). Output is long-form (column, stats) so
    adding columns never changes the schema. At 100 TB this is the
    stats-collection pass that feeds the CBO and data-quality gates."""
    li = load_table(spark, sf_dir, "lineitem").select(*_PROFILE_COLS)
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__ndv"),
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
                        F.col(f"{c}__ndv").alias("n_distinct"),
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


TABLE_PROFILE_SQL = " UNION ALL ".join(
    f"""
SELECT '{c}' AS column_name,
       count(*) AS n_rows,
       CAST(sum(CAST({c} IS NULL AS BIGINT)) AS BIGINT) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       round(min({c}), 9) + 0.0 AS min_value,
       round(max({c}), 9) + 0.0 AS max_value,
       round(avg({c}), 9) + 0.0 AS avg_value
FROM lineitem"""
    for c in _PROFILE_COLS
)


# --- C51 distributed PCA via matrix-free power iteration ----------------------

PCA_ITERS = 4


def _collect_vec(df: DataFrame, pos_col: str, val_col: str, dim: int) -> list:
    rows = df.collect()  # bounded: EMB_DIM rows (the Lloyd/LR pattern)
    v = [0.0] * dim
    for r in rows:
        v[int(r[pos_col])] = float(r[val_col])
    return v


def _r9_scalar(x: float) -> float:
    """Python-side mirror of the r9 column helper: Spark's round()
    is BigDecimal.valueOf(x).setScale(9, HALF_UP), and
    BigDecimal.valueOf goes through the double's SHORTEST decimal
    repr — which is exactly Python's repr — so decimal HALF_UP over
    repr reproduces it bit-for-bit (Python's built-in round is
    HALF_EVEN and would differ at exact .5 boundaries of the 9th
    decimal). + 0.0 canonicalizes IEEE -0.0 like the column form."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("1E-9"), rounding=ROUND_HALF_UP
        )
    ) + 0.0


def _gram_matrix(df: DataFrame, col: str, dim: int):
    """ONE-PASS Gram matrix G = Σ_rows x xᵀ over an array<double>
    column — the power-iteration accelerator (optimization r16, guide
    §1.2 first-principles + §4.2): the matrix-free update
    u = Σ_x x·(x·v) equals G·v, so computing the d×d Gram ONCE
    replaces one full corpus pass PER ITERATION with a single pass and
    d²-float driver math per iteration (bounded model state — d=64 →
    32 KB, the Lloyd/LR closure-literal convention). Each Arrow batch
    is handed to numpy/BLAS whole (never per-row Python); per-task
    partials are one d²-float row each, summed driver-side in
    partition order."""
    import numpy as np
    import pandas as pd

    def _partial(it):
        tot = np.zeros((dim, dim), dtype=np.float64)
        seen = False
        for pdf in it:
            if len(pdf):
                m = np.asarray(pdf[col].tolist(), dtype=np.float64)
                tot += m.T @ m
                seen = True
        if seen:
            yield pd.DataFrame({"g": [tot.ravel().tolist()]})

    parts = df.select(col).mapInPandas(_partial, schema="g array<double>").collect()
    g = np.zeros((dim, dim), dtype=np.float64)
    for r in parts:  # bounded: one row per non-empty task
        g += np.asarray(r["g"], dtype=np.float64).reshape(dim, dim)
    return g


def _power_iterate_gram(g, v: list, iters: int, round_digits: int) -> list:
    """The power-iteration chain over a precomputed Gram matrix,
    mirroring the distributed form's per-step arithmetic: u = G·v
    rounded per position with the Spark HALF_UP round (_r9_scalar),
    then v = round(u / ‖u‖, R) + 0.0 exactly as the distributed
    driver loop did."""
    import math

    import numpy as np

    for _ in range(iters):
        u = [_r9_scalar(x) for x in (g @ np.asarray(v, dtype=np.float64))]
        norm = math.sqrt(sum(x * x for x in u))
        v = [round(x / norm, round_digits) + 0.0 for x in u]
    return v


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by MATRIX-FREE
    power iteration — the distributed-PCA shape that scales: no d x d
    covariance is ever materialized; each iteration is ONE corpus pass
    computing v' = sum_x (x-mu) * ((x-mu) . v) with the d-float v
    riding the expression as a closure literal (the IVF/Lloyd
    bounded-model pattern — data never leaves the cluster, only the
    64-float model round-trips per iteration). Per-iteration rounding
    on both engines kills drift compounding, so the unrolled-CTE
    DuckDB oracle is hash-exact. Output = per-vector projection onto
    the final component (every model weight is value-hashed through
    the projections), plus the centered L2 norm for scree-style
    variance accounting."""
    from .cache_registry import persist_tracked

    # One parquet scan feeds the dim probe, the mean pass, all
    # PCA_ITERS power iterations, and the final projection — persist
    # it so passes 2..N+2 are memory reads, not re-scans (VERDICT r9:
    # this was the slowest non-sweep key at sf1 purely from 10x
    # re-reading). Tracked -> released by the bench/plan harness.
    emb = persist_tracked(
        _emb(spark, sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
    )

    # pass 1: the corpus mean, rounded (d rows collected once — the
    # row count IS the dimensionality, so the former first()-probe job
    # is gone; optimization r16)
    mu_rows = (
        emb.select(F.posexplode("e").alias("pos", "x"))
        .groupBy("pos")
        .agg(r9(F.avg("x")).alias("m"))
        .collect()
    )
    dim = len(mu_rows)
    mu = [0.0] * dim
    for r in mu_rows:
        mu[int(r["pos"])] = float(r["m"])
    mu_lit = F.array(*[F.lit(m) for m in mu])
    centered = F.zip_with(F.col("e"), mu_lit, lambda x, m: x - m)

    # power iteration over the ONE-PASS Gram matrix (optimization r16,
    # guide §1.2: the matrix-free update u = Σ_x x·(x·v) is G·v, so
    # PCA_ITERS corpus passes + driver collects collapse into one
    # corpus pass + d²-float driver math per step; v0 = 1/sqrt(d),
    # deterministic, never orthogonal to pc1 on real data; per-step
    # rounding mirrors the distributed form — _power_iterate_gram)
    g = _gram_matrix(emb.select(centered.alias("c")), "c", dim)
    v = _power_iterate_gram(
        g, [round(1.0 / math.sqrt(dim), R)] * dim, PCA_ITERS, R
    )

    v_lit = F.array(*[F.lit(x) for x in v])
    proj = F.aggregate(
        F.zip_with(centered, v_lit, lambda c, w: c * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cnorm = F.sqrt(
        F.aggregate(
            F.transform(centered, lambda c: c * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        r9(proj).alias("pc1_proj"),
        r9(cnorm).alias("centered_norm"),
    )


def _pca_sql() -> str:
    """Unrolled power-iteration oracle: the mean and every v_k are
    1-row LIST CTEs; iterations mirror the Spark arithmetic with the
    same per-step round(x, 9) + 0.0."""
    head = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
d AS (SELECT len(v) AS dim FROM e LIMIT 1),
mu AS (
  -- DuckDB 1.0.0 lacks UNNEST ... WITH ORDINALITY; generate_subscripts
  -- zips with unnest in the same SELECT and is 1-based (pos is only
  -- grouped/ordered on, never used as a value, so the base is moot)
  SELECT list(m ORDER BY pos) AS m FROM (
    SELECT pos, round(avg(x), 9) + 0.0 AS m
    FROM (SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e)
    GROUP BY pos
  )
),
c AS (
  SELECT vec_id,
         list_transform(list_zip(v, (SELECT m FROM mu)),
                        p -> p[1] - p[2]) AS cv
  FROM e
),
v0 AS (
  SELECT list_transform(mu.m, x -> round(1.0 / sqrt(d.dim), 9)) AS w
  FROM mu, d
)"""
    steps = []
    for k in range(PCA_ITERS):
        steps.append(f"""
u{k} AS (
  SELECT list(u ORDER BY pos) AS u FROM (
    SELECT pos, round(sum(cx * dp), 9) + 0.0 AS u
    FROM (
      SELECT generate_subscripts(cv, 1) AS pos, unnest(cv) AS cx,
             list_dot_product(cv, (SELECT w FROM v{k})) AS dp
      FROM c
    )
    GROUP BY pos
  )
),
v{k + 1} AS (
  SELECT list_transform(u, x -> round(x / sqrt(list_dot_product(u, u)), 9) + 0.0) AS w
  FROM u{k}
)""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(list_dot_product(cv, (SELECT w FROM v{PCA_ITERS})), 9) + 0.0 AS pc1_proj,
       round(sqrt(list_dot_product(cv, cv)), 9) + 0.0 AS centered_norm
FROM c
"""
    )


EMBEDDING_PCA_SQL = _pca_sql()


# --- C52 BM25 retrieval scoring -----------------------------------------------

BM25_TOPK = 5
#: fixed query set over the synthetic vocabulary — deterministic, and
#: multi-term so the per-term partial scores genuinely accumulate
BM25_QUERIES = {
    0: ("spark", "join", "table"),
    1: ("stream", "window", "agg"),
    2: ("hash", "merge", "sort"),
}


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 scoring chain shared by ``bm25_topk`` and the hybrid
    fusion (queries_r9): per-(query, doc) summed BM25 score, no rank
    cut — callers apply their own top-k window at their own depth."""
    from .functions.text import tokens

    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )

    terms = sorted({t for q in BM25_QUERIES.values() for t in q})
    tf = (
        toks.filter(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))

    qrel = spark.createDataFrame(
        [(qid, t) for qid, q in sorted(BM25_QUERIES.items()) for t in q],
        "query_id int, tok string",
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .join(F.broadcast(qrel), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(
            r9(
                F.sum(idf * F.col("tf") * (BM25_K1 + 1) / denom)
            ).alias("score")
        )
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of the document corpus for a fixed query set — the
    lexical half of production retrieval (the tf-idf query C18 scores
    *documents' own* terms; BM25 scores documents AGAINST queries with
    the saturation + length normalization real search uses). Plan: one
    tokenize pass filtered to the query vocabulary (a tiny literal IN
    — the filter rides the scan), per-(doc, term) tf and per-term df
    aggregates, corpus avgdl as a 1-row broadcast scalar, then the
    score is pure column algebra and a per-query top-k window. The
    query relation is a driver literal (bounded), never a shuffle
    side. idf uses the +1 form: ln(1 + (N - df + .5)/(df + .5))."""
    scored = bm25_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


_BM25_QREL_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, q in sorted(BM25_QUERIES.items()) for t in q
)
_BM25_TERMS_IN = ", ".join(
    f"'{t}'" for t in sorted({t for q in BM25_QUERIES.values() for t in q})
)

#: the BM25 scoring chain as reusable CTE text (no WITH, no rank cut)
#: — shared verbatim by BM25_SQL and the r9 hybrid-fusion oracle
BM25_SCORED_CTES = f"""toks AS (
  SELECT doc_id, u.tok AS tok
  FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents),
       UNNEST(t) AS u(tok)
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ({_BM25_TERMS_IN}) GROUP BY doc_id, tok
),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
qrel(query_id, tok) AS (VALUES {_BM25_QREL_VALUES}),
scored AS (
  SELECT q.query_id, tf.doc_id,
         round(sum(
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * tf.tf * ({BM25_K1} + 1)
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))
         ), 9) + 0.0 AS score
  FROM tf
  JOIN dfreq f USING (tok)
  JOIN qrel q USING (tok)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
)"""

BM25_SQL = f"""
WITH {BM25_SCORED_CTES},
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS INT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {BM25_TOPK}
"""


# --- C53 hybrid retrieval: reciprocal-rank fusion ------------------------------

RRF_K = 60
RRF_TOPK = 5
RRF_POOL = 20  # per-retriever candidate depth before fusion


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of TWO retrievers over the same query
    set — the standard hybrid-search combiner (rrf = sum 1/(K + rank);
    rank-space fusion needs no score calibration between retrievers).
    Retriever A is exact cosine; retriever B is the PQ/ADC compressed-
    domain scorer (C30) — fusing exact with compressed is the shape a
    two-tier production retriever uses, and disagreement between them
    is exactly what RRF smooths. Each list is cut to RRF_POOL before
    fusion (bounded per query), fused with a FULL OUTER rank join so a
    doc surfaced by only one retriever still scores, then re-cut to
    top-k. All per-query work partitions by query_id."""
    from .operators.similarity import cosine_topk, pq_topk
    from .queries_pipeline import ANN_QUERIES
    from .queries_pipeline_extras import PQ_K, PQ_M

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)

    # retriever A: exact cosine, ranked directly on the ROUNDED score
    # (engine-stable rank, same recipe as ann_cosine_topk) — no
    # over-fetch + re-rank needed
    a = cosine_topk(emb, queries, k=RRF_POOL, round_digits=R).select(
        "query_id", "corpus_id", F.col("rank").alias("rank_a")
    )

    # retriever B: PQ/ADC — pq_topk already ranks on the rounded
    # approximate distance with corpus_id tie-break
    b = pq_topk(
        emb,
        queries,
        k=RRF_POOL,
        num_subspaces=PQ_M,
        num_codes=PQ_K,
        round_digits=R,
    ).select("query_id", "corpus_id", F.col("rank").alias("rank_b"))

    fused = (
        a.join(b, ["query_id", "corpus_id"], "full_outer")
        .withColumn(
            "rrf",
            r9(
                F.coalesce(1.0 / (RRF_K + F.col("rank_a")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("rank_b")), F.lit(0.0))
            ),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf"), F.asc("corpus_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= RRF_TOPK)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("corpus_id").cast("long").alias("corpus_id"),
            F.col("rrf").alias("rrf_score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# --- C54 boilerplate segment stripping (CCNet / RefinedWeb rule) ---------------

SEG_TOKENS = 8     # tokens per segment
BOILER_DF = 5      # segment document-frequency at/above which it's boilerplate
BOILER_MAX_RATIO = 0.5


def boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document boilerplate stripping by DOCUMENT FREQUENCY — the
    CCNet/RefinedWeb line-dedup rule (a unit repeated across many
    documents is chrome/boilerplate, not content), distinct from C28's
    substring dedup (which flags ANY duplicated span; this thresholds
    on how many DISTINCT documents share the unit). Units are
    consecutive {SEG_TOKENS}-token segments (the corpus has no line
    structure): built row-locally with sequence/transform, hashed with
    md5 so both engines agree, then ONE (segment -> distinct-doc
    count) aggregate joins back to score each doc: boilerplate ratio +
    keep flag. Two aggregates + one key join; nothing quadratic, and
    the df aggregate's partial maps collapse per segment hash."""
    from .functions.text import tokens

    d = _docs(spark, sf_dir)
    toked = d.select("doc_id", tokens(F.col("text")).alias("t"))
    nseg = F.floor((F.size("t") + SEG_TOKENS - 1) / SEG_TOKENS).cast("int")
    segs = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.md5(
                    F.concat_ws(
                        " ", F.slice(F.col("t"), i * SEG_TOKENS + 1, SEG_TOKENS)
                    )
                ),
            )
        ).alias("seg"),
    )
    seg_df = segs.distinct().groupBy("seg").agg(
        F.count(F.lit(1)).alias("seg_docs")
    )
    per_doc = (
        segs.join(seg_df, "seg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("seg_docs") >= BOILER_DF).cast("long")).alias(
                "n_boiler"
            ),
        )
    )
    ratio = F.col("n_boiler") / F.col("n_segments")
    return per_doc.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_segments").cast("long").alias("n_segments"),
        F.col("n_boiler").cast("long").alias("n_boiler"),
        r9(ratio).alias("boiler_ratio"),
        (ratio <= BOILER_MAX_RATIO).alias("keep"),
    )


BOILERPLATE_SQL = f"""
WITH toked AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
),
segs AS (
  SELECT doc_id,
         md5(array_to_string(t[(i * {SEG_TOKENS} + 1):((i + 1) * {SEG_TOKENS})], ' ')) AS seg
  FROM toked,
       UNNEST(range(CAST(ceil(len(t) / {SEG_TOKENS}.0) AS BIGINT))) AS u(i)
),
seg_df AS (
  SELECT seg, count(*) AS seg_docs FROM (SELECT DISTINCT doc_id, seg FROM segs)
  GROUP BY seg
),
per_doc AS (
  SELECT s.doc_id, count(*) AS n_segments,
         sum(CAST(f.seg_docs >= {BOILER_DF} AS BIGINT)) AS n_boiler
  FROM segs s JOIN seg_df f USING (seg)
  GROUP BY s.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_segments AS BIGINT) AS n_segments,
       CAST(n_boiler AS BIGINT) AS n_boiler,
       round(n_boiler / CAST(n_segments AS DOUBLE), 9) + 0.0 AS boiler_ratio,
       (n_boiler / CAST(n_segments AS DOUBLE)) <= {BOILER_MAX_RATIO} AS keep
FROM per_doc
"""


R8_QUERIES = {
    "scd2_history": scd2_history,
    "table_profile": table_profile,
    "embedding_pca_power": embedding_pca_power,
    "bm25_topk": bm25_topk,
    "hybrid_search_rrf": hybrid_search_rrf,
    "boilerplate_segments": boilerplate_segments,
}

def _rrf_sql() -> str:
    """RRF oracle: the exact-cosine chain (ANN_TOPK_SQL's shape at
    RRF_POOL depth) FULL OUTER joined with the PQ/ADC chain
    (ANN_PQ_SQL's CTEs verbatim at RRF_POOL depth), fused in rank
    space."""
    from .queries_pipeline import ANN_QUERIES, _V_SQL
    from .queries_pipeline_extras import PQ_K, PQ_M, PQ_SUB

    pq_diff = (
        f"list_transform(range(1, {PQ_SUB + 1}), "
        f"i -> v.e[cb.m * {PQ_SUB} + i] - cb.w[i])"
    )
    return f"""
WITH {_V_SQL},
q AS (SELECT * FROM v WHERE vec_id < {ANN_QUERIES}),
exact AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         round(list_dot_product(q.e, c.e)
               / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), {R}) AS s
  FROM v c, q WHERE c.vec_id != q.vec_id
),
a AS (
  SELECT query_id, corpus_id, rank_a FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY s DESC, corpus_id ASC) AS rank_a
    FROM exact
  ) WHERE rank_a <= {RRF_POOL}
),
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
  FROM encd WHERE vec_id < {ANN_QUERIES}
),
adc AS (
  SELECT l.query_id, e.vec_id AS corpus_id, round(sum(l.dist), {R}) AS approx_dist
  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code AND e.vec_id != l.query_id
  GROUP BY l.query_id, e.vec_id
),
b AS (
  SELECT query_id, corpus_id, rank_b FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY approx_dist ASC, corpus_id ASC) AS rank_b
    FROM adc
  ) WHERE rank_b <= {RRF_POOL}
),
fused AS (
  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         COALESCE(a.corpus_id, b.corpus_id) AS corpus_id,
         round(COALESCE(1.0 / ({RRF_K} + a.rank_a), 0.0)
               + COALESCE(1.0 / ({RRF_K} + b.rank_b), 0.0), {R}) + 0.0 AS rrf_score
  FROM a FULL OUTER JOIN b USING (query_id, corpus_id)
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, corpus_id ASC) AS rank
  FROM fused
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(corpus_id AS BIGINT) AS corpus_id,
       rrf_score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {RRF_TOPK}
"""


R8_ORACLES = {
    "scd2_history": SCD2_HISTORY_SQL,
    "table_profile": TABLE_PROFILE_SQL,
    "embedding_pca_power": EMBEDDING_PCA_SQL,
    "bm25_topk": BM25_SQL,
    "hybrid_search_rrf": _rrf_sql(),
    "boilerplate_segments": BOILERPLATE_SQL,
}
