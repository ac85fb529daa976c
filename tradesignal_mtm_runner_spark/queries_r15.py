"""Round-15 batch: the co-purchase graph family's remaining classical
entries — CONNECTED COMPONENTS (the one classic the family lacked:
CC label propagation existed only on the dedup side, specialized to
shallow near-dup clusters), the LPA communities STREAM twin (the
k-core stream twin's append-only-partials pattern applied to the
other decision a continually-ingested graph wants refreshed), and the
DEGREE-DISTRIBUTION rollup (the dashboard histogram beside B61's
one-row profile — power-law detection is the first question anyone
asks of a co-purchase graph, and it is what justifies the family's
hub caps).

House conventions: fixed iteration counts mirrored EXACTLY by the
DuckDB oracle (engine/oracle equality holds even mid-convergence;
convergence pinned separately in tests/test_r15.py alongside the
iterate-to-fixpoint twins), integer-exact bucket arithmetic
(length(bin(deg))-1, never float log2 — both engines compute it on
strings of bits, so there is no power-of-two precision cliff), floats
through round(x,9)+0.0, lineage cuts per round via
operators/graph.cut_lineage (reliable-checkpoint aware).

No counterpart in the pandas reference (reference scope is the MTM
loop, runner_mtm.py:71); this is the warehouse/graph surface the
build brief adds on top of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache_registry import persist_tracked
from .operators.graph import (
    community_labels_converged,
    component_labels_converged,
    node_degrees,
)
from .queries_r10b import _BASKET_CTES, _basket_pair_counts
from .queries_r14 import streamed_support_cut_edges
from .queries_r14b import LPA_ROUNDS, _communities_sql

#: min-label propagation rounds for the fixed-unroll components query.
#: Label must travel each component's min-node eccentricity: measured
#: 4 (sf0.001), 11 (sf0.01), 8 (sf0.1) rounds to fixpoint — 14 leaves
#: spare rounds everywhere; one extra round changing nothing is pinned
#: in tests/test_r15.py, and component_labels_converged is the
#: production iterate-to-fixpoint twin. The oracle unrolls the SAME 14.
COMP_ITERS = 14


def copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B62: connected components of the co-purchase graph — "which
    items are reachable through ANY chain of co-purchases" (market
    segmentation at its coarsest; also the precompute that bounds
    every other graph kernel's work, since no computation crosses a
    component boundary). Kernel = operators/graph.component_labels —
    min-label propagation, one graph-sized join + min-aggregate +
    left join per round, lineage cut per round. Component id = the
    component's minimum part id (stable, interpretable).

    OPTIMIZATION r16: runs the ITERATE-TO-FIXPOINT kernel
    (component_labels_converged — the production twin, converged ==
    fixed-unroll pinned in tests/test_r15.py) instead of the fixed
    COMP_ITERS unroll: measured propagation depth is 4/11/8 rounds at
    sf0.001/0.01/0.1, so the fixed form paid 14 graph-sized rounds
    where 5–12 suffice, and post-convergence rounds are provable
    no-ops (labels are monotone under min-propagation) — the OUTPUT is
    identical and the COMP_ITERS-unrolled oracle still matches
    (min-label fixpoint == 14-round labeling at every test SF). The
    fixed kernel remains for the oracle mirror and plan pins."""
    _, pairs = _basket_pair_counts(spark, sf_dir)
    edges = persist_tracked(pairs.select("part_a", "part_b"))
    return component_labels_converged(edges)


def _comp_round_sql(i: int) -> str:
    prev = f"c{i - 1}"
    return f"""
c{i} AS MATERIALIZED (
  SELECT l.node,
         least(l.label, coalesce(n.nbr_label, l.label)) AS label
  FROM {prev} l
  LEFT JOIN (
    SELECT e.dst AS node, min(s.label) AS nbr_label
    FROM e JOIN {prev} s ON e.src = s.node
    GROUP BY e.dst
  ) n ON n.node = l.node
)"""


def _components_sql() -> str:
    rounds = ",".join(_comp_round_sql(i) for i in range(1, COMP_ITERS + 1))
    return f"""
WITH {_BASKET_CTES},
e AS MATERIALIZED (
  SELECT part_a AS src, part_b AS dst FROM pairs
  UNION ALL
  SELECT part_b AS src, part_a AS dst FROM pairs
),
c0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
{rounds}
SELECT CAST(node AS BIGINT) AS part, CAST(label AS BIGINT) AS component
FROM c{COMP_ITERS}
"""


def copurchase_communities_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """B58b: ``copurchase_communities`` under ``readStream`` — the
    k-core stream twin's pattern (queries_r14.streamed_support_cut_edges:
    staged whole-order replay → additive batch_id-keyed pair partials
    → support-cut fold, no state store, retried batches recompute
    byte-identically) feeding the SAME LPA kernel, so the stream
    replay equals the batch B58 oracle exactly — including edges whose
    pair count only crosses the support cut across batch boundaries.
    OPTIMIZATION r16: the fold feeds the iterate-to-fixpoint LPA
    kernel (converged == LPA_ROUNDS unroll pinned — see
    copurchase_communities), matching the batch B58 swap."""
    edges = streamed_support_cut_edges(spark, sf_dir, "lpa_stream")
    if edges is None:
        return spark.createDataFrame([], "part long, community long")
    return community_labels_converged(edges)


def copurchase_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B63: degree-distribution rollup of the co-purchase graph — the
    log2-bucket histogram beside B61's one-row profile: per bucket b
    (nodes with 2^b ≤ deg < 2^(b+1)), the node count, degree extrema,
    and the bucket's share of all nodes. This is the power-law
    dashboard: it tells you whether the hub caps (LINK_MAX_DEG, the
    LSH max_bucket convention) are load-bearing at the current scale.
    Bucket arithmetic is INTEGER-exact in both engines:
    length(bin(deg)) − 1 == floor(log2(deg)) for deg ≥ 1, computed on
    the bit string — float log2 would disagree between engines at
    exact powers of two. ONE aggregate over the graph-sized degree
    relation; the node total comes from an unpartitioned window SUM
    over the BUCKET-sized histogram itself (≤ ~60 rows at any scale —
    never a second pass over the degree relation, review r15); share
    rounds to 9 dp. Output: (bucket, min_deg, max_deg, n_nodes,
    node_share) ordered implicitly by the driver's sorted compare."""
    from pyspark.sql import Window

    from .functions.rounding import r9

    _, pairs = _basket_pair_counts(spark, sf_dir)
    deg = node_degrees(pairs)
    hist = deg.groupBy(
        (F.length(F.bin(F.col("deg"))) - F.lit(1))
        .cast("int")
        .alias("bucket")
    ).agg(
        F.min("deg").cast("long").alias("min_deg"),
        F.max("deg").cast("long").alias("max_deg"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )
    total = F.sum("n_nodes").over(Window.partitionBy())
    return hist.select(
        "bucket",
        "min_deg",
        "max_deg",
        "n_nodes",
        r9(F.col("n_nodes").cast("double") / total).alias("node_share"),
    )


DEGREE_HISTOGRAM_SQL = f"""
WITH {_BASKET_CTES},
e AS (
  SELECT part_a AS src FROM pairs
  UNION ALL
  SELECT part_b AS src FROM pairs
),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
hist AS (
  SELECT CAST(length(bin(deg)) - 1 AS INT) AS bucket,
         min(deg) AS min_deg, max(deg) AS max_deg,
         count(*) AS n_nodes
  FROM deg GROUP BY 1
),
t AS (SELECT count(*) AS total FROM deg)
SELECT bucket,
       CAST(min_deg AS BIGINT) AS min_deg,
       CAST(max_deg AS BIGINT) AS max_deg,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       round(n_nodes * 1.0 / total, 9) + 0.0 AS node_share
FROM hist, t
"""


def copurchase_edge_embeddedness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """B64: per-edge EMBEDDEDNESS + neighborhood overlap over the
    co-purchase graph — the edge-level measure the family lacked
    (nodes have triangles/clustering/core degrees, the graph has its
    profile; EDGES get their triangle support and the Onnela-style
    overlap, the classic tie-strength / backbone-filter primitive:
    overlap-0 edges are local bridges, high-overlap edges are the
    Simmelian ties a backbone keeps). Kernel =
    operators/graph.edge_embeddedness — triangles from the SHARED
    oriented enumeration (O(√E) wedge bound), three row-local edge
    credits per triangle, one edge-keyed aggregate, LEFT join so
    triangle-free edges keep (0, 0.0) — shared with the standing-index
    probe ``embeddedness_from_index`` (parity pinned in
    tests/test_scale_patterns.py). Overlap rounds to 9 dp; the
    isolated-edge zero denominator is guarded in both engines.
    Output: (part_a, part_b, pair_cnt, n_common, overlap)."""
    from .operators.graph import edge_embeddedness

    _, pairs = _basket_pair_counts(spark, sf_dir)
    edges = persist_tracked(pairs.select("part_a", "part_b", "pair_cnt"))
    return edge_embeddedness(edges, node_degrees(edges))


# The oracle closes wedges DIRECTLY (for each edge (a,b), count z with
# (a,z) and (b,z) edges) — algorithm-diverse from the Spark side's
# oriented enumeration (the B55 oracle convention), same triangle set.
# Self-closures are impossible: z = b would need edge (b,b), z = a
# edge (a,a), and the support-cut relation has no self edges.
EDGE_EMBEDDEDNESS_SQL = f"""
WITH {_BASKET_CTES},
e AS MATERIALIZED (
  SELECT part_a AS src, part_b AS dst FROM pairs
  UNION ALL
  SELECT part_b AS src, part_a AS dst FROM pairs
),
deg AS (SELECT src AS pk, count(*) AS deg FROM e GROUP BY src),
cn AS (
  SELECT p.part_a, p.part_b, count(*) AS n_common
  FROM pairs p
  JOIN e ea ON ea.src = p.part_a
  JOIN e eb ON eb.src = p.part_b AND eb.dst = ea.dst
  GROUP BY 1, 2
)
SELECT CAST(p.part_a AS BIGINT) AS part_a,
       CAST(p.part_b AS BIGINT) AS part_b,
       CAST(p.pair_cnt AS BIGINT) AS pair_cnt,
       CAST(coalesce(cn.n_common, 0) AS BIGINT) AS n_common,
       round(CASE WHEN da.deg + db.deg - 2 - coalesce(cn.n_common, 0) > 0
                  THEN coalesce(cn.n_common, 0) * 1.0
                       / (da.deg + db.deg - 2 - coalesce(cn.n_common, 0))
                  ELSE 0.0 END, 9) + 0.0 AS overlap
FROM pairs p
LEFT JOIN cn ON cn.part_a = p.part_a AND cn.part_b = p.part_b
JOIN deg da ON da.pk = p.part_a
JOIN deg db ON db.pk = p.part_b
"""


#: word n-gram order for the novelty curve (the corpus LM convention,
#: queries_pipeline_extras NGRAM_MAX_N's top order)
NOVELTY_N = 3


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C72: per-document N-GRAM NOVELTY — the curation curve beside
    the dedup stack: for each doc, how many of its distinct word
    3-grams appear in NO earlier document (doc_id order = ingest
    order), i.e. the doc's marginal contribution to corpus n-gram
    diversity. Boilerplate, templated and near-duplicate docs score
    near 0 even when they dodge the hash/MinHash dedups; a data mix
    that stops adding novel n-grams has saturated — the question a
    training-data pipeline asks per source before adding more of it.

    Scale shape: one row-local shingle explode + a distinct (doc,
    gram) aggregate, one gram-keyed min(doc_id) aggregate (the
    "first seen" relation — map-side partials, never a window over
    the corpus), one gram-keyed join back, one per-doc aggregate, one
    LEFT join from documents so short docs (< NOVELTY_N tokens, zero
    grams) keep (0, 0, 0.0) rather than dropping. All shuffles key on
    gram or doc_id — no all-pairs, no collect. Novelty rounds to
    9 dp; the zero-gram denominator is guarded in both engines.
    Output: (doc_id, n_distinct, n_novel, novelty)."""
    from .functions import text as TX
    from .queries_pipeline import _docs
    from .functions.rounding import r9

    d = _docs(spark, sf_dir)
    toks = TX.tokens(F.col("text"))
    # the distinct (doc, gram) relation feeds BOTH the first-seen
    # aggregate and the join-back below — without the persist the
    # corpus is scanned + shingled twice (VERDICT r15 item 3; the
    # dedup_keep_best precedent, queries_r9.py)
    dg = persist_tracked(
        d.select(
            "doc_id", F.explode(TX.shingles(toks, NOVELTY_N)).alias("ngram")
        )
        .distinct()
    )
    first = dg.groupBy("ngram").agg(F.min("doc_id").alias("first_seen"))
    per_doc = (
        dg.join(first, "ngram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(
                F.when(F.col("first_seen") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    nd = F.coalesce(F.col("n_distinct"), F.lit(0)).cast("long")
    nn = F.coalesce(F.col("n_novel"), F.lit(0)).cast("long")
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            nd.alias("n_distinct"),
            nn.alias("n_novel"),
            r9(
                F.when(
                    nd > 0, nn.cast("double") / nd.cast("double")
                ).otherwise(F.lit(0.0))
            ).alias("novelty"),
        )
    )


NGRAM_NOVELTY_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
),
grams AS (
  SELECT doc_id, u.g AS ngram
  FROM toks, UNNEST(
    CASE WHEN len(t) >= {NOVELTY_N}
         THEN list_transform(range(1, len(t) - {NOVELTY_N} + 2),
                             i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
         ELSE [] END) AS u(g)
),
dg AS (SELECT DISTINCT doc_id, ngram FROM grams),
first AS (SELECT ngram, min(doc_id) AS first_seen FROM dg GROUP BY 1),
per AS (
  SELECT dg.doc_id, count(*) AS n_distinct,
         sum(CASE WHEN f.first_seen = dg.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM dg JOIN first f USING (ngram)
  GROUP BY 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(p.n_distinct, 0) AS BIGINT) AS n_distinct,
       CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
       round(CASE WHEN coalesce(p.n_distinct, 0) > 0
                  THEN coalesce(p.n_novel, 0) * 1.0 / p.n_distinct
                  ELSE 0.0 END, 9) + 0.0 AS novelty
FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
"""


def ngram_novelty_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C72b: incremental novelty ADMISSION — C72 made continual-ingest:
    score a NEW batch's n-gram novelty against the already-ingested
    corpus WITHOUT recomputing the corpus curve (the dedup_cc_probe
    shape applied to novelty; per-source saturation is checked per
    crawl drop in production, not per rebuild). Base corpus = docs
    with doc_id ≤ t (t = 2/3 of max doc_id — one bounded scalar agg,
    integer arithmetic in both engines); the base's (ngram,
    first_seen) relation is built once (the write_novelty_index
    payload) and the batch runs the SHARED kernel
    operators/novelty.novelty_against — novel ⇔ the doc is the
    earliest carrier across base ∪ batch, which for an ordered split
    equals the GLOBAL C72 novelty restricted to batch docs (that
    equivalence IS the oracle). In production the base half is the
    persisted bucketed index and the probe is probe_novelty_index —
    identical output at batch-proportional cost (parity pinned in
    tests/test_scale_patterns.py; timed as index_probe_novelty in
    bench.py). The index's min aggregate makes it the family's first
    fully IDEMPOTENT standing index — see operators/novelty.py."""
    from .operators.novelty import first_seen_partial, novelty_against
    from .queries_pipeline import _docs

    d = _docs(spark, sf_dir)
    max_id = d.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    t = (int(max_id) * 2) // 3
    base = d.filter(F.col("doc_id") <= t)
    batch = d.filter(F.col("doc_id") > t)
    return novelty_against(batch, first_seen_partial(base, NOVELTY_N), NOVELTY_N)


NGRAM_NOVELTY_PROBE_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
),
grams AS (
  SELECT doc_id, u.g AS ngram
  FROM toks, UNNEST(
    CASE WHEN len(t) >= {NOVELTY_N}
         THEN list_transform(range(1, len(t) - {NOVELTY_N} + 2),
                             i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
         ELSE [] END) AS u(g)
),
dg AS (SELECT DISTINCT doc_id, ngram FROM grams),
first AS (SELECT ngram, min(doc_id) AS first_seen FROM dg GROUP BY 1),
per AS (
  SELECT dg.doc_id, count(*) AS n_distinct,
         sum(CASE WHEN f.first_seen = dg.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM dg JOIN first f USING (ngram)
  GROUP BY 1
),
thr AS (SELECT (max(doc_id) * 2) // 3 AS t FROM documents)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(p.n_distinct, 0) AS BIGINT) AS n_distinct,
       CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
       round(CASE WHEN coalesce(p.n_distinct, 0) > 0
                  THEN coalesce(p.n_novel, 0) * 1.0 / p.n_distinct
                  ELSE 0.0 END, 9) + 0.0 AS novelty
FROM documents d
JOIN thr ON d.doc_id > thr.t
LEFT JOIN per p ON p.doc_id = d.doc_id
"""


R15_QUERIES: dict = {
    "copurchase_components": copurchase_components,
    "copurchase_communities_stream": copurchase_communities_stream,
    "copurchase_degree_histogram": copurchase_degree_histogram,
    "copurchase_edge_embeddedness": copurchase_edge_embeddedness,
    "ngram_novelty": ngram_novelty,
    "ngram_novelty_probe": ngram_novelty_probe,
}

R15_ORACLES: dict = {
    "copurchase_components": _components_sql(),
    # stream replay == batch: the staged whole-order replay folds to
    # the identical support-cut graph, so the B58 oracle applies
    "copurchase_communities_stream": _communities_sql(),
    "copurchase_degree_histogram": DEGREE_HISTOGRAM_SQL,
    "copurchase_edge_embeddedness": EDGE_EMBEDDEDNESS_SQL,
    "ngram_novelty": NGRAM_NOVELTY_SQL,
    # ordered-split equivalence: probe novelty over base(≤t) == the
    # GLOBAL C72 novelty restricted to batch docs (>t)
    "ngram_novelty_probe": NGRAM_NOVELTY_PROBE_SQL,
}
