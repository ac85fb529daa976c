"""Round-16 batch: INCREMENTAL maintenance made first-class for the
two newest standing-index families — connected-components REFRESH by
component contraction over the co-purchase graph (the dedup
cc_refresh pattern generalized: the full recompute pays the graph's
propagation depth per batch even when the batch touches almost
nothing), and the corpus NOVELTY-SATURATION curve (the per-bucket
rollup of C72's first-seen relation — the "has this source stopped
adding new n-grams" dashboard a training-data pipeline reads before
scaling a source up).

House conventions: fixed/exact arithmetic mirrored by the DuckDB
oracle (integer bucket math — ``(id * NB) // (max + 1)`` on BIGINTs
in both engines, never float division), floats through
``round(x, 9) + 0.0``, the contraction refresh converges exactly so
its oracle is the SAME full-graph CC the live B62 uses, and bounded
scalars (max doc/order id) are the only ``collect`` sites.

No counterpart in the pandas reference (reference scope is the MTM
loop, runner_mtm.py:71); this is the warehouse/pipeline surface the
build brief adds on top of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .cache_registry import persist_tracked
from .queries_r10b import _BASKET_CTES, BASKET_MIN_SUP
from .queries_r15 import COMP_ITERS, NOVELTY_N, _components_sql
from .functions.rounding import r9

#: every (l_orderkey % REFRESH_MOD == 0)-keyed order is the "new
#: batch" for the refresh split — whole ORDERS, never split orders
#: (the pair-count additivity contract, operators/graph.py partials)
REFRESH_MOD = 3

#: ingest-order buckets for the saturation curve (deciles)
SAT_BUCKETS = 10


def copurchase_components_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """B65: incremental CONNECTED-COMPONENTS maintenance — B62 made
    continual-ingest (VERDICT r15 item 6). Base corpus = orders with
    ``l_orderkey % REFRESH_MOD != 0``; the batch is the rest. The base
    graph's converged labels stand (in production: the persisted
    ``{table}_comp`` sidecar, operators/graph.write_component_labels);
    the batch folds its RAW pair partials with the base's, the support
    cut applies to the FOLDED counts (a sub-cut pair crossing the
    threshold is a legitimate new edge — counts only GROW under
    whole-order ingest, so edge ADDITION is the only delta), and the
    delta edges refresh the labels by component CONTRACTION
    (operators/graph.components_refresh): touched components collapse
    to their canonical, a batch-sized mini-CC relabels them, untouched
    components pass through a left join. Cost follows the BATCH, not
    the graph's propagation depth. The refresh is EXACT, so the oracle
    is the full-graph CC itself (B62's oracle, same COMP_ITERS
    unroll); the persisted-index probe twin is timed as
    ``index_probe_components`` in bench.py."""
    from .operators.graph import (
        baskets_from_items,
        components_refresh,
        component_labels_converged,
        pairs_from_baskets,
    )
    from .sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    base_raw = persist_tracked(
        pairs_from_baskets(
            baskets_from_items(
                li.filter(F.col("l_orderkey") % REFRESH_MOD != 0)
            )
        )
    )
    batch_raw = pairs_from_baskets(
        baskets_from_items(li.filter(F.col("l_orderkey") % REFRESH_MOD == 0))
    )
    base_edges = persist_tracked(
        base_raw.filter(F.col("pair_cnt") >= BASKET_MIN_SUP).select(
            "part_a", "part_b"
        )
    )
    labels = component_labels_converged(base_edges)
    folded = (
        base_raw.unionByName(batch_raw)
        .groupBy("part_a", "part_b")
        .agg(F.sum("pair_cnt").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= BASKET_MIN_SUP)
        .select("part_a", "part_b")
    )
    delta = folded.join(base_edges, ["part_a", "part_b"], "left_anti")
    return components_refresh(labels, delta)


def novelty_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C73: corpus n-gram SATURATION curve — the source-level rollup
    of C72's first-seen relation: bucket the corpus into SAT_BUCKETS
    ingest-order deciles (doc_id order = ingest order, the C72
    contract) and report, per bucket, how many n-grams the corpus saw
    there FIRST, cumulatively, and as a share of all distinct grams.
    A flattening curve is the stop signal: more of this source buys
    repetition, not diversity — the question asked per source before
    scaling its crawl share up, and the corpus-level complement of
    C72's per-doc score. Scale shape: the first-seen relation is ONE
    corpus shingle pass (operators/novelty.first_seen_partial — the
    same relation the standing index persists, so in production this
    whole query is an index-sized aggregate over the compacted
    partials, zero corpus bytes); bucket math is integer-exact on
    BIGINTs in both engines; the cumulative window runs over
    SAT_BUCKETS rows. Output: (bucket, n_docs, n_first_seen,
    cum_first_seen, cum_share)."""
    from .operators.novelty import first_seen_partial
    from .queries_pipeline import _docs

    d = _docs(spark, sf_dir)
    max_id = d.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    span = int(max_id) + 1  # bounded scalar: ids are 0-based ingest order

    def bucket_of(c: str):
        # INTEGER division on BIGINTs (Spark SQL `div`), mirroring the
        # oracle's `//` — float division would disagree at bucket edges
        return F.expr(
            f"CAST((CAST({c} AS BIGINT) * {SAT_BUCKETS}) DIV {span} "
            "AS BIGINT)"
        )
    fb = (
        first_seen_partial(d, NOVELTY_N)
        .select(bucket_of("first_seen").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_first_seen"))
    )
    db = (
        d.select(bucket_of("doc_id").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nfs = F.coalesce(F.col("n_first_seen"), F.lit(0)).cast("long")
    cum = F.sum(nfs).over(w)
    tot = F.sum(nfs).over(wall)
    return (
        db.join(fb, "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n_docs"),
            nfs.alias("n_first_seen"),
            cum.cast("long").alias("cum_first_seen"),
            r9(
                F.when(tot > 0, cum.cast("double") / tot.cast("double"))
                .otherwise(F.lit(0.0))
            ).alias("cum_share"),
        )
    )


# --- second batch (registered post-anchor; driver exposure r17) --------------

#: a candidate pair is a containment hit when the smaller shingle set
#: is ≥ this fraction inside the larger (quote inclusion, boilerplate
#: wrapping, version-of relationships — the asymmetric near-dup class
#: symmetric Jaccard under-scores)
CONTAIN_MIN = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C74: CONTAINMENT classification of near-dup candidates — the
    asymmetric complement of C3's symmetric Jaccard: per LSH candidate
    pair, containment(a in b) = |A∩B| / |A| and vice versa (Broder's
    containment measure). A short doc quoted inside a long one scores
    Jaccard ≈ |A|/|B| (small) but containment ≈ 1 — the version-of /
    quote-inclusion / boilerplate-wrapper class a pure-Jaccard dedup
    under-merges. Keeps pairs where either direction clears
    CONTAIN_MIN and names ``contained_id`` (the higher-containment,
    i.e. smaller-set, side; exact ties — near-identical sets — break
    to the smaller doc_id). Candidates come from the SHARED C2 band
    chain, so this adds ZERO new corpus-sized work: shingle sets are
    row-local arrays, the intersection is a row-local array_intersect
    on the candidate relation (the pair_jaccard plan shape — never a
    shingle self-join). RECALL caveat, documented not hidden:
    MinHash banding recalls RESEMBLANCE, so a low-Jaccard containment
    pair can miss candidacy — full containment recall is C28
    `dedup_substring`'s suffix-automaton territory; this operator
    CLASSIFIES the banded candidates. Output: (id_a, id_b, n_inter,
    n_a, n_b, containment_a, containment_b, contained_id)."""
    from .operators.dedup import (
        doc_shingle_sets,
        lsh_bands_from_wide,
        lsh_candidate_pairs,
        minhash_signatures_wide,
    )
    from .queries_pipeline import (
        BANDS,
        LSH_MAX_BUCKET,
        MINHASH_K,
        SHINGLE_K,
        _docs,
    )

    from .cache_registry import persist_tracked
    from .operators.dedup import _fan_out

    d = _docs(spark, sf_dir)
    # ONE tokenize+shingle corpus pass shared by the signature build
    # and the row-local intersections (optimization r16)
    sh = persist_tracked(doc_shingle_sets(_fan_out(d), k=SHINGLE_K))
    sig = minhash_signatures_wide(
        d, num_hashes=MINHASH_K, shingle_k=SHINGLE_K, sh_sets=sh
    )
    pairs = lsh_candidate_pairs(
        lsh_bands_from_wide(sig, num_bands=BANDS, num_hashes=MINHASH_K),
        max_bucket=LSH_MAX_BUCKET,
    )
    joined = pairs.select("id_a", "id_b").join(
        sh.select(F.col("doc_id").alias("id_a"), F.col("sh_set").alias("_sa")),
        "id_a",
    ).join(
        sh.select(F.col("doc_id").alias("id_b"), F.col("sh_set").alias("_sb")),
        "id_b",
    )
    n_inter = F.size(F.array_intersect("_sa", "_sb")).cast("long")
    n_a = F.size("_sa").cast("long")
    n_b = F.size("_sb").cast("long")
    ca = n_inter.cast("double") / n_a.cast("double")
    cb = n_inter.cast("double") / n_b.cast("double")
    return (
        joined.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            n_inter.alias("n_inter"),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            ca.alias("_ca"),
            cb.alias("_cb"),
        )
        .filter(F.greatest(F.col("_ca"), F.col("_cb")) >= CONTAIN_MIN)
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_a",
            "n_b",
            r9(F.col("_ca")).alias("containment_a"),
            r9(F.col("_cb")).alias("containment_b"),
            F.when(F.col("_ca") > F.col("_cb"), F.col("id_a"))
            .when(F.col("_cb") > F.col("_ca"), F.col("id_b"))
            .otherwise(F.least("id_a", "id_b"))
            .cast("long")
            .alias("contained_id"),
        )
    )


#: ingest-order buckets for the mix-drift monitor (shared decile math
#: with C73)
MIX_BUCKETS = SAT_BUCKETS


def corpus_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C75: corpus MIX-DRIFT monitor — per ingest-order decile, the
    language composition vs the whole-corpus mix, and the bucket's
    total-variation distance from it. The per-crawl-drop question a
    training-data pipeline asks BEFORE the mix silently shifts (a lang
    or source creeping over its target share): drift shows up as
    tv_dist rising across buckets. The (bucket × lang) GRID is built
    by an explicit cross join of the two bounded distinct relations
    and LEFT-joined with the counts — a lang absent from a bucket
    contributes |0 − corpus_share| to the distance rather than
    silently dropping (the exact-TV requirement). ONE corpus-sized
    aggregate (bucket, lang counts); every share/distance is a window
    over the ≤ MIX_BUCKETS×|langs| grid (the events_seasonality
    grid-bounded-window convention). Output: (bucket, lang, n_docs,
    bucket_share, corpus_share, share_delta, tv_dist)."""
    from .queries_pipeline import _docs

    d = _docs(spark, sf_dir)
    max_id = d.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    span = int(max_id) + 1
    bucket = F.expr(
        f"CAST((CAST(doc_id AS BIGINT) * {MIX_BUCKETS}) DIV {span} AS BIGINT)"
    )
    counts = (
        d.select(bucket.alias("bucket"), "lang")
        .groupBy("bucket", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    grid = (
        counts.select("bucket").distinct()
        .crossJoin(counts.select("lang").distinct())
        .join(counts, ["bucket", "lang"], "left")
        .select(
            "bucket",
            "lang",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )
    wb = Window.partitionBy("bucket")
    wl = Window.partitionBy("lang")
    wall = Window.partitionBy()
    bshare = F.col("n_docs").cast("double") / F.sum("n_docs").over(wb)
    cshare = (
        F.sum("n_docs").over(wl).cast("double") / F.sum("n_docs").over(wall)
    )
    delta = F.abs(bshare - cshare)
    return grid.select(
        "bucket",
        "lang",
        "n_docs",
        r9(bshare).alias("bucket_share"),
        r9(cshare).alias("corpus_share"),
        r9(delta).alias("share_delta"),
        r9(
            F.lit(0.5) * F.sum(delta).over(wb)
        ).alias("tv_dist"),
    )


def _containment_sql() -> str:
    """Oracle: the C2/C3 band-chain CTEs verbatim + per-pair
    intersection counts + the two directed containments."""
    from .queries_pipeline import _BANDS_CAPPED_SQL, _BANDS_SQL

    return f"""
WITH {_BANDS_SQL},
{_BANDS_CAPPED_SQL},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands_c a
  JOIN bands_c b ON a.band = b.band AND a.band_sig = b.band_sig
                AND a.doc_id < b.doc_id
),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN sh a ON a.doc_id = p.id_a
  JOIN sh b ON b.doc_id = p.id_b AND a.shingle = b.shingle
  GROUP BY p.id_a, p.id_b
)
SELECT CAST(i.id_a AS BIGINT) AS id_a,
       CAST(i.id_b AS BIGINT) AS id_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.n_sh AS BIGINT) AS n_a,
       CAST(sb.n_sh AS BIGINT) AS n_b,
       round(n_inter * 1.0 / sa.n_sh, 9) + 0.0 AS containment_a,
       round(n_inter * 1.0 / sb.n_sh, 9) + 0.0 AS containment_b,
       CAST(CASE WHEN n_inter * 1.0 / sa.n_sh > n_inter * 1.0 / sb.n_sh
                 THEN i.id_a
                 WHEN n_inter * 1.0 / sb.n_sh > n_inter * 1.0 / sa.n_sh
                 THEN i.id_b
                 ELSE least(i.id_a, i.id_b) END AS BIGINT) AS contained_id
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE greatest(n_inter * 1.0 / sa.n_sh, n_inter * 1.0 / sb.n_sh)
      >= {CONTAIN_MIN}
"""


MIX_DRIFT_SQL = f"""
WITH mx AS (SELECT max(doc_id) + 1 AS span FROM documents),
counts AS (
  SELECT (doc_id * {MIX_BUCKETS}) // span AS bucket, lang,
         count(*) AS n_docs
  FROM documents, mx GROUP BY 1, 2
),
grid AS (
  SELECT b.bucket, l.lang, coalesce(c.n_docs, 0) AS n_docs
  FROM (SELECT DISTINCT bucket FROM counts) b
  CROSS JOIN (SELECT DISTINCT lang FROM counts) l
  LEFT JOIN counts c ON c.bucket = b.bucket AND c.lang = l.lang
),
shares AS (
  SELECT bucket, lang, n_docs,
         n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY bucket)
           AS bucket_share,
         sum(n_docs) OVER (PARTITION BY lang) * 1.0
           / sum(n_docs) OVER () AS corpus_share
  FROM grid
)
SELECT CAST(bucket AS BIGINT) AS bucket, lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       round(bucket_share, 9) + 0.0 AS bucket_share,
       round(corpus_share, 9) + 0.0 AS corpus_share,
       round(abs(bucket_share - corpus_share), 9) + 0.0 AS share_delta,
       round(0.5 * sum(abs(bucket_share - corpus_share))
               OVER (PARTITION BY bucket), 9) + 0.0 AS tv_dist
FROM shares
"""


COMPONENTS_REFRESH_SQL = _components_sql()

NOVELTY_SATURATION_SQL = f"""
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
mx AS (SELECT max(doc_id) + 1 AS span FROM documents),
fb AS (
  SELECT (first_seen * {SAT_BUCKETS}) // span AS bucket,
         count(*) AS n_first_seen
  FROM first, mx GROUP BY 1
),
db AS (
  SELECT (doc_id * {SAT_BUCKETS}) // span AS bucket, count(*) AS n_docs
  FROM documents, mx GROUP BY 1
)
SELECT CAST(db.bucket AS BIGINT) AS bucket,
       CAST(db.n_docs AS BIGINT) AS n_docs,
       CAST(coalesce(fb.n_first_seen, 0) AS BIGINT) AS n_first_seen,
       CAST(sum(coalesce(fb.n_first_seen, 0))
              OVER (ORDER BY db.bucket) AS BIGINT) AS cum_first_seen,
       round(CASE WHEN sum(coalesce(fb.n_first_seen, 0)) OVER () > 0
                  THEN sum(coalesce(fb.n_first_seen, 0))
                         OVER (ORDER BY db.bucket) * 1.0
                       / sum(coalesce(fb.n_first_seen, 0)) OVER ()
                  ELSE 0.0 END, 9) + 0.0 AS cum_share
FROM db LEFT JOIN fb ON fb.bucket = db.bucket
"""


R16_QUERIES: dict = {
    "copurchase_components_refresh": copurchase_components_refresh,
    "novelty_saturation": novelty_saturation,
    "dedup_containment": dedup_containment,
    "corpus_mix_drift": corpus_mix_drift,
}

R16_ORACLES: dict = {
    # the refresh is exact, so the full-graph B62 oracle applies
    # verbatim (same COMP_ITERS unroll, converged at every test SF)
    "copurchase_components_refresh": COMPONENTS_REFRESH_SQL,
    "novelty_saturation": NOVELTY_SATURATION_SQL,
    "dedup_containment": _containment_sql(),
    "corpus_mix_drift": MIX_DRIFT_SQL,
}
