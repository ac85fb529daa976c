"""Round-10 surface: incremental connected-component dedup admission.

The standing-index answer to VERDICT r9 item 3: ``dedup_keep_best``
(C57) re-runs the simhash + banded-pairs + iterative-CC chain on every
invocation — a self-contained query pays that honestly, but a
production pipeline ingesting crawl drops against a 100 TB corpus must
not. The corpus-sized state reduces to three bucketed tables
(operators/dedup.py: write_simhash_band_index, write_cc_labels with
its keep-best rollup) built once per index refresh; each drop then
runs ``cc_probe_from_index`` at batch-proportional cost.

``dedup_cc_probe`` here is the ORACLE-CHECKABLE form of that admission
decision: the same math, self-contained over the documents table (base
corpus = doc_id % INC_MOD != 0, new batch = the rest), so DuckDB can
verify every column. The persisted-index path is value-parity-pinned
against it in tests/test_scale_patterns.py and timed as the
``index_probe_cc`` bench key.

No counterpart exists in the pandas reference (reference scope is the
MTM loop, runner_mtm.py:71); this extends the C36/C36b incremental
family with the component-assignment + keep-best step real pipelines
run between "candidate found" and "doc admitted".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache_registry import persist_tracked, tracked_mkdtemp
from .queries_pipeline import (
    DEDUP_CC_ITERS,
    SIMHASH_MAX_BUCKET,
    SIMHASH_MAX_HAMMING,
    _CC_ITERS_SQL,
    _SIMHASH_CORE,
    _docs,
)
from .queries_pipeline_extras import INC_MOD


def dedup_cc_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental keep-best dedup ADMISSION: assign each NEW-batch
    document to an existing near-dup component (or mint a new one)
    and decide whether it supersedes the component's best version —
    WITHOUT re-clustering the base corpus per batch-member.

    Base corpus (doc_id % INC_MOD != 0) resolves components once via
    the C17/C57 chain (simhash -> capped banded pairs -> min-label
    CC); the new batch (doc_id % INC_MOD == 0) then probes the base's
    band relation (simhash_cross_pairs — banded equi-join + exact
    hamming, base-side hot-band cap, never O(base x batch)), resolves
    matched base ids to their component labels, and takes the MIN
    matched canonical as its component (deterministic; unmatched docs
    found a new component keyed by their own id). supersedes = the
    new doc's token count strictly beats the component's best —
    the keep-best decision of C57, made incremental. In-batch pairs
    are intentionally NOT merged here: per-drop admission probes the
    standing index only; batch-internal merging happens at the next
    index refresh (the C36 convention).

    In production the base chain is the persisted three-table index
    (write_simhash_band_index / write_cc_labels) and the probe is
    cc_probe_from_index — identical output, batch-proportional cost
    (parity pinned in tests/test_scale_patterns.py; timed as
    index_probe_cc in bench.py)."""
    from .functions.text import tokens
    from .operators.dedup import (
        _drop_hot_buckets,
        connected_canonical,
        simhash_band_rows,
        simhash_cross_pairs,
        simhash_near_dup_pairs,
        simhash_signatures,
    )

    d = _docs(spark, sf_dir)
    # one signature pass feeds the base chain AND the probe side
    sig = persist_tracked(simhash_signatures(d))
    base_sig = sig.filter(F.col("doc_id") % INC_MOD != 0)
    new_sig = sig.filter(F.col("doc_id") % INC_MOD == 0)
    # ONE capped base band relation feeds the in-corpus pair generator
    # AND the cross probe's base side (optimization r16, guide §2.4 —
    # each previously re-derived and re-capped it: one count-aggregate
    # + anti-join per consumer). _drop_hot_buckets persists it.
    base_bands = _drop_hot_buckets(
        simhash_band_rows(base_sig), ["band", "val"], SIMHASH_MAX_BUCKET
    )

    # --- index-build half (per refresh in production, in-query here)
    pairs = simhash_near_dup_pairs(
        base_sig,
        max_hamming=SIMHASH_MAX_HAMMING,
        max_bucket=SIMHASH_MAX_BUCKET,
        bands=base_bands,
    )
    comp = connected_canonical(
        base_sig.select("doc_id"), pairs, iters=DEDUP_CC_ITERS
    ).select("doc_id", "canonical_id")
    lens = d.select("doc_id", F.size(tokens(F.col("text"))).alias("n_toks"))
    # (doc_id, canonical_id, n_toks): the write_cc_labels payload —
    # consumed by label resolution AND the best-rollup branch
    labels = persist_tracked(comp.join(lens, "doc_id"))

    # --- probe half (per crawl drop in production)
    cross = simhash_cross_pairs(
        new_sig,
        base_sig,
        max_hamming=SIMHASH_MAX_HAMMING,
        max_bucket=SIMHASH_MAX_BUCKET,
        base_bands=base_bands,
    )
    resolved = cross.join(
        labels.select(
            F.col("doc_id").alias("base_id"), "canonical_id"
        ),
        "base_id",
    )
    assign = resolved.groupBy("probe_id").agg(
        F.min("canonical_id").alias("assigned"),
        F.count(F.lit(1)).alias("n_matches"),
    )
    best = labels.groupBy("canonical_id").agg(
        F.max("n_toks").alias("best_n_toks")
    ).withColumnRenamed("canonical_id", "_bc")
    return (
        lens.filter(F.col("doc_id") % INC_MOD == 0)
        .join(assign.withColumnRenamed("probe_id", "doc_id"), "doc_id", "left")
        .join(best, F.col("assigned") == F.col("_bc"), "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce("assigned", "doc_id").cast("long").alias("component_id"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            F.col("assigned").isNull().alias("is_new_component"),
            F.col("n_toks").cast("long").alias("n_toks"),
            F.coalesce(
                F.col("n_toks") > F.col("best_n_toks"), F.lit(False)
            ).alias("supersedes"),
        )
    )


def _cc_probe_sql() -> str:
    """Oracle: the C17 simhash/band/CC CTEs restricted to the base
    slice (bands built from basesig, l0 over basesig — the unrolled
    iterations reuse the shared _CC_ITERS_SQL verbatim since they only
    reference e/l{k-1}), plus the probe-side band join with the same
    base-side hot cap, min-canonical assignment, and the keep-best
    rollup comparison."""
    def bands_of(src: str) -> str:
        return f"""(
  SELECT doc_id, simhash_hi, simhash_lo, 0 AS band, simhash_hi >> 16 AS val FROM {src}
  UNION ALL
  SELECT doc_id, simhash_hi, simhash_lo, 1, simhash_hi & 65535 FROM {src}
  UNION ALL
  SELECT doc_id, simhash_hi, simhash_lo, 2, simhash_lo >> 16 FROM {src}
  UNION ALL
  SELECT doc_id, simhash_hi, simhash_lo, 3, simhash_lo & 65535 FROM {src}
)"""

    return _materialize(f"""
WITH {_SIMHASH_CORE},
basesig AS (SELECT * FROM sig WHERE doc_id % {INC_MOD} != 0),
newsig AS (SELECT * FROM sig WHERE doc_id % {INC_MOD} = 0),
bands AS (SELECT * FROM {bands_of("basesig")}),
bhot AS (
  SELECT band, val FROM bands GROUP BY band, val
  HAVING count(*) > {SIMHASH_MAX_BUCKET}
),
bands_c AS (
  SELECT b.* FROM bands b
  WHERE NOT EXISTS (SELECT 1 FROM bhot h WHERE h.band = b.band AND h.val = b.val)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash_hi AS hi_a, a.simhash_lo AS lo_a,
         b.simhash_hi AS hi_b, b.simhash_lo AS lo_b
  FROM bands_c a JOIN bands_c b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
),
p AS (
  SELECT id_a, id_b FROM cand
  WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= {SIMHASH_MAX_HAMMING}
),
e AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM p
),
l0 AS (SELECT doc_id, doc_id AS lab FROM basesig),
{_CC_ITERS_SQL},
lens AS (
  SELECT doc_id, len(string_split_regex(trim(text), ' +')) AS n_toks
  FROM documents
),
labels AS (
  SELECT c.doc_id, c.lab AS canonical_id, l.n_toks
  FROM l{DEDUP_CC_ITERS} c JOIN lens l USING (doc_id)
),
nb AS (SELECT * FROM {bands_of("newsig")}),
m AS (
  SELECT DISTINCT n.doc_id AS probe_id, b.doc_id AS base_id
  FROM nb n JOIN bands_c b ON n.band = b.band AND n.val = b.val
  WHERE bit_count(xor(n.simhash_hi, b.simhash_hi))
      + bit_count(xor(n.simhash_lo, b.simhash_lo)) <= {SIMHASH_MAX_HAMMING}
),
assign AS (
  SELECT m.probe_id, min(lb.canonical_id) AS assigned, count(*) AS n_matches
  FROM m JOIN labels lb ON lb.doc_id = m.base_id
  GROUP BY m.probe_id
),
best AS (
  SELECT canonical_id, max(n_toks) AS best_n_toks FROM labels GROUP BY canonical_id
)
SELECT CAST(nl.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(a.assigned, nl.doc_id) AS BIGINT) AS component_id,
       CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches,
       a.assigned IS NULL AS is_new_component,
       CAST(nl.n_toks AS BIGINT) AS n_toks,
       coalesce(nl.n_toks > b.best_n_toks, FALSE) AS supersedes
FROM (SELECT doc_id, n_toks FROM lens WHERE doc_id % {INC_MOD} = 0) nl
LEFT JOIN assign a ON a.probe_id = nl.doc_id
LEFT JOIN best b ON b.canonical_id = a.assigned
""", ("sig", "bands", "bands_c", "e", "labels", "nb"))


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning pass every corpus runs BEFORE hashing/dedup/
    tokenization — without it, trivially-different whitespace or
    control-byte variants defeat exact dedup and skew token stats:
    strip non-whitespace control bytes, collapse every whitespace run
    to one space, trim, casefold. All four steps are JVM-side column
    regexes (zero shuffles, zero Python); the output value-hashes the
    normalized text (md5) instead of shipping it, plus the size
    accounting a curation report wants. Deterministic and engine-
    portable: Java and RE2 agree on \\s and the explicit control
    ranges, and the corpus hash pins byte-identical behavior."""
    d = _docs(spark, sf_dir)
    norm = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.col("text"), r"[\x00-\x08\x0E-\x1F\x7F]", " "
                ),
                r"\s+",
                " ",
            )
        )
    )
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(norm).alias("norm_md5"),
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        (norm != F.col("text")).alias("changed"),
    )


TEXT_NORMALIZE_SQL = r"""
WITH n AS (
  SELECT doc_id, text,
         lower(trim(regexp_replace(regexp_replace(
             text, '[\x00-\x08\x0E-\x1F\x7F]', ' ', 'g'),
             '\s+', ' ', 'g'))) AS norm
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(norm) AS norm_md5,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(norm) AS BIGINT) AS n_chars_norm,
       norm != text AS changed
FROM n
"""


def embedding_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TWO principal components by power iteration + DEFLATION —
    the multi-component extension of ``embedding_pca_power`` (C51)
    and the building block of PCA whitening for embedding pipelines:
    pc1 exactly as C51 (matrix-free, bounded d-float model riding as
    a closure literal), then each vector is deflated row-locally
    (x' = x − (x·v1)·v1, pure column algebra, no extra shuffle) and
    the same iteration runs on the deflated corpus for pc2. Still
    zero driver-side data movement — only the 2×d-float model
    round-trips. The centered corpus and the deflated corpus are each
    MATERIALIZED as a persisted concrete column before being iterated:
    feeding power iterations the raw ``zip_with`` EXPRESSION instead
    (the r10 form) made every pass re-evaluate the whole
    centered→proj1→defl tree per row — at sf0.1 that was 179 s for
    5 k × 64 floats, a pure expression-tree/codegen blowup; with the
    two persists it is one small ``zip_with`` per pass over a
    memory-resident column (r11 fix, bench-verified). Output projects
    every vector onto both components (value-hashing every model
    weight through the projections) plus the centered norm for scree
    accounting."""
    import math

    from .functions.rounding import r9
    from .queries_pipeline import _emb
    from .queries_r8 import (
        PCA_ITERS,
        R as R8,
        _gram_matrix,
        _power_iterate_gram,
    )

    emb = persist_tracked(
        _emb(spark, sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
    )
    # the mean pass doubles as the dim probe: d rows collected once
    # (the former first()-probe job is gone; optimization r16)
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
    # materialize x-mu ONCE; every later pass reads the stored column
    cent = persist_tracked(
        emb.select(
            "vec_id", F.zip_with(F.col("e"), mu_lit, lambda x, m: x - m).alias("c")
        )
    )

    # power iterations over the ONE-PASS Gram matrices (optimization
    # r16 — the C51 rewrite applied to both components: the
    # matrix-free update u = Σ_x x·(x·v) equals G·v, so PCA_ITERS
    # corpus passes + driver collects per component collapse into one
    # Gram pass each + d²-float driver math; per-step rounding mirrors
    # the distributed form, queries_r8._power_iterate_gram)
    v_init = [round(1.0 / math.sqrt(dim), R8)] * dim
    g1 = _gram_matrix(cent.select(F.col("c")), "c", dim)
    v1 = _power_iterate_gram(g1, v_init, PCA_ITERS, R8)
    v1_lit = F.array(*[F.lit(x) for x in v1])

    def _proj(col, v_lit_):
        return F.aggregate(
            F.zip_with(F.col(col), v_lit_, lambda c, w: c * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # row-local deflation: x' = x − (x·v1)·v1 — no shuffle, the second
    # power iteration sees a corpus with pc1's direction removed;
    # materialized alongside c so the pc2 iterations and the final
    # projection all read stored arrays
    mat = persist_tracked(
        cent.select(
            "vec_id",
            "c",
            # NOTE: lambda params must not be named "c" here — PySpark
            # lambda variables shadow same-named outer columns, and the
            # _proj expression references the outer column "c"
            F.zip_with(
                F.col("c"), v1_lit, lambda ci, w: ci - _proj("c", v1_lit) * w
            ).alias("d"),
        )
    )
    g2 = _gram_matrix(mat.select(F.col("d")), "d", dim)
    v2 = _power_iterate_gram(g2, v_init, PCA_ITERS, R8)
    v2_lit = F.array(*[F.lit(x) for x in v2])
    cnorm = F.sqrt(
        F.aggregate(
            F.transform(F.col("c"), lambda c: c * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return mat.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        r9(_proj("c", v1_lit)).alias("pc1_proj"),
        r9(_proj("d", v2_lit)).alias("pc2_proj"),
        r9(cnorm).alias("centered_norm"),
    )


def _pca_topk_sql() -> str:
    """Unrolled deflated-power-iteration oracle: the C51 CTE pattern
    (mean + v_k as 1-row LIST CTEs via generate_subscripts/unnest)
    plus a deflated-corpus CTE and a second unrolled iteration chain;
    identical per-step round(x, 9) + 0.0 on both engines. Heavy
    shared CTEs MATERIALIZED (the iteration chains reference them
    once per hop)."""
    from .queries_r8 import PCA_ITERS

    head = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
d AS (SELECT len(v) AS dim FROM e LIMIT 1),
mu AS (
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

    def chain(src: str, col: str, prefix: str, upd: str) -> list[str]:
        steps = []
        for k in range(PCA_ITERS):
            steps.append(f"""
{upd}{k} AS (
  SELECT list(u ORDER BY pos) AS u FROM (
    SELECT pos, round(sum(cx * dp), 9) + 0.0 AS u
    FROM (
      SELECT generate_subscripts({col}, 1) AS pos, unnest({col}) AS cx,
             list_dot_product({col}, (SELECT w FROM {prefix}{k})) AS dp
      FROM {src}
    )
    GROUP BY pos
  )
),
{prefix}{k + 1} AS (
  SELECT list_transform(u, x -> round(x / sqrt(list_dot_product(u, u)), 9) + 0.0) AS w
  FROM {upd}{k}
)""")
        return steps

    # pc1 chain uses v0..v{K} (v0 shared); pc2 chain needs its own y0
    pc1 = chain("c", "cv", "v", "u")
    defl = f"""
cd AS (
  SELECT vec_id, cv,
         list_transform(list_zip(cv, (SELECT w FROM v{PCA_ITERS})),
                        p -> p[1] - dp * p[2]) AS dv
  FROM (SELECT vec_id, cv,
               list_dot_product(cv, (SELECT w FROM v{PCA_ITERS})) AS dp
        FROM c)
),
y0 AS (SELECT w FROM v0)"""
    pc2 = chain("cd", "dv", "y", "t")
    sql = (
        head
        + ","
        + ",".join(pc1)
        + ","
        + defl
        + ","
        + ",".join(pc2)
        + f"""
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(list_dot_product(cv, (SELECT w FROM v{PCA_ITERS})), 9) + 0.0 AS pc1_proj,
       round(list_dot_product(dv, (SELECT w FROM y{PCA_ITERS})), 9) + 0.0 AS pc2_proj,
       round(sqrt(list_dot_product(cv, cv)), 9) + 0.0 AS centered_norm
FROM cd
"""
    )
    return _materialize(sql, ("e", "c", "cd"))


#: mini-CC hops over the CONTRACTED refresh graph (supernodes =
#: new docs + touched base canonicals). Dup clusters are shallow and
#: contraction collapses every existing component to one node, so the
#: only chains left are new-doc bridges — 3 hops converges for the
#: same reason DEDUP_CC_ITERS=3 does on the full graph.
REFRESH_CC_ITERS = 3


def dedup_cc_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC INDEX REFRESH — the other half of the admission
    story: ``dedup_cc_probe`` assigns a new doc to the min matched
    component but never MERGES components, yet a new doc near-dup of
    docs in TWO existing components is evidence those components are
    one cluster (the classic bridge). A full refresh would re-run CC
    over the whole corpus; this operator re-resolves ONLY the touched
    subgraph, with component CONTRACTION keeping that subgraph tiny:

    1. existing components contract to their canonical supernode
       (base-side structure is already transitive — its internal
       edges add nothing);
    2. the refresh graph = new docs + touched canonicals, with edges
       (new_doc -> matched base canonical) from the cross probe and
       (new_doc <-> new_doc) from the in-batch banded pairs;
    3. min-label propagation over THAT graph (the same
       connected_canonical helper, REFRESH_CC_ITERS hops);
    4. the delta written back = every new doc + every base doc whose
       component was touched, with old and new labels.

    Refresh cost is proportional to |batch| + |touched components|,
    never the corpus — at 100 TB the contracted graph for a crawl
    drop is a few thousand supernodes regardless of index size.
    ``changed`` marks rows whose label actually moved (what an
    upsert-style index write would apply; bridged components show up
    as base rows relabeled to the merged minimum)."""
    return cc_refresh_frame(_docs(spark, sf_dir))


def cc_refresh_frame(d: DataFrame) -> DataFrame:
    """The refresh over an arbitrary (doc_id, text) frame — split by
    doc_id % INC_MOD as everywhere in the incremental family. Factored
    out so tests/test_r10.py can plant a bridge corpus (two base
    components merged by one new doc) without parquet plumbing."""
    from .operators.dedup import (
        _drop_hot_buckets,
        connected_canonical,
        simhash_band_rows,
        simhash_cross_pairs,
        simhash_near_dup_pairs,
        simhash_signatures,
    )

    sig = persist_tracked(simhash_signatures(d))
    base_sig = sig.filter(F.col("doc_id") % INC_MOD != 0)
    new_sig = sig.filter(F.col("doc_id") % INC_MOD == 0)
    # shared capped base bands — the dedup_cc_probe convention
    # (optimization r16): one derivation + cap for the base pair
    # generator and the cross probe's base side
    base_bands = _drop_hot_buckets(
        simhash_band_rows(base_sig), ["band", "val"], SIMHASH_MAX_BUCKET
    )

    # standing index contents (per refresh in production)
    base_pairs = simhash_near_dup_pairs(
        base_sig,
        max_hamming=SIMHASH_MAX_HAMMING,
        max_bucket=SIMHASH_MAX_BUCKET,
        bands=base_bands,
    )
    labels = persist_tracked(
        connected_canonical(
            base_sig.select("doc_id"), base_pairs, iters=DEDUP_CC_ITERS
        ).select("doc_id", "canonical_id")
    )

    # edges of the contracted refresh graph
    cross = simhash_cross_pairs(
        new_sig,
        base_sig,
        max_hamming=SIMHASH_MAX_HAMMING,
        max_bucket=SIMHASH_MAX_BUCKET,
        base_bands=base_bands,
    )
    to_canon = persist_tracked(
        cross.join(
            labels.select(F.col("doc_id").alias("base_id"), "canonical_id"),
            "base_id",
        )
        .select(
            F.col("probe_id").alias("id_a"),
            F.col("canonical_id").alias("id_b"),
        )
        .distinct()
    )
    in_batch = simhash_near_dup_pairs(
        new_sig, max_hamming=SIMHASH_MAX_HAMMING, max_bucket=SIMHASH_MAX_BUCKET
    ).select("id_a", "id_b")
    touched = to_canon.select(F.col("id_b").alias("doc_id")).distinct()
    # LINEAGE CUT before the mini-CC: each min-label hop references its
    # input twice, so the logical plan doubles per hop — on top of the
    # cross-probe/labels lineage that compounding OOMs the OPTIMIZER
    # (not the data) even at toy scale. The contracted graph is
    # batch-sized by construction (|new docs| + |touched canonicals|
    # nodes), so an eager cut materializes kilobytes and gives the
    # 2^iters plan a tiny base. The base-side CC never needs this
    # because its chain starts from a bare scan. cut_lineage =
    # localCheckpoint by default; at cluster scale the reliable-
    # checkpoint conf applies here too (operators/graph.cut_lineage).
    from .operators.graph import batch_width, cut_lineage

    nodes = cut_lineage(
        new_sig.select("doc_id").unionByName(touched).distinct()
    )
    edges = cut_lineage(to_canon.unionByName(in_batch))
    # batch-sized stage width for the mini-CC (the components_refresh
    # convention): the edge relation is already materialized by the
    # cut, so batch_width's count is a block scan; a corpus-scale
    # batch grows the width back to full.
    mini = connected_canonical(
        nodes, edges, iters=REFRESH_CC_ITERS, parts=batch_width(edges)
    ).select("doc_id", F.col("canonical_id").alias("new_component"))

    # delta: new docs carry their mini-label; base docs in touched
    # components inherit their canonical's mini-label
    new_rows = (
        new_sig.select("doc_id")
        .join(mini, "doc_id")
        .select(
            "doc_id",
            F.col("doc_id").alias("old_component"),
            "new_component",
            F.lit(True).alias("is_new_doc"),
        )
    )
    base_rows = (
        labels.join(
            mini.withColumnRenamed("doc_id", "canonical_id"), "canonical_id"
        )
        .select(
            "doc_id",
            F.col("canonical_id").alias("old_component"),
            "new_component",
            F.lit(False).alias("is_new_doc"),
        )
    )
    return new_rows.unionByName(base_rows).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("old_component").cast("long").alias("old_component"),
        F.col("new_component").cast("long").alias("new_component"),
        "is_new_doc",
        (F.col("old_component") != F.col("new_component")).alias("changed"),
    )


def _materialize(sql: str, names: tuple[str, ...]) -> str:
    """Force DuckDB to MATERIALIZE the named CTEs. DuckDB 1.0 inlines
    every CTE by default; the unrolled CC iterations reference the
    heavy shared relations (sig, the capped band join, the edge sets)
    once PER HOP, so inlining re-evaluates them 2^hops times — the
    refresh oracle went from >8 min inlined to 0.2 s materialized at
    sf0.001. Spark needs the matching treatment on its side anyway
    (persist_tracked / localCheckpoint), so the two engines stay
    plan-honest mirrors."""
    import re

    for n in names:
        # both definition forms: "\n<name> AS (" and the chain head
        # "\nWITH <name> AS (" (the r10 string-replace missed the WITH
        # form, silently skipping the first CTE — caught by this assert)
        pat = re.compile(rf"(?m)^(WITH\s+)?{re.escape(n)} AS \(")
        sql, hits = pat.subn(lambda m: f"{m.group(1) or ''}{n} AS MATERIALIZED (", sql)
        if hits == 0:
            raise ValueError(
                f"_materialize: CTE {n!r} not found — a silent no-op here "
                "regresses the oracle from ~0.2s to exponential re-evaluation"
            )
    return sql


def _mini_cc_iter_sql(k: int) -> str:
    prev = f"m{k - 1}"
    return f"""
m{k} AS (
  SELECT m.doc_id, least(m.lab, coalesce(min(n.lab), m.lab)) AS lab
  FROM {prev} m
  LEFT JOIN e2 ON e2.src = m.doc_id
  LEFT JOIN {prev} n ON n.doc_id = e2.dst
  GROUP BY m.doc_id, m.lab
)"""


def _cc_refresh_sql() -> str:
    """Oracle: the base chain + cross probe CTEs of _cc_probe_sql,
    plus the in-batch banded pairs (own hot cap over NEW bands — the
    same treatment simhash_near_dup_pairs applies to its input), the
    contracted edge set, REFRESH_CC_ITERS unrolled mini-CC hops, and
    the delta join-back."""

    def bands_of(src: str) -> str:
        return f"""(
  SELECT doc_id, simhash_hi, simhash_lo, 0 AS band, simhash_hi >> 16 AS val FROM {src}
  UNION ALL
  SELECT doc_id, simhash_hi, simhash_lo, 1, simhash_hi & 65535 FROM {src}
  UNION ALL
  SELECT doc_id, simhash_hi, simhash_lo, 2, simhash_lo >> 16 FROM {src}
  UNION ALL
  SELECT doc_id, simhash_hi, simhash_lo, 3, simhash_lo & 65535 FROM {src}
)"""

    mini_iters = ",".join(
        _mini_cc_iter_sql(k) for k in range(1, REFRESH_CC_ITERS + 1)
    )
    return _materialize(f"""
WITH {_SIMHASH_CORE},
basesig AS (SELECT * FROM sig WHERE doc_id % {INC_MOD} != 0),
newsig AS (SELECT * FROM sig WHERE doc_id % {INC_MOD} = 0),
bands AS (SELECT * FROM {bands_of("basesig")}),
bhot AS (
  SELECT band, val FROM bands GROUP BY band, val
  HAVING count(*) > {SIMHASH_MAX_BUCKET}
),
bands_c AS (
  SELECT b.* FROM bands b
  WHERE NOT EXISTS (SELECT 1 FROM bhot h WHERE h.band = b.band AND h.val = b.val)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash_hi AS hi_a, a.simhash_lo AS lo_a,
         b.simhash_hi AS hi_b, b.simhash_lo AS lo_b
  FROM bands_c a JOIN bands_c b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
),
p AS (
  SELECT id_a, id_b FROM cand
  WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= {SIMHASH_MAX_HAMMING}
),
e AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM p
),
l0 AS (SELECT doc_id, doc_id AS lab FROM basesig),
{_CC_ITERS_SQL},
labels AS (SELECT doc_id, lab AS canonical_id FROM l{DEDUP_CC_ITERS}),
nb AS (SELECT * FROM {bands_of("newsig")}),
xm AS (
  SELECT DISTINCT n.doc_id AS probe_id, b.doc_id AS base_id
  FROM nb n JOIN bands_c b ON n.band = b.band AND n.val = b.val
  WHERE bit_count(xor(n.simhash_hi, b.simhash_hi))
      + bit_count(xor(n.simhash_lo, b.simhash_lo)) <= {SIMHASH_MAX_HAMMING}
),
to_canon AS (
  SELECT DISTINCT x.probe_id AS id_a, lb.canonical_id AS id_b
  FROM xm x JOIN labels lb ON lb.doc_id = x.base_id
),
nbhot AS (
  SELECT band, val FROM nb GROUP BY band, val
  HAVING count(*) > {SIMHASH_MAX_BUCKET}
),
nb_c AS (
  SELECT b.* FROM nb b
  WHERE NOT EXISTS (SELECT 1 FROM nbhot h WHERE h.band = b.band AND h.val = b.val)
),
in_batch AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM nb_c a JOIN nb_c b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash_hi, b.simhash_hi))
      + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= {SIMHASH_MAX_HAMMING}
),
edges AS (SELECT id_a, id_b FROM to_canon UNION ALL SELECT id_a, id_b FROM in_batch),
e2 AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM edges
),
nodes AS (
  SELECT doc_id FROM newsig
  UNION
  SELECT id_b AS doc_id FROM to_canon
),
m0 AS (SELECT doc_id, doc_id AS lab FROM nodes),
{mini_iters},
mini AS (SELECT doc_id, lab AS new_component FROM m{REFRESH_CC_ITERS}),
new_rows AS (
  SELECT ns.doc_id, ns.doc_id AS old_component, m.new_component, TRUE AS is_new_doc
  FROM newsig ns JOIN mini m USING (doc_id)
),
base_rows AS (
  SELECT lb.doc_id, lb.canonical_id AS old_component, m.new_component,
         FALSE AS is_new_doc
  FROM labels lb JOIN mini m ON m.doc_id = lb.canonical_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(old_component AS BIGINT) AS old_component,
       CAST(new_component AS BIGINT) AS new_component,
       is_new_doc,
       old_component != new_component AS changed
FROM (SELECT * FROM new_rows UNION ALL SELECT * FROM base_rows)
""", ("sig", "bands", "bands_c", "e", "labels", "nb", "e2"))


import itertools as _it
import os as _os


def _stream_sink_dir(prefix: str, leaf: str) -> str:
    """A per-invocation parquet sink directory, created UP FRONT (so a
    zero-batch stream still leaves a readable path) and registered for
    removal at interpreter exit (repeated bench/pytest invocations were
    leaking one mkdtemp per run; the shared helper now lives in
    cache_registry.tracked_mkdtemp so every streaming key uses it)."""
    base = tracked_mkdtemp(prefix)
    out_dir = _os.path.join(base, leaf)
    _os.makedirs(out_dir, exist_ok=True)
    return out_dir


def _read_sink(spark: SparkSession, out_dir: str, schema: str) -> DataFrame:
    """Read a foreachBatch parquet sink with an EXPLICIT schema. If the
    filtered stream produced no batches the directory holds no parquet
    files — schema inference would throw UNABLE_TO_INFER_SCHEMA — so an
    empty frame with the declared schema is returned instead."""
    has_files = any(
        f.endswith(".parquet")
        for _, _, files in _os.walk(out_dir)
        for f in files
    )
    if not has_files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(out_dir)

_NEAR_STREAM_SEQ = _it.count()
_CC_STREAM_SEQ = _it.count()


def cc_stream_probe_batch(
    bands_table: str, labels_table: str, best_table: str, out_dir: str
):
    """The stateless per-micro-batch step of ``dedup_cc_probe_stream``
    as a ``foreachBatch`` callable: simhash + token-count the batch's
    docs (per-doc, batch-confined), run the full standing-table
    admission (cc_probe_from_index), append decisions to the parquet
    sink. Shared with tests/test_streaming.py so the multi-batch pin
    drives the production closure."""
    from .operators.dedup import cc_probe_from_index, simhash_signatures

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        from .functions.text import tokens

        s = batch_df.sparkSession
        batch = simhash_signatures(batch_df).join(
            batch_df.select(
                "doc_id", F.size(tokens(F.col("text"))).alias("n_toks")
            ),
            "doc_id",
        )
        (
            cc_probe_from_index(
                s,
                batch,
                bands_table,
                labels_table,
                best_table,
                max_hamming=SIMHASH_MAX_HAMMING,
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    return _probe


def dedup_cc_probe_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL incremental dedup admission loop under the streaming
    engine — where ``dedup_incremental_near_stream`` streams the
    C36b band-hit screen, this streams the C58 DECISION: the standing
    three-table CC index (band rows, labels, keep-best rollup) is
    built once from the base corpus (build_cc_index — the per-refresh
    half), then the new-doc slice arrives via ``readStream`` and each
    micro-batch runs the complete admission inside ``foreachBatch``:
    simhash the batch (stateless), band-probe + hamming against the
    bucketed band table, resolve components, decide supersede, append
    to parquet. No watermark, no state store — the dedup state lives
    in the bucketed tables, so streaming memory stays bounded by one
    micro-batch forever. Every step is per-doc, so replay == the
    batch ``dedup_cc_probe`` computation, which is the oracle (same
    SQL)."""
    from .operators.dedup import build_cc_index
    from .sinks import ensure_table_absent
    from .sources import stream_table
    from .streaming import await_or_raise

    d = _docs(spark, sf_dir)
    seq = next(_CC_STREAM_SEQ)
    names = tuple(
        f"cc_stream_{part}_{seq}" for part in ("bands", "labels", "best")
    )
    for t in names:
        ensure_table_absent(spark, t)
    build_cc_index(
        spark,
        d.filter(F.col("doc_id") % INC_MOD != 0),
        *names,
        max_hamming=SIMHASH_MAX_HAMMING,
        max_bucket=SIMHASH_MAX_BUCKET,
        cc_iters=DEDUP_CC_ITERS,
    )

    out_dir = _stream_sink_dir("cc_stream_", "decisions")
    stream = stream_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % INC_MOD == 0
    )
    q = (
        stream.writeStream.foreachBatch(
            cc_stream_probe_batch(*names, out_dir)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", out_dir + "_ckpt")
        .start()
    )
    await_or_raise(q)
    for t in names:
        ensure_table_absent(spark, t)
    return _read_sink(
        spark,
        out_dir,
        "doc_id long, component_id long, n_matches long, "
        "is_new_component boolean, n_toks long, supersedes boolean",
    )


def near_stream_probe_batch(idx_table: str, out_dir: str):
    """The stateless per-micro-batch admission step of
    ``dedup_incremental_near_stream``, as a ``foreachBatch`` callable:
    shingle/minhash the batch's docs, LEFT SEMI probe the standing
    band index, per-doc hit count, append to the parquet sink. Shared
    with tests/test_streaming.py's multi-batch replay pin so the test
    drives the exact production closure."""
    from .operators.dedup import (
        lsh_bands_from_wide,
        minhash_signatures_wide,
        probe_band_index,
    )
    from .queries_pipeline import BANDS, MINHASH_K, SHINGLE_K

    def _probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        new_b = lsh_bands_from_wide(
            minhash_signatures_wide(
                batch_df, num_hashes=MINHASH_K, shingle_k=SHINGLE_K
            ),
            num_bands=BANDS,
            num_hashes=MINHASH_K,
        )
        hits = (
            probe_band_index(s, new_b, idx_table)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hit_bands"))
        )
        (
            new_b.select("doc_id")
            .distinct()
            .join(hits, "doc_id", "left")
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.coalesce("n_hit_bands", F.lit(0)).alias("n_hit_bands"),
                (F.coalesce("n_hit_bands", F.lit(0)) > 0).alias(
                    "is_near_dup_candidate"
                ),
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    return _probe_batch


def dedup_incremental_near_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup admission — C36b (dedup_incremental_near)
    run under the streaming engine: the one production dedup shape
    the batch family didn't yet demonstrate (VERDICT r9 item 6). The
    standing (band, band_sig) index is built ONCE as a persisted
    bucketed table (write_band_index — in production this is the
    long-lived index the batch refresh maintains); the new-doc slice
    then arrives via ``readStream`` and each micro-batch runs the
    STATELESS probe inside ``foreachBatch``: shingle/minhash the
    batch's docs (per-doc aggregate confined to the batch — a doc's
    rows never split), LEFT SEMI probe the index, per-doc hit count,
    append to a parquet sink. No watermark, no state store — the
    stream's "state" is the index table on disk, so streaming memory
    is bounded by one micro-batch regardless of stream lifetime
    (stateOperators stays empty; pinned in tests/test_streaming.py
    along with multi-batch replay == batch). Replay == the batch C36b
    computation, which is the oracle (same SQL)."""
    from .operators.dedup import (
        lsh_bands_from_wide,
        minhash_signatures_wide,
        write_band_index,
    )
    from .queries_pipeline import BANDS, MINHASH_K, SHINGLE_K
    from .queries_pipeline_extras import INC_MOD
    from .sources import stream_table
    from .streaming import await_or_raise

    docs = _docs(spark, sf_dir)
    bands = lsh_bands_from_wide(
        minhash_signatures_wide(docs, num_hashes=MINHASH_K, shingle_k=SHINGLE_K),
        num_bands=BANDS,
        num_hashes=MINHASH_K,
    )
    from .sinks import ensure_table_absent

    seq = next(_NEAR_STREAM_SEQ)
    idx_table = f"near_stream_band_idx_{seq}"
    # a killed prior session leaves the warehouse location behind while
    # the in-memory catalog forgets the table; clear both first
    ensure_table_absent(spark, idx_table)
    write_band_index(bands.filter(F.col("doc_id") % INC_MOD != 0), idx_table)

    out_dir = _stream_sink_dir("near_stream_", "admissions")
    _probe_batch = near_stream_probe_batch(idx_table, out_dir)

    stream = stream_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % INC_MOD == 0
    )
    q = (
        stream.writeStream.foreachBatch(_probe_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", out_dir + "_ckpt")
        .start()
    )
    await_or_raise(q)
    # the admissions live in the parquet sink now; retire the
    # per-invocation index table so repeated runs don't litter the
    # warehouse (production would of course keep its standing index)
    ensure_table_absent(spark, idx_table)
    return _read_sink(
        spark,
        out_dir,
        "doc_id long, n_hit_bands long, is_near_dup_candidate boolean",
    )


from .queries_pipeline_extras import DEDUP_INCREMENTAL_NEAR_SQL  # noqa: E402

R10_QUERIES: dict = {
    "dedup_cc_probe": dedup_cc_probe,
    "dedup_cc_refresh": dedup_cc_refresh,
    "dedup_incremental_near_stream": dedup_incremental_near_stream,
    "text_normalize": text_normalize,
    "embedding_pca_topk": embedding_pca_topk,
    "dedup_cc_probe_stream": dedup_cc_probe_stream,
}

R10_ORACLES: dict = {
    "dedup_cc_probe": _cc_probe_sql(),
    "dedup_cc_refresh": _cc_refresh_sql(),
    # replay == batch C36b: the streamed admissions must union to the
    # identical per-doc hit relation
    "dedup_incremental_near_stream": DEDUP_INCREMENTAL_NEAR_SQL,
    "text_normalize": TEXT_NORMALIZE_SQL,
    "embedding_pca_topk": _pca_topk_sql(),
    # replay == batch C58: the streamed admission decisions must union
    # to the identical per-doc relation
    "dedup_cc_probe_stream": _cc_probe_sql(),
}
