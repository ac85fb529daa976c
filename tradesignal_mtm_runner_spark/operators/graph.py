"""Standing co-purchase EDGE index + the shared graph kernels
(VERDICT r13 item 4).

The live graph queries (``copurchase_triangles`` B55,
``copurchase_pagerank`` B44) rebuild the lineitem → basket → pair edge
relation on every invocation — the same batch/standing asymmetry the
retrieval stack closed round by round (hash/band r5, IVF r7, CC r10,
PQ r12, BM25 r13). At 100 TB the lineitem scan + basket aggregate is
the cost; the graph itself is support-cut and therefore OUTPUT-sized.
This module persists the graph once so every downstream graph
computation runs at GRAPH-proportional cost:

- ``{table}``      undirected support-cut edges (part_a < part_b,
  pair_cnt) — bucketed and sorted on (part_a, part_b), the
  write_band_index convention.
- ``{table}_deg``  per-node degrees (pk, deg, wdeg): ``deg`` = the
  unweighted support-cut degree (what triangle ORIENTATION orders by),
  ``wdeg`` = Σ pair_cnt over incident edges (PageRank's normalizer).
  Persisting both means neither probe re-aggregates the edge list to
  get its ordering relation.

The kernels (:func:`triangle_counts`, :func:`pagerank_scores`) are
SHARED between the live queries and the index probes — parity is
structural, not coincidental — and pinned value-for-value in
tests/test_scale_patterns.py. ``index_probe_triangles`` in bench.py
times the probe form against the live lineitem-rescan form.

Unlike BM25's append-only partials, the edge relation is NOT
incrementally maintainable without a merge: new orders can lift a
sub-support pair over the cut, so an ingest batch changes existing
pair counts. The honest refresh story is rebuild-on-schedule from the
(one) lineitem scan — the IVF/PQ frozen-model convention, documented
rather than hidden.

The iterative kernels (PageRank, k-core, k-truss, LPA, min-label
connected components, the hop expansions, and the canonical-id CC in
operators/dedup.py) all run through ONE round loop, :func:`fixpoint`:
it owns the per-round lineage cut, the fixed unroll the SQL oracles
mirror, and the converged mode with its fail-loud bound. Each kernel
supplies only its step and its convergence probe; each public name
is a thin fixed-round or converged entry over that loop.

No counterpart in the pandas reference (reference runner_mtm.py:71 is
the MTM loop); this is the warehouse/graph surface the build brief
adds on top of it.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import r9
from ..sinks import ensure_table_absent, write_bucketed

#: session conf key selecting the lineage-cut mechanism for the
#: iterative graph kernels (see :func:`cut_lineage`)
RELIABLE_CUTS_CONF = "spark.tradesignal.graph.reliableLineageCuts"


def cut_lineage(df: DataFrame) -> DataFrame:
    """LINEAGE CUT for the iterative kernels: :func:`fixpoint` cuts
    every round's output, and the kernels cut their edge relations
    once up front. A round references its input relation more than
    once, so without a cut the logical plan DOUBLES per round —
    2^rounds copies of the upstream chain OOMs the OPTIMIZER, which
    persist() does not prevent (it caches data, not lineage).

    Default: ``localCheckpoint(eager=True)`` — truncates lineage into
    EXECUTOR-LOCAL block storage. Right at local[32] (one JVM, nothing
    to lose), and cheapest on a healthy cluster, but on a real cluster
    an executor loss MID-ITERATION makes those blocks unrecoverable
    and fails the job: localCheckpoint deletes the recompute path.

    At 100 TB set ``spark.tradesignal.graph.reliableLineageCuts=true``
    (plus ``sparkContext.setCheckpointDir`` to a durable FS path):
    rounds then cut through a RELIABLE ``checkpoint(eager=True)``,
    whose blocks live in the checkpoint dir and survive executor loss
    — the documented trade-off is one HDFS/object-store write per
    round of a graph-sized (not data-sized) relation. Spark does NOT
    reclaim those snapshots by default
    (``spark.cleaner.referenceTracking.cleanCheckpoints`` defaults to
    false), so a converged run at max_iters=100 leaves up to ~100
    graph-sized snapshots per query in the checkpoint dir: set that
    conf to ``true`` alongside this flag (snapshots are then GC'd when
    their RDD is collected), or schedule periodic checkpoint-dir
    cleanup. Fails loud if the flag is set without a checkpoint dir:
    silently falling back to the non-recoverable cut would defeat the
    flag's purpose."""
    spark = df.sparkSession
    if (
        spark.conf.get(RELIABLE_CUTS_CONF, "false") or "false"
    ).lower() != "true":
        return df.localCheckpoint(eager=True)
    if spark.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            f"{RELIABLE_CUTS_CONF}=true but no checkpoint dir is set — "
            "call spark.sparkContext.setCheckpointDir(<durable path>) "
            "first; reliable lineage cuts write their round snapshots "
            "there"
        )
    return df.checkpoint(eager=True)


def symmetrize(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *carry,
    a: str = "part_a",
    b: str = "part_b",
) -> DataFrame:
    """Both directions of every undirected (``a``, ``b``) edge as
    directed (``src``, ``dst``, ``*carry``) rows — the relation every
    neighbour join reads. ``carry`` = extra columns (names or Columns)
    copied onto both directions."""
    return edges.select(F.col(a).alias(src), F.col(b).alias(dst), *carry).unionAll(
        edges.select(F.col(b).alias(src), F.col(a).alias(dst), *carry)
    )


def fixpoint(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int | None = None,
    max_rounds: int = 64,
    done: Callable[[DataFrame, DataFrame], bool] | None = None,
    stuck: str = "still changing",
) -> DataFrame:
    """The one round loop of every iterative kernel (PageRank, k-core,
    k-truss, LPA, min-label CC and the hop expansions here; the
    canonical-id CC in operators/dedup.py). Each round is
    ``cut_lineage(step(state))``.

    - Fixed mode (``rounds`` given): exactly ``rounds`` steps. This is
      the unroll the SQL oracles mirror, so engine and oracle agree
      even mid-convergence.
    - Converged mode (``rounds=None``): steps until ``done(prev, new)``
      says the round changed nothing. ``max_rounds`` steps without a
      fixpoint raise RuntimeError named after the calling kernel
      (``name``, with ``stuck`` saying what still moves): a too-small
      bound must never ship a not-yet-converged result.

    The probes stay with their kernels: :func:`labels_unchanged` for a
    carried ``prev`` column (CC, LPA), :func:`count_unchanged` for
    shrink-only relations (k-core, k-truss), and PageRank's L1 delta."""
    for _ in range(max_rounds if rounds is None else rounds):
        new = cut_lineage(step(state))
        if rounds is None and done(state, new):
            return new
        state = new
    if rounds is not None:
        return state
    raise RuntimeError(
        f"{name}: no fixpoint within {max_rounds} rounds ({stuck}) — "
        "raise the round bound; refusing to return a not-yet-converged "
        "result"
    )


def labels_unchanged(prev: DataFrame, new: DataFrame) -> bool:
    """Converged probe for label kernels whose round output carries
    the round's input label as ``prev``: a count-scan of the cut round
    output, no join."""
    return new.filter(F.col("label") != F.col("prev")).count() == 0


def count_unchanged() -> Callable[[DataFrame, DataFrame], bool]:
    """Converged probe for shrink-only relations (k-core survivors,
    k-truss edges): an unchanged count is an unchanged set. The probe
    remembers the last count, so each round counts only its own
    output."""
    counts: list[int] = []

    def done(prev: DataFrame, new: DataFrame) -> bool:
        counts.append(new.count())
        return counts[-1] == (counts[-2] if len(counts) > 1 else prev.count())

    return done


def batch_width(df: DataFrame) -> int:
    """Stage width for a batch-sized relation: one partition per 64k
    rows, capped at ``defaultParallelism``. At 32 cores the per-round
    jobs of a kilobyte mini-CC otherwise run 32-task stages. Count
    ``df`` after it is cut, so the count is a block scan."""
    n = df.count()
    return max(
        1, min(df.sparkSession.sparkContext.defaultParallelism, -(-n // 65536))
    )


def pairs_from_baskets(baskets: DataFrame, min_sup: int | None = None) -> DataFrame:
    """(part_a, part_b, pair_cnt) from the per-order distinct item
    sets: pair generation is ROW-LOCAL (two lateral explodes of the
    sorted array, a < b — bounded by order size, which the schema
    bounds at single digits), the pair aggregate is the only shuffle,
    with map-side partial aggregation. Never an O(n²) self-join.
    ``min_sup`` applies the support cut; None keeps RAW counts (the
    append-only partials path, where the cut happens at fold time)."""
    pairs = (
        baskets.select(F.explode("parts").alias("part_a"), "parts")
        .select("part_a", F.explode("parts").alias("part_b"))
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_cnt"))
    )
    if min_sup is not None:
        pairs = pairs.filter(F.col("pair_cnt") >= min_sup)
    return pairs


def node_degrees(edges: DataFrame) -> DataFrame:
    """(pk, deg, wdeg) from the undirected (part_a, part_b, pair_cnt)
    edge relation: one union + one aggregate, both graph-sized."""
    half = edges.select(
        F.col("part_a").alias("pk"), F.col("pair_cnt").alias("w")
    ).unionAll(
        edges.select(F.col("part_b").alias("pk"), F.col("pair_cnt").alias("w"))
    )
    return half.groupBy("pk").agg(
        F.count(F.lit(1)).cast("long").alias("deg"),
        F.sum("w").cast("long").alias("wdeg"),
    )


def oriented_closed_triangles(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Every triangle of the undirected graph, ENUMERATED EXACTLY ONCE
    via degree-ordered orientation (the B55 scale pattern): orient
    low→high in the (deg, id) total order, wedges enumerate only at
    each edge's source (out-degree ≤ O(√E) by the arboricity bound),
    the closing join hits the oriented edge. Returns one row (src, v,
    w) per triangle — src is the ≺-minimal corner. Shared by the
    node-credit kernel (:func:`triangle_counts`) and the edge-credit
    kernel (:func:`edge_embeddedness`); factoring the enumeration out
    means both sides of any node-vs-edge rollup agree on the exact
    triangle set by construction. ``edges`` = (part_a, part_b [, ...])
    with part_a < part_b; ``deg`` = (pk, deg)."""
    e = edges.join(
        deg.select(F.col("pk").alias("part_a"), F.col("deg").alias("deg_a")),
        "part_a",
    ).join(
        deg.select(F.col("pk").alias("part_b"), F.col("deg").alias("deg_b")),
        "part_b",
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("part_a") < F.col("part_b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("part_a")).otherwise(F.col("part_b")).alias("src"),
        F.when(a_first, F.col("part_b")).otherwise(F.col("part_a")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_dst"),
    )
    o1 = oriented.select(
        "src", F.col("dst").alias("v"), F.col("deg_dst").alias("deg_v")
    )
    o2 = oriented.select(
        "src", F.col("dst").alias("w"), F.col("deg_dst").alias("deg_w")
    )
    wedges = o1.join(o2, "src").filter(
        (F.col("deg_v") < F.col("deg_w"))
        | ((F.col("deg_v") == F.col("deg_w")) & (F.col("v") < F.col("w")))
    )
    return wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    ).select("src", "v", "w")


def triangle_counts(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Per-node triangle participation (the B55 kernel — see
    copurchase_triangles for the full scale argument): each triangle
    from :func:`oriented_closed_triangles` credits all three corners.
    ``edges`` = (part_a, part_b [, ...]) with part_a < part_b;
    ``deg`` = (pk, deg)."""
    closed = oriented_closed_triangles(edges, deg)
    return (
        closed.select(
            F.explode(F.array(F.col("src"), F.col("v"), F.col("w"))).alias("pk")
        )
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .select(F.col("pk").cast("long").alias("part"), "n_triangles")
    )


def edge_triangle_support(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Per canonical EDGE, its triangle count (support) — the shared
    edge-credit step of B64 embeddedness and the k-truss peel: every
    triangle from :func:`oriented_closed_triangles` (O(√E) wedge
    bound, each triangle exactly once) credits its THREE edges,
    canonicalized back to (min, max) form row-locally, then one
    edge-keyed count aggregate. Triangle-free edges are ABSENT from
    the result (the aggregate never sees them) — callers that must
    keep them LEFT-join back onto the edge relation (B64 does; the
    truss peel drops them by definition for k ≥ 3). Returns
    (part_a, part_b, tri_sup)."""
    closed = oriented_closed_triangles(edges, deg.select("pk", "deg"))
    lo = F.least  # triangle corners back to canonical a < b edge form
    hi = F.greatest
    tri_edges = closed.select(
        F.explode(
            F.array(
                F.struct(
                    lo("src", "v").alias("part_a"), hi("src", "v").alias("part_b")
                ),
                F.struct(
                    lo("src", "w").alias("part_a"), hi("src", "w").alias("part_b")
                ),
                F.struct(
                    lo("v", "w").alias("part_a"), hi("v", "w").alias("part_b")
                ),
            )
        ).alias("e")
    ).select("e.part_a", "e.part_b")
    return tri_edges.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).cast("long").alias("tri_sup")
    )


def edge_embeddedness(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Per-EDGE embeddedness and neighborhood overlap — the edge-level
    measure beside the family's node-level (triangles, clustering,
    core degrees) and global (profile) ones, and the classic backbone
    / tie-strength primitive (Granovetter weak ties, Onnela et al.
    overlap): for every support-cut edge (a, b), n_common =
    |N(a) ∩ N(b)| (its triangle support) and overlap =
    n_common / (deg_a + deg_b − 2 − n_common) — the Jaccard of the
    endpoint neighborhoods excluding the endpoints themselves. Edges
    with overlap 0 are local bridges (no alternative 2-path);
    high-overlap edges are Simmelian ties a backbone filter keeps.

    Scale shape: triangles come from the SHARED oriented enumeration
    (:func:`oriented_closed_triangles`, O(√E) wedge bound — never the
    Σdeg² naive wedge join), each triangle credits its three edges
    canonicalized back to (min, max) form (row-local explode), one
    edge-keyed count aggregate, one LEFT join onto the edge relation
    (triangle-free edges keep 0 / 0.0 — pinned), two degree joins.
    Overlap rounds to 9 dp; the zero-denominator case (two degree-1
    endpoints — an isolated edge) is guarded to 0.0 in both engines.
    Returns (part_a, part_b, pair_cnt, n_common, overlap)."""
    support = edge_triangle_support(edges, deg).withColumnRenamed(
        "tri_sup", "n_common"
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0)).cast("long")
    denom = (
        F.col("deg_a") + F.col("deg_b") - F.lit(2) - nc
    ).cast("double")
    return (
        edges.select("part_a", "part_b", "pair_cnt")
        .join(support, ["part_a", "part_b"], "left")
        .join(
            deg.select(F.col("pk").alias("part_a"), F.col("deg").alias("deg_a")),
            "part_a",
        )
        .join(
            deg.select(F.col("pk").alias("part_b"), F.col("deg").alias("deg_b")),
            "part_b",
        )
        .select(
            F.col("part_a").cast("long").alias("part_a"),
            F.col("part_b").cast("long").alias("part_b"),
            F.col("pair_cnt").cast("long").alias("pair_cnt"),
            nc.alias("n_common"),
            r9(
                F.when(denom > 0, nc.cast("double") / denom).otherwise(
                    F.lit(0.0)
                )
            ).alias("overlap"),
        )
    )


def pagerank_scores(
    edges: DataFrame,
    wdeg: DataFrame,
    damp: float,
    iters: int,
) -> DataFrame:
    """Weighted PageRank over the symmetrized support-cut graph (the
    B44 kernel — see copurchase_pagerank for the full plan argument),
    fixed-round entry: exactly ``iters`` rounds, mirrored by the SQL
    oracle. ``edges`` = (part_a, part_b, pair_cnt) undirected;
    ``wdeg`` = (pk, wdeg). Returns (p_partkey, pagerank). The round is
    described at :func:`_pagerank`."""
    return _pagerank(edges, wdeg, damp, rounds=iters)


def pagerank_scores_converged(
    edges: DataFrame,
    wdeg: DataFrame,
    damp: float,
    tol: float = 1e-7,
    max_iters: int = 100,
) -> DataFrame:
    """Converged entry of :func:`pagerank_scores`: rounds until the L1
    delta Σ|r_new − r_old| drops below ``max(tol, n·1e-9)``. PageRank
    converges geometrically at rate ``damp``, so a round count tuned
    at test scale can be far from the fixpoint on a larger or more
    hub-concentrated graph. Fails loud after ``max_iters`` rounds."""
    return _pagerank(edges, wdeg, damp, tol=tol, max_rounds=max_iters)


def _pagerank(
    edges: DataFrame,
    wdeg: DataFrame,
    damp: float,
    rounds: int | None = None,
    tol: float = 1e-7,
    max_rounds: int = 100,
) -> DataFrame:
    """Both PageRank entries over :func:`fixpoint`. Transition
    probabilities w/wdeg and the node set are built and cut once;
    each round is one join + one aggregate + one node-keyed left join,
    ranks rounded to 9 dp per round so the Spark and oracle chains
    stay glued. The converged probe is the L1 delta: one node-keyed
    join + sum per round. Iterates are 9 dp-QUANTIZED, so a delta
    below n·5e-10 would demand an exact fixpoint of the rounded map,
    which can 2-cycle; the tolerance is therefore clamped to
    ``max(tol, n·1e-9)``, one quantum of rounding slack per node. An
    empty graph returns the empty ranking."""
    trans = cut_lineage(
        symmetrize(edges, "src", "dst", F.col("pair_cnt").alias("w"))
        .join(wdeg.select(F.col("pk").alias("src"), "wdeg"), "src")
        .select("src", "dst", (F.col("w") / F.col("wdeg")).alias("p"))
    )
    nodes = cut_lineage(wdeg.select(F.col("pk").alias("node")))
    n = nodes.count()  # bounded model scalar: |V| of the support-cut graph
    if n == 0:
        return nodes.select(
            F.col("node").alias("p_partkey"), F.lit(0.0).alias("pagerank")
        )
    tol = max(tol, float(n) * 1e-9)
    base = 1.0 - damp

    def step(ranks: DataFrame) -> DataFrame:
        incoming = (
            trans.join(ranks, trans["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("pagerank") * F.col("p")).alias("mass"))
        )
        return nodes.join(
            incoming, nodes["node"] == incoming["dst"], "left"
        ).select(
            "node",
            r9(
                F.lit(base) / F.lit(float(n))
                + F.lit(damp) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("pagerank"),
        )

    def l1_below_tol(prev: DataFrame, new: DataFrame) -> bool:
        delta = (
            new.join(prev.select("node", F.col("pagerank").alias("prev")), "node")
            .agg(F.sum(F.abs(F.col("pagerank") - F.col("prev"))).alias("d"))
            .collect()[0]["d"]
        )
        return delta is not None and delta < tol

    ranks = fixpoint(
        "pagerank_scores_converged",
        nodes.select("node", r9(F.lit(1.0) / F.lit(float(n))).alias("pagerank")),
        step,
        rounds,
        max_rounds,
        l1_below_tol,
        f"L1 delta still >= {tol}",
    )
    return ranks.select(F.col("node").alias("p_partkey"), "pagerank")


def kcore_members(edges: DataFrame, k: int, peels: int) -> DataFrame:
    """k-core membership via ITERATED SIMULTANEOUS PEELING — the
    fourth classic distributed graph computation beside CC label
    propagation, PageRank and oriented triangle counting. Each round
    (:func:`kcore_round`) drops EVERY node whose degree within the
    surviving set is < k; after enough rounds the survivors are
    exactly the k-core (the maximal subgraph of minimum degree ≥ k).
    Simultaneous (round-synchronous) deletion is the distributed form:
    rounds needed = the graph's peel DEPTH, small in practice (≤5
    across the test SFs), while the sequential min-degree peel would
    be |V| sequential rounds. Each round is two semi-joins (restrict
    the symmetrized edge list to survivors) + one aggregate, all
    partial-agg friendly.

    Fixed-round entry: exactly ``peels`` rounds, mirrored by the SQL
    oracle; :func:`kcore_members_converged` is the converged entry,
    and both run through :func:`fixpoint`. The symmetrized edge list
    is cut once up front, so the live query's lineitem→basket→pair
    chain runs exactly once.

    ``edges`` = undirected (part_a, part_b [, ...]); returns
    (part, core_deg) for k-core members, core_deg = the member's
    degree WITHIN the core. ``peels`` must be ≥ 1 (the survivor
    relation only carries core_deg after a round has run).

    Caller contract (family-wide, also community_labels /
    clustering_coefficients / link_predictions): ``edges`` is the
    CANONICAL undirected relation — one row per pair, part_a < part_b,
    no duplicates (what pairs_from_baskets / edges_from_partials
    emit); duplicate rows would inflate the vote/degree counts."""
    if peels < 1:
        raise ValueError(
            f"kcore_members: peels must be >= 1 (got {peels}) — the "
            "survivor relation only carries core_deg after a round"
        )
    return _kcore(edges, k, rounds=peels)


def kcore_members_converged(
    edges: DataFrame, k: int, max_peels: int = 64
) -> DataFrame:
    """Converged entry of :func:`kcore_members`: peels until a round
    drops no node. Peel depth grows with graph density, so a fixed
    unroll can ship a not-yet-converged (too large) core. Survivor
    sets are MONOTONE decreasing, so the probe is
    :func:`count_unchanged`. Fails loud after ``max_peels`` rounds."""
    return _kcore(edges, k, max_rounds=max_peels)


def _kcore(
    edges: DataFrame, k: int, rounds: int | None = None, max_rounds: int = 64
) -> DataFrame:
    sym = cut_lineage(symmetrize(edges))
    core = fixpoint(
        "kcore_members_converged",
        sym.select("src").distinct(),
        lambda cur: kcore_round(sym, cur, k),
        rounds,
        max_rounds,
        count_unchanged(),
        "survivors still dropping",
    )
    return core.select(F.col("src").cast("long").alias("part"), "core_deg")


def kcore_round(sym: DataFrame, survivors: DataFrame, k: int) -> DataFrame:
    """One simultaneous-peel round: restrict the symmetrized edge list
    to edges whose BOTH endpoints survive, re-count degrees, drop
    nodes below k. Exposed separately so the per-round PLAN can be
    pinned directly — the query-level plan is a post-checkpoint scan,
    which pins nothing (review r14b). ``sym`` = (src, dst);
    ``survivors`` = a relation with a ``src`` column."""
    return (
        sym.join(survivors.select("src"), "src")
        .join(survivors.select(F.col("src").alias("dst")), "dst")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
        .filter(F.col("core_deg") >= k)
    )


def ktruss_round(cur: DataFrame, k: int) -> DataFrame:
    """One simultaneous k-truss peel round: per-edge triangle support
    within the SURVIVING edge set (the shared oriented edge-credit
    kernel — degrees recomputed from the survivors so the orientation
    keeps its O(√E) wedge bound as the graph thins), then drop every
    edge with support < k−2. Edges in no triangle are absent from the
    support aggregate and drop implicitly — exactly the k ≥ 3
    semantics (an edge needs ≥ 1 triangle to be in any 3-truss).
    ``cur`` = canonical (part_a, part_b [, ...]); returns
    (part_a, part_b, truss_sup)."""
    d = (
        cur.select(F.col("part_a").alias("pk"))
        .unionAll(cur.select(F.col("part_b").alias("pk")))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    return (
        edge_triangle_support(cur.select("part_a", "part_b"), d)
        .withColumnRenamed("tri_sup", "truss_sup")
        .filter(F.col("truss_sup") >= k - 2)
    )


def ktruss_edges(edges: DataFrame, k: int, peels: int) -> DataFrame:
    """k-truss decomposition via ITERATED SIMULTANEOUS EDGE PEELING —
    the cohesive-subgraph classic BESIDE k-core (Cohen 2008): the
    maximal subgraph where every EDGE closes ≥ k−2 triangles within
    the subgraph. Where k-core certifies degree-cohesion (each node
    keeps ≥ k in-core neighbors), k-truss certifies TRIANGLE-cohesion
    — a star survives any k-core at high enough hub degree but no
    3-truss, which is why truss filtering is the standard community
    pre-screen one notch stronger than core filtering.

    Each round (:func:`ktruss_round`) recomputes per-edge triangle
    support over the survivors (the SHARED oriented enumeration —
    O(√E) wedges, each triangle once, three row-local edge credits,
    one edge-keyed count) and drops every edge below k−2
    SIMULTANEOUSLY; rounds needed = the truss peel depth (≤ 2 across
    the test SFs — the support cut already prunes most low-support
    edges). Fixed-round entry: exactly ``peels`` rounds, mirrored by
    the SQL oracle; :func:`ktruss_edges_converged` is the converged
    entry, and both run through :func:`fixpoint`.

    ``edges`` = canonical undirected (part_a, part_b [, ...]),
    part_a < part_b, no duplicates. Returns (part_a, part_b,
    truss_sup) — survivors with their in-truss support. Requires
    k ≥ 3 (a 2-truss is every edge — the peel's implicit
    zero-triangle drop would be wrong) and peels ≥ 1 (the survivor
    relation only carries truss_sup after a round)."""
    if peels < 1:
        raise ValueError(
            f"ktruss_edges: peels must be >= 1 (got {peels}) — the "
            "survivor relation only carries truss_sup after a round"
        )
    return _ktruss(edges, k, rounds=peels)


def ktruss_edges_converged(
    edges: DataFrame, k: int, max_peels: int = 64
) -> DataFrame:
    """Converged entry of :func:`ktruss_edges`: peels until a round
    drops no edge. Truss peel depth grows with graph structure, so a
    fixed unroll can ship a not-yet-converged (too large) truss —
    the live sf0.001 graph at k=4 already peels 5 rounds deep.
    Survivor edge sets are MONOTONE decreasing, so the probe is
    :func:`count_unchanged`. Fails loud after ``max_peels`` rounds."""
    return _ktruss(edges, k, max_rounds=max_peels)


def _ktruss(
    edges: DataFrame, k: int, rounds: int | None = None, max_rounds: int = 64
) -> DataFrame:
    if k < 3:
        raise ValueError(
            f"ktruss_edges: k must be >= 3 (got {k}) — the 2-truss is "
            "the whole graph and the peel's zero-triangle drop would "
            "miscount it"
        )
    truss = fixpoint(
        "ktruss_edges_converged",
        cut_lineage(edges.select("part_a", "part_b")),
        lambda cur: ktruss_round(cur, k),
        rounds,
        max_rounds,
        count_unchanged(),
        "edges still dropping",
    )
    return truss.select(
        F.col("part_a").cast("long").alias("part_a"),
        F.col("part_b").cast("long").alias("part_b"),
        F.col("truss_sup").cast("long").alias("truss_sup"),
    )


def reach_counts(edges: DataFrame, hops: int) -> DataFrame:
    """EXACT neighborhood function / hop-plot: N(v, t) = #{u :
    dist(v, u) ≤ t} for t = 0..hops — the distance-structure classic
    (effective diameter, hop-plot exponent) beside the family's
    cohesion and centrality kernels. Iterated frontier expansion on
    the materialized REACH relation: R_0 = identity, R_{t+1} = R_t ∪
    (R_t ⋈ edges) distinct, one count aggregate per hop.

    SCALE HONESTY (the reason this form exists): the reach relation
    saturates at n per node of its component — O(n²) rows on a
    connected graph. That is the hop-plot's DEFINING object, so the
    exact form is inherently quadratic: it is the ORACLE-GROUNDABLE
    form (DuckDB mirrors the same unroll) and stays cheap on the
    support-cut graphs (≤ 0.5 M reach rows at the bench SFs, hops
    fixed); the 100× production path is :func:`hyperball_counts` —
    the Boldi–Vigna HyperBall sketch propagation at O(n·m_registers)
    rows per round — whose tolerance against THIS form is pinned in
    tests/test_r17.py. The hops run through :func:`fixpoint` in fixed
    mode (R_t feeds both the union and the expansion join, so each
    round is cut); each round's input feeds its hop's count.

    ``edges`` = canonical undirected (part_a, part_b [, ...]);
    returns (part, hop, n_reach), one row per node per hop 0..hops,
    all BIGINT."""
    if hops < 1:
        raise ValueError(f"reach_counts: hops must be >= 1 (got {hops})")
    sym = cut_lineage(symmetrize(edges, "u", "v"))
    hop_edges = sym.select(
        F.col("u").alias("_mid"), F.col("v").alias("_nxt")
    )
    out: list[DataFrame] = []

    def n_reach(reach: DataFrame) -> DataFrame:
        return reach.groupBy("src").agg(
            F.count(F.lit(1)).cast("long").alias("n_reach")
        ).select("src", F.lit(len(out)).cast("long").alias("hop"), "n_reach")

    def step(reach: DataFrame) -> DataFrame:
        out.append(n_reach(reach))  # the round's input is hop len(out)
        expanded = (
            reach.select("src", F.col("dst").alias("_mid"))
            .join(hop_edges, "_mid")
            .select("src", F.col("_nxt").alias("dst"))
        )
        return reach.unionAll(expanded).distinct()

    reach = sym.select(F.col("u").alias("src")).distinct().select(
        "src", F.col("src").alias("dst")
    )
    out.append(n_reach(fixpoint("reach_counts", reach, step, rounds=hops)))
    return reduce(DataFrame.unionAll, out).select(
        F.col("src").cast("long").alias("part"), "hop", "n_reach"
    )


#: HyperBall register count (m). 64 registers → HLL standard error
#: ≈ 1.04/√64 ≈ 13 %; the register index rides the hash's low 6 bits
_HB_M = 64

#: α_64 = 0.7213 / (1 + 1.079/64) — the HLL bias constant for m=64
_HB_ALPHA = 0.7213 / (1 + 1.079 / 64)


def _hb_singletons(nodes: DataFrame) -> DataFrame:
    """Each node's singleton HLL sketch in SPARSE LONG FORM
    (node, j, v): xxhash64(node) → register j = low 6 bits, v = rho
    of the remaining 58 bits (position of the least-significant set
    bit — computed as log2(w & −w) + 1, EXACT because w & −w is a
    power of two and powers of two are exact doubles; w = 0 caps at
    59). Zero registers are implicit (the estimate reconstructs them
    arithmetically) — a node's sketch is ONE row, not m."""
    h = F.xxhash64(F.col("node"))
    j = F.pmod(h, F.lit(_HB_M)).cast("int")
    w = F.shiftrightunsigned(h, 6)
    rho = (
        F.when(w == 0, F.lit(59))
        .otherwise(F.log2(w.bitwiseAND(-w)) + F.lit(1))
        .cast("int")
    )
    return nodes.select("node", j.alias("j"), rho.alias("v"))


def _hb_estimate(sketches: DataFrame, hop: int) -> DataFrame:
    """HLL estimate from sparse long-form sketches: per node,
    sum = Σ_present 2^−v + (m − n_present) (absent registers are
    zeros contributing 2⁰ = 1 each), raw = α·m²/sum, with the
    standard small-range (linear-counting) correction when
    raw ≤ 2.5 m and zero registers remain."""
    agg = sketches.groupBy("node").agg(
        F.count(F.lit(1)).alias("_np"),
        F.sum(F.pow(F.lit(2.0), -F.col("v"))).alias("_s"),
    )
    zeros = F.lit(_HB_M) - F.col("_np")
    total = F.col("_s") + zeros.cast("double")
    raw = F.lit(_HB_ALPHA * _HB_M * _HB_M) / total
    est = F.when(
        (raw <= 2.5 * _HB_M) & (zeros > 0),
        F.lit(float(_HB_M)) * F.log(F.lit(float(_HB_M)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.col("node").cast("long").alias("part"),
        F.lit(hop).cast("long").alias("hop"),
        F.round(est, 9).alias("est_reach"),
    )


def hyperball_counts(edges: DataFrame, hops: int) -> DataFrame:
    """HyperBall (Boldi–Vigna, WSDM 2011 / SoCC 2014 lineage): the
    PRODUCTION neighborhood function — each node carries an m=64
    register HLL sketch of its reach set; one round merges every
    node's sketch with its neighbors' (elementwise register max) so
    after t rounds node v's sketch summarizes {u : dist(v,u) ≤ t};
    the per-hop estimate is the standard HLL formula with the
    small-range correction. Everything is built-in column algebra on
    the SPARSE long form (node, register, value): the merge round is
    one edge join + one (node, register) MAX aggregate — map-side
    combinable, O(n·m) rows per round bounded by min(m, |ball|)
    registers per node, rounds = hops. No UDF, no driver data, no
    quadratic reach relation — this is the form that runs at 100×,
    where :func:`reach_counts` (the exact, oracle-checkable form) is
    inherently O(n²). DETERMINISTIC: register placement rides
    xxhash64, so both runs and both sides of a tolerance pin agree
    bit-for-bit. The hops run through :func:`fixpoint` in fixed mode;
    each round's input feeds its hop's estimate.

    Returns (part, hop, est_reach) for hop 0..hops — est_reach
    DOUBLE (a sketch estimate; median relative error vs the exact
    form ≈ the 13 % HLL bound, pinned in tests/test_r17.py)."""
    if hops < 1:
        raise ValueError(f"hyperball_counts: hops must be >= 1 (got {hops})")
    sym = cut_lineage(symmetrize(edges, "u", "nbr"))
    nodes = sym.select(F.col("u").alias("node")).distinct()
    push = sym.select(F.col("u").alias("node"), F.col("nbr").alias("_to"))
    out: list[DataFrame] = []

    def step(sk: DataFrame) -> DataFrame:
        out.append(_hb_estimate(sk, len(out)))  # the round's input hop
        merged = sk.unionAll(
            sk.join(push, "node").select(
                F.col("_to").alias("node"), "j", "v"
            )
        )
        return merged.groupBy("node", "j").agg(F.max("v").alias("v"))

    sk = fixpoint(
        "hyperball_counts", cut_lineage(_hb_singletons(nodes)), step, rounds=hops
    )
    out.append(_hb_estimate(sk, hops))
    return reduce(DataFrame.unionAll, out)


def community_labels(edges: DataFrame, rounds: int) -> DataFrame:
    """Community detection via SYNCHRONOUS LABEL PROPAGATION with a
    self-vote — the fifth classic distributed graph computation in the
    family (CC label propagation, PageRank, oriented triangles,
    k-core peeling, and LPA communities: "which items form a
    cross-sold cluster" is the modularity-free community question
    production recommenders actually ask).

    Each round (:func:`lpa_round`), every node adopts the label with
    the MOST votes among {its neighbors' current labels} ∪ {its own
    current label}, ties broken toward the SMALLEST label — fully
    deterministic, so a fixed ``rounds`` is mirrored exactly by the
    SQL oracle. The self-vote is load-bearing: plain synchronous LPA
    two-cycles on sparse/bipartite regions (measured on the sf0.01
    co-purchase graph: still >1400 flips/round after 15 rounds), while
    the self-inclusive vote converges in ≤7 rounds on every test SF.

    Fixed-round entry: exactly ``rounds`` rounds;
    :func:`community_labels_converged` is the converged entry, and
    both run through :func:`fixpoint`. Per round: one graph-sized
    equi-join (labels onto the symmetrized edge list), one
    (node, label) vote count with map-side partials, one
    node-partitioned top-1 window — all graph-sized, nothing
    collected. Returns (part, community); community ids are the
    propagated node ids (the min-tie-break makes each community's
    label a stable member id, typically its smallest)."""
    if rounds < 1:
        raise ValueError(
            f"community_labels: rounds must be >= 1 (got {rounds})"
        )
    return _communities(edges, rounds=rounds)


def community_labels_converged(
    edges: DataFrame, max_rounds: int = 64
) -> DataFrame:
    """Converged entry of :func:`community_labels`: rounds until no
    label flips. Labels are not monotone, so each round joins its
    input label on as ``prev`` inside the same cut (LPA's top-1 window
    cannot carry it through) and the probe is
    :func:`labels_unchanged`. The self-vote made every observed graph
    converge, but no theorem guarantees it on adversarial inputs, so
    the loop fails loud after ``max_rounds`` rather than returning an
    oscillating state."""
    return _communities(edges, max_rounds=max_rounds)


def _communities(
    edges: DataFrame, rounds: int | None = None, max_rounds: int = 64
) -> DataFrame:
    sym = cut_lineage(symmetrize(edges))

    def step(labels: DataFrame) -> DataFrame:
        new = lpa_round(sym, labels.select("node", "label"))
        if rounds is None:
            new = new.join(
                labels.select("node", F.col("label").alias("prev")), "node"
            )
        return new

    labels = fixpoint(
        "community_labels_converged",
        sym.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        ),
        step,
        rounds,
        max_rounds,
        labels_unchanged,
        "labels still flipping",
    )
    return labels.select(
        F.col("node").cast("long").alias("part"),
        F.col("label").cast("long").alias("community"),
    )


def lpa_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous self-vote LPA round: neighbor votes + the self
    vote, (node, label) count, deterministic top-1 (max count, then
    min label). Exposed separately so the per-round PLAN can be
    pinned directly — the query-level plan is a post-checkpoint scan,
    which pins nothing (review r14b). ``sym`` = directed symmetrized
    edges (src, dst); ``labels`` = (node, label)."""
    from pyspark.sql import Window

    top1 = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    votes = sym.join(
        labels.select(F.col("node").alias("src"), "label"), "src"
    ).select(F.col("dst").alias("node"), "label").unionAll(labels)
    return (
        votes.groupBy("node", "label")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rk", F.row_number().over(top1))
        .filter(F.col("rk") == 1)
        .select("node", "label")
    )


def component_round(
    sym: DataFrame, labels: DataFrame, parts: int | None = None
) -> DataFrame:
    """One min-label round, the step of every connected-components
    kernel (:func:`component_labels*`, :func:`components_refresh`'s
    mini-CC, operators/dedup.py ``connected_canonical*``): every node
    takes the minimum over its own label and its neighbors' labels —
    one join plus one aggregate over a union. The round's input label
    rides the same aggregate: own rows carry ``prev = label``,
    neighbor rows carry null, and ``max(prev)`` recovers it, so the
    converged probe (:func:`labels_unchanged`) is a scan of the round
    output. ``sym`` = directed symmetrized edges (src, dst) whose
    every dst is a labelled node; ``labels`` = (node, label [, prev]);
    returns (node, label, prev). ``parts`` repartitions the union to
    that many partitions on node, which sets the aggregate's stage
    width without touching the session conf."""
    nbr = sym.join(
        labels.select(F.col("node").alias("src"), "label"), "src"
    ).select(F.col("dst").alias("node"), "label")
    votes = labels.select(
        "node", "label", F.col("label").alias("prev")
    ).unionByName(nbr, allowMissingColumns=True)
    if parts is not None:
        votes = votes.repartition(parts, "node")
    return votes.groupBy("node").agg(
        F.min("label").alias("label"), F.max("prev").alias("prev")
    )


def min_label_components(
    sym: DataFrame,
    nodes: DataFrame | None = None,
    rounds: int | None = None,
    max_rounds: int = 64,
    parts: int | None = None,
    name: str = "component_labels_converged",
) -> DataFrame:
    """Min-label connected components over :func:`fixpoint` with
    :func:`component_round` — the body shared by the graph and dedup
    CC entries. ``sym`` = directed (src, dst) edges, cut here once
    (after a ``parts``-wide repartition on src when ``parts`` is
    given); ``nodes`` = (node) to label, default every src of
    ``sym``. Returns (node, label), label = the minimum node id
    reachable within ``rounds`` hops, or the component minimum in
    converged mode (labels are monotone non-increasing, so the
    fixpoint is the exact component labeling)."""
    if parts is not None:
        sym = sym.repartition(parts, "src")
    sym = cut_lineage(sym)
    if nodes is None:
        nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = fixpoint(
        name,
        nodes.select("node", F.col("node").alias("label")),
        lambda lab: component_round(sym, lab, parts),
        rounds,
        max_rounds,
        labels_unchanged,
        "labels still shrinking",
    )
    return labels.select("node", "label")


def component_labels(edges: DataFrame, iters: int) -> DataFrame:
    """CONNECTED COMPONENTS of the undirected graph via min-label
    propagation (:func:`min_label_components`), fixed-round entry:
    exactly ``iters`` rounds, mirrored by the SQL oracle. Co-purchase
    components are deep — a label must travel the component's
    min-node eccentricity, measured 4/11/8 rounds at sf0.001/0.01/0.1
    — so production callers use :func:`component_labels_converged`.
    Returns (part, component), component = the component's minimum
    node id (stable, interpretable)."""
    if iters < 1:
        raise ValueError(f"component_labels: iters must be >= 1 (got {iters})")
    return _components(edges, rounds=iters)


def component_labels_converged(
    edges: DataFrame, max_iters: int = 64, parts: int | None = None
) -> DataFrame:
    """Converged entry of :func:`component_labels`: rounds until no
    label changes. Component depth grows with graph diameter, so a
    fixed unroll under-labels at 100×; ``max_iters`` fails loud rather
    than shipping split components.

    ``parts``: stage width for a caller that knows the graph is small —
    :func:`components_refresh` passes :func:`batch_width` of its
    batch-sized contracted graph. Output is identical; only the
    partition count of the edge relation and of each round's
    aggregate changes."""
    return _components(edges, max_rounds=max_iters, parts=parts)


def _components(
    edges: DataFrame,
    rounds: int | None = None,
    max_rounds: int = 64,
    parts: int | None = None,
) -> DataFrame:
    labels = min_label_components(
        symmetrize(edges), rounds=rounds, max_rounds=max_rounds, parts=parts
    )
    return labels.select(
        F.col("node").cast("long").alias("part"),
        F.col("label").cast("long").alias("component"),
    )


def components_refresh(
    labels: DataFrame, new_edges: DataFrame, max_iters: int = 64
) -> DataFrame:
    """Incremental CONNECTED-COMPONENTS maintenance by component
    CONTRACTION — the dedup cc_refresh pattern (queries_r10) applied
    to the co-purchase graph: a full recompute pays the graph's
    propagation depth (14 rounds at test SFs) per refresh even when
    the batch touches almost nothing; this form's cost follows the
    BATCH, not the graph diameter.

    ``labels`` = a transitively-closed (part, component) labeling of
    the BASE edge set, component = min member id (what
    :func:`component_labels_converged` returns / the persisted
    ``{table}_comp`` sidecar holds). ``new_edges`` = (part_a, part_b)
    edges ADDED since — for the support-cut co-purchase graph that is
    fold(base ∪ batch partials) ≥ cut MINUS the base edge set: counts
    only grow under whole-order ingest, so the base edges are a
    SUBSET of the refreshed graph and edge ADDITION is the only delta
    (the non-monotone case — edge removal — stays rebuild-on-schedule,
    module docstring).

    1. each new edge's endpoints CONTRACT to their base canonical
       (left join against labels; unmatched endpoints are new nodes,
       canonical = self) — base-internal structure is already
       transitive and adds nothing;
    2. min-label propagation to FIXPOINT over that contracted graph
       (batch-sized by construction: |batch edges| + |touched
       components| nodes), which is exact because canonical ids are
       base-component MINIMA — the contracted component's min IS the
       merged component's global min;
    3. base labels re-map through the touched-canonical relabeling
       (left join + coalesce: untouched components pass through), new
       nodes take their contracted label.

    The batch-sized half (the contraction's distinct and the mini-CC)
    runs at :func:`batch_width` of the delta, set by explicit
    repartitions; the corpus-sized joins keep full width. Value-parity
    with the full recompute over base ∪ delta is pinned in
    tests/test_r16.py (planted bridge + random graphs) and the live
    form is B65 ``copurchase_components_refresh``."""
    # the delta relation feeds THREE consumers (the contraction join,
    # the new-node anti-join, and the fresh-label join) — without an
    # eager cut its upstream chain (in the probe: batch pair gen +
    # semi-restricted fold + anti-join) re-executes per consumer,
    # measured ~3× the probe's data cost at sf1; the relation is
    # batch-sized, so the materialization is cheap by construction.
    # The contracted relation is never larger than the delta (each
    # delta edge contracts to at most one edge), so one width sizes
    # both.
    new_edges = cut_lineage(new_edges.select("part_a", "part_b"))
    mini_parts = batch_width(new_edges)
    new_edges = new_edges.coalesce(mini_parts)
    lab_a = labels.select(
        F.col("part").alias("part_a"), F.col("component").alias("_ca")
    )
    lab_b = labels.select(
        F.col("part").alias("part_b"), F.col("component").alias("_cb")
    )
    canon = (
        new_edges.select("part_a", "part_b")
        .join(lab_a, "part_a", "left")
        .join(lab_b, "part_b", "left")
        .select(
            F.coalesce(F.col("_ca"), F.col("part_a")).alias("ca"),
            F.coalesce(F.col("_cb"), F.col("part_b")).alias("cb"),
        )
    )
    contracted = cut_lineage(
        canon.filter(F.col("ca") != F.col("cb"))
        .select(
            F.least("ca", "cb").alias("part_a"),
            F.greatest("ca", "cb").alias("part_b"),
        )
        .repartition(mini_parts, "part_a", "part_b")
        .distinct()
    )
    # (canonical -> merged label) for TOUCHED components only
    remap = component_labels_converged(
        contracted, max_iters, parts=mini_parts
    ).select(
        F.col("part").alias("_c"), F.col("component").alias("_new")
    )
    upd = labels.join(
        remap, labels["component"] == remap["_c"], "left"
    ).select(
        F.col("part").cast("long").alias("part"),
        F.coalesce(F.col("_new"), F.col("component"))
        .cast("long")
        .alias("component"),
    )
    new_nodes = (
        new_edges.select(F.col("part_a").alias("part"))
        .unionByName(new_edges.select(F.col("part_b").alias("part")))
        .distinct()
        .join(labels.select("part"), "part", "left_anti")
    )
    fresh = new_nodes.join(
        remap, new_nodes["part"] == remap["_c"], "left"
    ).select(
        F.col("part").cast("long").alias("part"),
        F.coalesce(F.col("_new"), F.col("part")).cast("long").alias("component"),
    )
    return upd.unionByName(fresh)


def clustering_coefficients(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Per-node LOCAL CLUSTERING COEFFICIENT — the per-node density
    measure triangle counting exists to feed: c(v) = 2·T(v) /
    (deg(v)·(deg(v)−1)) for deg ≥ 2, defined 0.0 below (the standard
    convention). Reuses the ORIENTED triangle kernel verbatim (same
    O(√E) wedge bound — see :func:`triangle_counts`) plus one
    graph-sized LEFT join from the degree relation, so triangle-free
    nodes appear with coefficient 0.0 instead of silently dropping.
    ``edges`` = (part_a, part_b [, ...]) with part_a < part_b; ``deg``
    = (pk, deg). Returns (part, deg, n_triangles, clustering) with the
    coefficient rounded to 9 dp (the cross-engine float convention)."""
    tri = triangle_counts(edges, deg.select("pk", "deg"))
    d = F.col("deg").cast("double")
    nt = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    return (
        deg.select("pk", "deg")
        .join(
            tri.select(F.col("part").alias("pk"), "n_triangles"), "pk", "left"
        )
        .select(
            F.col("pk").cast("long").alias("part"),
            F.col("deg").cast("long").alias("deg"),
            nt.alias("n_triangles"),
            r9(
                F.when(
                    F.col("deg") >= 2,
                    F.lit(2.0) * nt.cast("double") / (d * (d - F.lit(1.0))),
                ).otherwise(F.lit(0.0))
            ).alias("clustering"),
        )
    )


def link_predictions(
    edges: DataFrame, deg: DataFrame, max_deg: int, topk: int
) -> DataFrame:
    """ADAMIC-ADAR link prediction over the co-purchase graph — the
    classic "may also buy" precompute: for every NON-adjacent pair at
    distance 2, score = Σ over common neighbors v of 1/ln(deg(v)),
    keep each node's top-k candidates. High-degree common neighbors
    are discounted (everything is 2 hops from a hub — uninformative),
    which is exactly why the kernel can also CAP them: wedge
    enumeration at a center v is C(deg(v), 2), quadratic in the hub's
    degree, so centers with deg > ``max_deg`` are excluded up front —
    the hot-bucket cap convention (operators/dedup.py
    lsh_candidate_pairs max_bucket): their per-wedge contribution
    1/ln(deg) is the smallest in the graph by construction, and the
    cap is what bounds the wedge join at 100 TB on power-law graphs
    (no test-SF co-purchase graph has a node past 64 — the cap is
    pinned by a planted hub instead, tests/test_r14b.py). The oracle
    mirrors the cap, so engine and oracle score the identical wedge
    set.

    Plan: one degree-filtered center join, one wedge self-join
    (fan-out ≤ C(max_deg, 2) per center), one (u, w) score aggregate
    with map-side partials, one LEFT ANTI against the existing edge
    relation (u < w aligns with part_a < part_b), one symmetrize +
    node-partitioned top-k window. Scores are rounded to 9 dp BEFORE
    ranking and ties break on candidate id (the B57 convention), so
    the rank order is bit-stable across engines. Returns
    (part, cand, n_common, aa_score, rank ≤ topk)."""
    from pyspark.sql import Window

    sym = symmetrize(edges)
    centers = deg.filter(
        (F.col("deg") >= 2) & (F.col("deg") <= max_deg)
    ).select(F.col("pk").alias("src"), F.col("deg").alias("deg_src"))
    adj = sym.join(centers, "src")
    a1 = adj.select("src", F.col("dst").alias("u"), "deg_src")
    a2 = adj.select("src", F.col("dst").alias("w"))
    wedges = a1.join(a2, "src").filter(F.col("u") < F.col("w"))
    scores = wedges.groupBy("u", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        r9(F.sum(F.lit(1.0) / F.log(F.col("deg_src").cast("double")))).alias(
            "aa_score"
        ),
    )
    pred = scores.join(
        edges.select(F.col("part_a").alias("u"), F.col("part_b").alias("w")),
        ["u", "w"],
        "left_anti",
    )
    symp = symmetrize(pred, "part", "cand", "n_common", "aa_score", a="u", b="w")
    rank_w = Window.partitionBy("part").orderBy(
        F.desc("aa_score"), F.asc("cand")
    )
    return (
        symp.withColumn("rank", F.row_number().over(rank_w).cast("int"))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("part").cast("long").alias("part"),
            F.col("cand").cast("long").alias("cand"),
            "n_common",
            "aa_score",
            "rank",
        )
    )


def topk_similar(edges: DataFrame, sup: DataFrame, topk: int) -> DataFrame:
    """Item-item top-k basket-Jaccard similarity — the B57 kernel (the
    recommender "customers who bought X also bought Y" precompute),
    SHARED between the live query (queries_r14.copurchase_topk_similar)
    and the standing-index probe :func:`topk_similar_from_index` so
    live/probe parity is structural. For a support-cut pair,
    J(a,b) = pair_cnt / (sup_a + sup_b − pair_cnt); candidates ARE the
    support-cut edges (sub-support pairs sit definitionally below any
    useful similarity floor — never all-pairs work). One symmetrize +
    two per-node joins (no broadcast hints: ``sup`` is SF-scaling, the
    bounded-dims-only convention; AQE decides) + one node-partitioned
    top-k window. Jaccard rounds to 9 dp BEFORE ranking and ties break
    on neighbor id, so the rank order is bit-stable across engines.
    ``edges`` = (part_a, part_b, pair_cnt) with part_a < part_b;
    ``sup`` = (pk, sup) per-part basket support (#baskets containing
    the part — NOT derivable from degrees, which is why the edge index
    persists it as its own sidecar column). Returns
    (part, neighbor, jaccard, rank ≤ topk)."""
    from pyspark.sql import Window

    sym = symmetrize(edges, "part", "neighbor", "pair_cnt")
    j = (
        sym.join(
            sup.select(F.col("pk").alias("part"), F.col("sup").alias("sup_a")),
            "part",
        )
        .join(
            sup.select(
                F.col("pk").alias("neighbor"), F.col("sup").alias("sup_b")
            ),
            "neighbor",
        )
        .select(
            "part",
            "neighbor",
            r9(
                F.col("pair_cnt")
                / (F.col("sup_a") + F.col("sup_b") - F.col("pair_cnt"))
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("part").orderBy(F.desc("jaccard"), F.asc("neighbor"))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("part").cast("long").alias("part"),
            F.col("neighbor").cast("long").alias("neighbor"),
            "jaccard",
            "rank",
        )
    )


def write_edge_index(
    pairs: DataFrame,
    table: str,
    num_buckets: int = 32,
    sup: DataFrame | None = None,
) -> None:
    """Persist the support-cut co-purchase graph as the standing edge
    index: the ONE lineitem-proportional pass (upstream of ``pairs``)
    happens here; every subsequent graph computation probes at
    graph-proportional cost. ``pairs`` = the (part_a, part_b,
    pair_cnt) support-cut relation (part_a < part_b), e.g.
    ``_basket_pair_counts(spark, sf_dir)[1]``. Rebuild-on-schedule is
    the refresh model (see module docstring: the support cut makes
    incremental edge maintenance a merge, not an append).

    ``sup`` = optional (pk, sup) per-part basket SUPPORT (#baskets
    containing the part). Degrees and weighted degrees are derivable
    from the edge relation; support is NOT (it counts baskets, not
    surviving pairs), and it is exactly what the item-item Jaccard
    needs — without it the B57 probe would have to re-scan lineitem
    (VERDICT r14 item 2). When given, it rides ``{table}_deg`` as a
    fourth column appended after (pk, deg, wdeg) (left join: every
    edge endpoint has support ≥ the
    cut by construction, but nodes are kept even if the caller's sup
    relation is narrower, surfacing the gap as NULLs rather than
    dropped nodes — and :func:`topk_similar_from_index` refuses to
    rank over NULLs). When omitted the column is absent and the
    similarity probe fails loud."""
    spark = pairs.sparkSession
    for t in (table, f"{table}_deg"):
        ensure_table_absent(spark, t)
    pairs = pairs.select("part_a", "part_b", "pair_cnt").persist()
    try:
        write_bucketed(
            pairs,
            table,
            bucket_cols=["part_a"],
            num_buckets=num_buckets,
            sort_cols=["part_a", "part_b"],
            mode="overwrite",
        )
        deg = node_degrees(pairs)
        if sup is not None:
            deg = deg.join(
                sup.select("pk", F.col("sup").cast("long").alias("sup")),
                "pk",
                "left",
            )
        write_bucketed(
            deg,
            f"{table}_deg",
            bucket_cols=["pk"],
            num_buckets=num_buckets,
            sort_cols=["pk"],
            mode="overwrite",
        )
    finally:
        pairs.unpersist()


def triangles_from_index(spark: SparkSession, table: str) -> DataFrame:
    """B55 from the standing index: same kernel, zero lineitem bytes —
    edges and the orientation's degree relation both come from the
    persisted graph-sized tables."""
    return triangle_counts(
        spark.table(table), spark.table(f"{table}_deg").select("pk", "deg")
    )


def pagerank_from_index(
    spark: SparkSession, table: str, damp: float, iters: int
) -> DataFrame:
    """B44 from the standing index: same kernel, zero lineitem bytes —
    the symmetrization and w/wdeg normalization read only the
    persisted edge + degree tables."""
    return pagerank_scores(
        spark.table(table),
        spark.table(f"{table}_deg").select("pk", "wdeg"),
        damp,
        iters,
    )


def kcore_from_index(
    spark: SparkSession, table: str, k: int, peels: int
) -> DataFrame:
    """B56 from the standing index: same peeling kernel, zero lineitem
    bytes — only the persisted edge table is read."""
    return kcore_members(spark.table(table), k, peels)


def ktruss_from_index(
    spark: SparkSession, table: str, k: int, peels: int
) -> DataFrame:
    """B66 from the standing index: same edge-peeling kernel, zero
    lineitem bytes — only the persisted edge table is read (degrees
    are recomputed per round from the THINNING survivor set, so the
    persisted degree sidecar is deliberately not used). OPTIMIZATION
    r16: iterates to fixpoint like the live B66 (``peels`` bounds the
    loop as max_peels — post-convergence rounds are provable no-ops,
    so the output is unchanged while the measured depth-1 graphs stop
    after two rounds instead of four)."""
    return ktruss_edges_converged(spark.table(table), k, max_peels=max(peels, 8))


def hyperball_from_index(
    spark: SparkSession, table: str, hops: int
) -> DataFrame:
    """B68b from the standing index: same sketch-propagation kernel,
    zero lineitem bytes — only the persisted edge table is read (the
    singleton sketches are derived from node ids, not degrees)."""
    return hyperball_counts(spark.table(table), hops)


def communities_from_index(
    spark: SparkSession, table: str, rounds: int
) -> DataFrame:
    """B58 from the standing index: same LPA kernel, zero lineitem
    bytes — only the persisted edge table is read."""
    return community_labels(spark.table(table), rounds)


def clustering_from_index(spark: SparkSession, table: str) -> DataFrame:
    """B59 from the standing index: same oriented-triangle kernel plus
    the persisted degree relation — zero lineitem bytes, and no degree
    re-aggregation either."""
    return clustering_coefficients(
        spark.table(table), spark.table(f"{table}_deg").select("pk", "deg")
    )


def linkpred_from_index(
    spark: SparkSession, table: str, max_deg: int, topk: int
) -> DataFrame:
    """B60 from the standing index: same Adamic-Adar kernel — the
    persisted degree relation feeds both the hub cap and the 1/ln(deg)
    discount, zero lineitem bytes."""
    return link_predictions(
        spark.table(table),
        spark.table(f"{table}_deg").select("pk", "deg"),
        max_deg,
        topk,
    )


def embeddedness_from_index(spark: SparkSession, table: str) -> DataFrame:
    """B64 from the standing index: same edge-credit kernel over the
    persisted edges + degree relation — zero lineitem bytes."""
    return edge_embeddedness(
        spark.table(table), spark.table(f"{table}_deg").select("pk", "deg")
    )


def components_from_index(
    spark: SparkSession, table: str, iters: int
) -> DataFrame:
    """Connected components from the standing index: same min-label
    kernel, zero lineitem bytes — only the persisted edge table is
    read. NOTE this form still pays the full propagation depth per
    probe (it buys scan-avoidance, not iteration-avoidance — VERDICT
    r15); the per-batch production path is the persisted-labels
    :func:`components_refresh_from_index`."""
    return component_labels(spark.table(table), iters)


def write_component_labels(
    labels: DataFrame, table: str, num_buckets: int = 32
) -> None:
    """Persist a transitively-closed component labeling — (part,
    component), component = min member id — as the standing
    ``{edge_table}_comp`` sidecar, bucketed (and sorted) on part. The
    once-per-rebuild half of the incremental-components story: with
    labels standing, a batch refresh (:func:`components_refresh`)
    costs the BATCH's contraction + mini-CC, never the full graph's
    propagation depth. Rebuild together with the edge index (the
    labels are a pure function of the edge set)."""
    spark = labels.sparkSession
    ensure_table_absent(spark, table)
    write_bucketed(
        labels.select("part", "component"),
        table,
        bucket_cols=["part"],
        num_buckets=num_buckets,
        sort_cols=["part"],
        mode="overwrite",
    )


def components_refresh_from_index(
    spark: SparkSession,
    table: str,
    new_edges: DataFrame,
    max_iters: int = 64,
) -> DataFrame:
    """The per-batch production form of B62: refresh the persisted
    component labels (``write_component_labels``) with a batch's new
    edges by contraction — cost follows the batch (contracted graph =
    |batch edges| + touched canonicals), zero lineitem bytes, zero
    full-depth propagation. Timed as ``index_probe_components`` in
    bench.py; value-parity with the full recompute pinned in
    tests/test_r16.py."""
    return components_refresh(spark.table(table), new_edges, max_iters)


def components_refresh_probe(
    spark: SparkSession,
    partials_table: str,
    base_edges_table: str,
    labels_table: str,
    batch_items: DataFrame,
    min_sup: int,
    max_iters: int = 64,
) -> DataFrame:
    """The full per-batch components ADMISSION from standing tables —
    fold, delta, contraction in one batch-bounded plan. The fold is
    SEMI-JOIN-RESTRICTED to the batch's own pairs BEFORE aggregating
    (the probe_novelty_index shape applied to pair counts): a pair the
    batch did not touch has an unchanged count, so it is ≥ the support
    cut iff it is already in the base edge set — only batch-touched
    pairs can newly cross. The restricted fold therefore reconstructs
    the full folded cut set as base_edges ∪ (touched fold ≥ cut)
    EXACTLY (pinned in tests/test_r16.py), at cost ∝ batch pairs ×
    matched partial generations (bucket-aligned semi-join), never the
    whole raw pair relation — the unrestricted fold made the r16
    first-cut probe read slower than the live recompute at sf0.1.
    ``batch_items`` = the batch's (l_orderkey, l_partkey) rows (whole
    orders — the partials-family additivity contract); its pair set is
    recomputed batch-locally (batch-input-proportional, the
    cc_probe_from_index convention of simhashing the batch)."""
    bp = pairs_from_baskets(baskets_from_items(batch_items)).select(
        "part_a", "part_b"
    )
    touched = (
        spark.table(partials_table)
        .join(bp, ["part_a", "part_b"], "left_semi")
        .groupBy("part_a", "part_b")
        .agg(F.sum("pair_cnt").cast("long").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= min_sup)
        .select("part_a", "part_b")
    )
    delta = touched.join(
        spark.table(base_edges_table), ["part_a", "part_b"], "left_anti"
    )
    return components_refresh(spark.table(labels_table), delta, max_iters)


def topk_similar_from_index(
    spark: SparkSession, table: str, topk: int
) -> DataFrame:
    """B57 from the standing index: same basket-Jaccard kernel — the
    persisted support column feeds both endpoint supports, zero
    lineitem bytes. The most rerun-at-batch query of the family (the
    recommender precompute) was the ONE kernel still paying the
    lineitem scan per run before the index grew the ``sup`` sidecar
    column (VERDICT r14 item 2). Fails loud if the index was written
    without ``sup=`` — a probe that silently fell back to a lineitem
    scan would defeat the index's whole cost model. Note the NULL-sup
    guard below runs one eager bounded job (a limit-5 scan of the
    graph-sized ``_deg`` table) per probe construction — a validation
    cost the other ``*_from_index`` probes don't pay (ADVICE r15)."""
    deg = spark.table(f"{table}_deg")
    if "sup" not in deg.columns:
        raise ValueError(
            f"topk_similar_from_index: {table}_deg has no 'sup' column — "
            "rebuild the index with write_edge_index(..., sup=<(pk, sup) "
            "basket-support relation>); basket support is not derivable "
            "from degrees"
        )
    # a NARROWER-than-edges sup relation surfaces as NULLs in the
    # sidecar (write_edge_index's left join keeps the node rather than
    # dropping it) — those would flow through the Jaccard as NULL and
    # rank as top-k rows; fail loud instead (review r15 — the
    # validate_edge_batch bounded-guard convention)
    bad = deg.filter(F.col("sup").isNull()).limit(5).collect()
    if bad:
        ids = sorted(int(r["pk"]) for r in bad)
        raise ValueError(
            f"topk_similar_from_index: {table}_deg has NULL sup for some "
            f"nodes (sample: {ids}) — the sup relation passed to "
            "write_edge_index did not cover every edge endpoint; rebuild "
            "with the full basket-support relation"
        )
    return topk_similar(spark.table(table), deg.select("pk", "sup"), topk)


# --- append-only ingest form: pair-count PARTIALS ----------------------------
#
# write_edge_index freezes the support-cut graph (rebuild-on-schedule),
# but the co-purchase pair counts are ADDITIVE as long as the ingest
# unit is WHOLE ORDERS: an order's distinct-item pairs are computed
# entirely within its own batch, so pair_cnt(A ∪ B) = pair_cnt(A) +
# pair_cnt(B) exactly — the same property that makes BM25's df/stats
# partials sound (operators/lexical.py). These tables keep the
# retrieval convention: appends write new files only, the SUPPORT CUT
# moves to fold time (a sub-cut pair that later crosses the threshold
# is a legitimate new edge — the non-monotonicity that forces
# write_edge_index to rebuild is exactly what folding partials absorbs).
# Probe cost ∝ the pair relation (already past the lineitem scan, the
# basket aggregate and the explode — the expensive corpus-sized work),
# never ∝ raw lineitem. Caller contract: each batch = whole orders,
# never a re-appended or split order; ``check_orders=True`` (or
# validate_edge_batch) enforces it against the orders sidecar.


def baskets_from_items(
    order_items: DataFrame,
    id_cols: tuple[str, str] = ("l_orderkey", "l_partkey"),
) -> DataFrame:
    """Per-order distinct item sets — the shared basket aggregate
    feeding pair generation everywhere (the live B43 chain, the
    partials ingest below, the streaming kcore batches): one orderkey
    shuffle, collect_set dedups in-agg."""
    ok, pk = id_cols
    return (
        order_items.select(
            F.col(ok).alias("l_orderkey"), F.col(pk).alias("l_partkey")
        )
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )


def _write_partials_increment(
    order_items: DataFrame,
    table: str,
    num_buckets: int,
    mode: str,
    id_cols: tuple[str, str],
) -> None:
    baskets = baskets_from_items(order_items, id_cols).persist()
    try:
        # WRITE ORDER MATTERS (review r14): the orders SIDECAR commits
        # FIRST. The two writes are not atomic; if the pairs write
        # committed first and the process died before the sidecar, a
        # retry with check_orders=True would pass validation and
        # silently double-count the batch — the exact corruption the
        # sidecar exists to prevent. Sidecar-first inverts the torn
        # state into the FAIL-LOUD direction: a retry either trips the
        # guard (orders present, pairs torn — operator repairs) or,
        # without the guard, re-appends pairs once and merely leaves
        # harmless duplicate sidecar rows (the semi-join guard is
        # insensitive to duplicates).
        write_bucketed(
            baskets.select("l_orderkey"),
            f"{table}_orders",
            bucket_cols=["l_orderkey"],
            num_buckets=num_buckets,
            sort_cols=["l_orderkey"],
            mode=mode,
        )
        write_bucketed(
            pairs_from_baskets(baskets),
            table,
            bucket_cols=["part_a"],
            num_buckets=num_buckets,
            sort_cols=["part_a", "part_b"],
            mode=mode,
        )
    finally:
        baskets.unpersist()


def write_edge_partials(
    order_items: DataFrame,
    table: str,
    num_buckets: int = 32,
    id_cols: tuple[str, str] = ("l_orderkey", "l_partkey"),
) -> None:
    """Build the append-only ingest form from scratch: ``order_items``
    = (l_orderkey, l_partkey) rows covering WHOLE orders. Persists
    ``{table}`` — RAW (un-cut) pair-count partials, bucketed+sorted on
    part_a — and ``{table}_orders`` — the indexed order keys, the
    identity sidecar the append guard probes."""
    spark = order_items.sparkSession
    for t in (table, f"{table}_orders"):
        ensure_table_absent(spark, t)
    _write_partials_increment(order_items, table, num_buckets, "overwrite", id_cols)


def validate_edge_batch(
    order_items: DataFrame,
    table: str,
    id_cols: tuple[str, str] = ("l_orderkey", "l_partkey"),
) -> None:
    """Raise if any of the batch's orders is already indexed — a
    re-appended order double-counts every one of its pairs, and the
    partial-count layout makes that invisible until fold results
    drift (the BM25 validate twin, ADVICE r13 convention)."""
    spark = order_items.sparkSession
    batch_ids = order_items.select(
        F.col(id_cols[0]).alias("l_orderkey")
    ).distinct()
    dup = (
        spark.table(f"{table}_orders")
        .join(F.broadcast(batch_ids), "l_orderkey", "left_semi")
        .limit(5)
        .collect()
    )
    if dup:
        ids = sorted(int(r["l_orderkey"]) for r in dup)
        raise ValueError(
            f"append_to_edge_partials: batch re-appends already-indexed "
            f"orders (sample: {ids}) — this would double-count their "
            f"pairs in {table!r}; batches must be NEW whole orders"
        )


def append_to_edge_partials(
    order_items: DataFrame,
    table: str,
    num_buckets: int = 32,
    check_orders: bool = False,
    id_cols: tuple[str, str] = ("l_orderkey", "l_partkey"),
) -> None:
    """Incremental ingest: one basket+pair pass over the BATCH,
    appended as new files (nothing rewritten — pinned). Additivity
    holds because pair generation never crosses order boundaries, so
    build(A) + append(B) folds identically to build(A ∪ B) (pinned in
    tests/test_scale_patterns.py). Caller contract: whole NEW orders
    only; ``check_orders=True`` enforces it via the orders sidecar."""
    if check_orders:
        validate_edge_batch(order_items, table, id_cols=id_cols)
    _write_partials_increment(order_items, table, num_buckets, "append", id_cols)


def edges_from_partials(
    spark: SparkSession, table: str, min_sup: int
) -> DataFrame:
    """Fold the pair-count partials into the CURRENT support-cut edge
    relation: one aggregate over the bucketed pair table + the cut —
    SHUFFLE-FREE, because bucketing on part_a already clusters
    (part_a, part_b), so the sum rides the bucket layout in place
    (exchange_count == 0 pinned in tests/test_scale_patterns.py); no
    lineitem bytes, no basket re-aggregation.
    Feed the result to triangle_counts / pagerank_scores /
    kcore_members — or materialize it with write_edge_index when a
    probe window wants the pre-folded form."""
    return (
        spark.table(table)
        .groupBy("part_a", "part_b")
        .agg(F.sum("pair_cnt").cast("long").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= min_sup)
    )
