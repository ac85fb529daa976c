"""Round-14 second-batch pins: LPA communities (B58), local
clustering coefficients (B59), Adamic-Adar link prediction (B60).
Oracle equality runs in tests/test_queries_oracle.py via the registry
and probe parity in tests/test_scale_patterns.py; here we pin the
SEMANTIC claims the fixed unrolls and the hub cap rest on."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _round9(x: float) -> float:
    # mirror Spark's F.round HALF_UP (Python round() is half-even)
    return float(Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP))


def _planted_graph(spark, tmp_path):
    """Two triangles {1,2,3} and {10,11,12} joined by the bridge
    (3, 10); every edge's pair is co-purchased twice so the whole
    shape survives the support cut."""
    rows = []
    oid = 0
    for a, b in (
        (1, 2), (1, 3), (2, 3),
        (10, 11), (10, 12), (11, 12),
        (3, 10),
    ):
        for _ in range(2):
            oid += 1
            rows += [(oid, a), (oid, b)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    return str(tmp_path)


def test_communities_planted_two_triangles(spark, tmp_path):
    """B58 semantics: each triangle resolves to one community labeled
    by its smallest member (the min tie-break), and the bridge does
    NOT merge them — the self-vote plus two same-side neighbors beats
    one cross-bridge vote at every round."""
    from tradesignal_mtm_runner_spark.queries_r14b import (
        copurchase_communities,
    )

    sf = _planted_graph(spark, tmp_path)
    got = {
        r["part"]: r["community"]
        for r in copurchase_communities(spark, sf).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_communities_converged_at_fixed_rounds(spark):
    """LPA_ROUNDS must be ENOUGH on the real graph: one more round may
    not change any label (otherwise the Spark loop and the fixed SQL
    unroll are both under-iterated — they'd still agree with each
    other, which is exactly why convergence needs its own pin)."""
    from tradesignal_mtm_runner_spark.operators.graph import community_labels
    from tradesignal_mtm_runner_spark.queries_r10b import _basket_pair_counts
    from tradesignal_mtm_runner_spark.queries_r14b import LPA_ROUNDS

    _, pairs = _basket_pair_counts(spark, SF_SMOKE)
    edges = pairs.select("part_a", "part_b")
    a = (
        community_labels(edges, LPA_ROUNDS)
        .toPandas()
        .sort_values("part")
        .reset_index(drop=True)
    )
    b = (
        community_labels(edges, LPA_ROUNDS + 1)
        .toPandas()
        .sort_values("part")
        .reset_index(drop=True)
    )
    assert len(a) > 0
    assert (a["part"].values == b["part"].values).all()
    assert (a["community"].values == b["community"].values).all()


def test_communities_rejects_zero_rounds(spark):
    import pytest

    from tradesignal_mtm_runner_spark.operators.graph import community_labels

    edges = spark.createDataFrame([(1, 2)], "part_a long, part_b long")
    with pytest.raises(ValueError, match="rounds"):
        community_labels(edges, 0)


def _lpa_reference(edges, rounds):
    """Sequential mirror of the synchronous self-vote rule: label :=
    argmax votes over {self} ∪ neighbors, ties to the smallest
    label."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v in adj:
            votes = {lab[v]: 1}
            for u in adj[v]:
                votes[lab[u]] = votes.get(lab[u], 0) + 1
            new[v] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lab = new
    return lab


def test_communities_match_python_reference_on_random_graphs(spark):
    """The SQL oracle unrolls the SAME rounds, so — like k-core and
    PageRank — only an independent implementation can catch an
    algorithmic error shared by both sides. Fixed MID-convergence
    rounds on seeded random graphs: the synchronous update order is
    part of the contract, so even unconverged states must agree."""
    import random

    from tradesignal_mtm_runner_spark.operators.graph import community_labels

    for seed in (3, 11, 42):
        rng = random.Random(seed)
        n = 50
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(40, 120))
            }
        )
        rounds = rng.randint(2, 6)
        want = _lpa_reference(edges, rounds)
        df = spark.createDataFrame(
            [(a, b) for a, b in edges], "part_a long, part_b long"
        )
        got = {
            r["part"]: r["community"]
            for r in community_labels(df, rounds).collect()
        }
        assert got == want, f"seed={seed} rounds={rounds}"


def test_clustering_planted_graph(spark, tmp_path):
    """B59 semantics: pure-triangle corners have coefficient 1.0, the
    bridge endpoints (degree 3, one triangle) have 2·1/(3·2) = 1/3 —
    and the LEFT join keeps every support-cut node even when
    triangle-free."""
    from tradesignal_mtm_runner_spark.queries_r14b import (
        copurchase_clustering,
    )

    sf = _planted_graph(spark, tmp_path)
    got = {
        r["part"]: (r["deg"], r["n_triangles"], r["clustering"])
        for r in copurchase_clustering(spark, sf).collect()
    }
    third = _round9(1.0 / 3.0)
    assert got == {
        1: (2, 1, 1.0),
        2: (2, 1, 1.0),
        3: (3, 1, third),
        10: (3, 1, third),
        11: (2, 1, 1.0),
        12: (2, 1, 1.0),
    }


def test_clustering_triangle_free_nodes_report_zero(spark):
    """A path graph has no triangles: every node must still appear,
    with n_triangles = 0 and coefficient 0.0 (including the degree-1
    endpoints, where C(deg, 2) = 0)."""
    from tradesignal_mtm_runner_spark.operators.graph import (
        clustering_coefficients,
        node_degrees,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1)],
        "part_a long, part_b long, pair_cnt long",
    )
    deg = node_degrees(edges)
    got = {
        r["part"]: (r["deg"], r["n_triangles"], r["clustering"])
        for r in clustering_coefficients(edges, deg).collect()
    }
    assert got == {
        1: (1, 0, 0.0),
        2: (2, 0, 0.0),
        3: (2, 0, 0.0),
        4: (1, 0, 0.0),
    }


def test_clustering_matches_python_reference_on_random_graphs(spark):
    import random

    from tradesignal_mtm_runner_spark.operators.graph import (
        clustering_coefficients,
        node_degrees,
    )

    for seed in (9, 23):
        rng = random.Random(seed)
        n = 40
        raw = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(60, 140))
            }
        )
        adj: dict[int, set[int]] = {}
        for a, b in raw:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        tri = {v: 0 for v in adj}
        for a, b in raw:
            for c in adj[a] & adj[b]:
                for v in (a, b, c):
                    tri[v] += 1
        tri = {v: c // 3 for v, c in tri.items()}
        want = {
            v: (
                len(adj[v]),
                tri[v],
                _round9(2.0 * tri[v] / (len(adj[v]) * (len(adj[v]) - 1)))
                if len(adj[v]) >= 2
                else 0.0,
            )
            for v in adj
        }
        df = spark.createDataFrame(
            [(a, b, 1) for a, b in raw],
            "part_a long, part_b long, pair_cnt long",
        )
        got = {
            r["part"]: (r["deg"], r["n_triangles"], r["clustering"])
            for r in clustering_coefficients(df, node_degrees(df)).collect()
        }
        assert set(got) == set(want), f"seed={seed}"
        for v in want:
            assert got[v][0] == want[v][0] and got[v][1] == want[v][1]
            assert abs(got[v][2] - want[v][2]) < 1e-9, f"seed={seed} v={v}"


def test_link_predict_planted_graph(spark, tmp_path):
    """B60 semantics on the planted two-triangle bridge: the only
    distance-2 non-adjacent pairs run through the degree-3 bridge
    endpoints, scored 1/ln(3); adjacent wedge pairs (the triangle
    edges) are excluded by the anti-join; ties rank by candidate
    id."""
    from tradesignal_mtm_runner_spark.queries_r14b import (
        copurchase_link_predict,
    )

    sf = _planted_graph(spark, tmp_path)
    got = {
        (r["part"], r["cand"]): (r["n_common"], r["aa_score"], r["rank"])
        for r in copurchase_link_predict(spark, sf).collect()
    }
    s = _round9(1.0 / math.log(3.0))
    assert got == {
        (1, 10): (1, s, 1),
        (2, 10): (1, s, 1),
        (3, 11): (1, s, 1),
        (3, 12): (1, s, 2),
        (10, 1): (1, s, 1),
        (10, 2): (1, s, 2),
        (11, 3): (1, s, 1),
        (12, 3): (1, s, 1),
    }


def test_link_predict_hub_cap_excludes_center(spark):
    """The 100 TB guard: a center past max_deg contributes NO wedges —
    a 5-spoke star with max_deg=3 predicts nothing (the only
    distance-2 paths run through the capped hub). The test-SF graphs
    never reach the cap (max degree 51 at sf0.001), so the planted
    hub is what pins the behavior — the lsh_candidate_pairs
    max_bucket convention."""
    from tradesignal_mtm_runner_spark.operators.graph import (
        link_predictions,
        node_degrees,
    )

    hub = 100
    edges = spark.createDataFrame(
        [(i, hub, 1) for i in range(1, 6)],
        "part_a long, part_b long, pair_cnt long",
    )
    deg = node_degrees(edges)
    assert link_predictions(edges, deg, max_deg=3, topk=3).count() == 0
    # sanity: uncapped, the same star predicts every spoke pair
    got = link_predictions(edges, deg, max_deg=10, topk=10)
    assert got.count() == 5 * 4  # C(5,2) pairs, symmetrized


def test_link_predict_matches_python_reference_on_random_graphs(spark):
    import random

    from tradesignal_mtm_runner_spark.operators.graph import (
        link_predictions,
        node_degrees,
    )

    for seed in (13, 31):
        rng = random.Random(seed)
        n = 40
        raw = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(50, 120))
            }
        )
        max_deg, topk = 8, 3
        adj: dict[int, set[int]] = {}
        for a, b in raw:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        eset = set(raw)
        scores: dict[tuple[int, int], tuple[int, float]] = {}
        for v in adj:
            if not (2 <= len(adj[v]) <= max_deg):
                continue
            nbrs = sorted(adj[v])
            for i, u in enumerate(nbrs):
                for w in nbrs[i + 1 :]:
                    if (u, w) in eset:
                        continue
                    nc, aa = scores.get((u, w), (0, 0.0))
                    scores[(u, w)] = (nc + 1, aa + 1.0 / math.log(len(adj[v])))
        per_part: dict[int, list[tuple[float, int, int]]] = {}
        for (u, w), (nc, aa) in scores.items():
            r = _round9(aa)
            per_part.setdefault(u, []).append((-r, w, nc))
            per_part.setdefault(w, []).append((-r, u, nc))
        want = {}
        for part, cands in per_part.items():
            for rank, (neg, cand, nc) in enumerate(sorted(cands)[:topk], 1):
                want[(part, cand)] = (nc, -neg, rank)

        df = spark.createDataFrame(
            [(a, b, 1) for a, b in raw],
            "part_a long, part_b long, pair_cnt long",
        )
        got = {
            (r["part"], r["cand"]): (r["n_common"], r["aa_score"], r["rank"])
            for r in link_predictions(
                df, node_degrees(df), max_deg, topk
            ).collect()
        }
        assert set(got) == set(want), f"seed={seed}"
        for k in want:
            assert got[k][0] == want[k][0] and got[k][2] == want[k][2], (
                f"seed={seed} {k}"
            )
            assert abs(got[k][1] - want[k][1]) < 1e-9, f"seed={seed} {k}"


def test_graph_profile_planted(spark, tmp_path):
    """B61 semantics on the planted two-triangle bridge: 6 nodes /
    7 edges, max degree 3, Σdeg = 14 so avg 14/6, wedges = 4·C(2,2) +
    2·C(3,2) = 10, 2 triangles, transitivity = 3·2/10 = 0.6. The
    wedge count is arithmetic on degrees (never an enumeration), so
    the numbers are exact."""
    from tradesignal_mtm_runner_spark.queries_r14b import (
        copurchase_graph_profile,
    )

    sf = _planted_graph(spark, tmp_path)
    row = copurchase_graph_profile(spark, sf).collect()[0].asDict()
    assert row == {
        "n_nodes": 6,
        "n_edges": 7,
        "max_degree": 3,
        "avg_degree": _round9(14.0 / 6.0),
        "n_wedges": 10,
        "n_triangles": 2,
        "transitivity": 0.6,
    }


def test_minhash_calibration_semantics(spark, tmp_path):
    """C69 semantics on a planted corpus: identical docs are LSH
    candidates with est = exact = 1.0 and abs_err = 0; a near-dup
    with one token changed keeps exact < 1 while est stays a multiple
    of 1/K; and for EVERY emitted row est is a multiple of 1/K in
    [0, 1] with abs_err ≡ |est − exact| (the estimator contract, not
    just oracle agreement)."""
    from tradesignal_mtm_runner_spark.queries_pipeline import MINHASH_K
    from tradesignal_mtm_runner_spark.queries_r14b import minhash_calibration

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base, "en", "s", len(base)),  # exact duplicate of 1
        (3, base.replace("lazy", "sleepy"), "en", "s", 60),  # near-dup
        (4, "completely different text about spark graph analytics and "
            "distributed joins at scale", "en", "s", 80),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    got = {
        (r["id_a"], r["id_b"]): (
            r["est_jaccard"],
            r["exact_jaccard"],
            r["abs_err"],
        )
        for r in minhash_calibration(spark, str(tmp_path)).collect()
    }
    assert got[(1, 2)] == (1.0, 1.0, 0.0)
    assert (1, 3) in got or (2, 3) in got  # the near-dup pair surfaces
    for (ia, ib), (est, exact, err) in got.items():
        assert 0.0 <= est <= 1.0 and 0.0 <= exact <= 1.0, (ia, ib)
        # est is k/K for integer k (both engines compute the same
        # exact small rational)
        assert abs(est * MINHASH_K - round(est * MINHASH_K)) < 1e-9, (ia, ib)
        assert abs(err - abs(est - exact)) < 2e-9, (ia, ib)
    near = got.get((1, 3)) or got.get((2, 3))
    assert near[1] < 1.0  # one-token edit: exact Jaccard strictly below 1


def test_lang_id_confusion_planted(spark, tmp_path):
    """C70 semantics: a stopword-pure English doc and a German doc
    score perfectly; a doc whose TRUE label ('xx') the heuristic can
    never emit exercises the precision-0 guard (recall 0, and its
    misprediction dilutes English precision); and an es-stopword doc
    mislabeled 'en' makes Spanish a PREDICTED-ONLY class — the
    full-outer anchor must still give it a row (n_true 0, the
    recall-0 guard) instead of dropping the spurious-prediction
    mass."""
    from tradesignal_mtm_runner_spark.queries_r14b import lang_id_confusion

    rows = [
        (1, "the and of to in the and of", "en", "s", 30),
        (2, "der die das und ist der die", "de", "s", 30),
        (3, "the and of to in the and of", "xx", "s", 30),  # en-looking
        (4, "el los y por el los y por", "en", "s", 30),  # es-looking
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    got = {
        r["lang"]: (
            r["n_true"], r["n_pred"], r["n_correct"],
            r["precision"], r["recall"], r["f1"],
        )
        for r in lang_id_confusion(spark, str(tmp_path)).collect()
    }
    half = 0.5
    assert got == {
        "en": (2, 2, 1, half, half, half),
        "de": (1, 1, 1, 1.0, 1.0, 1.0),
        "xx": (1, 0, 0, 0.0, 0.0, 0.0),
        "es": (0, 1, 0, 0.0, 0.0, 0.0),
    }


def test_dedup_cluster_stats_planted(spark, tmp_path):
    """C71 semantics: three identical docs form one cluster (simhash
    distance 0) whose min-id member is kept — size 3, two dropped,
    kept words = one copy, dropped fraction 2/3; the unique doc
    produces NO row (singletons are not duplication)."""
    from tradesignal_mtm_runner_spark.queries_r14b import dedup_cluster_stats

    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, dup, "en", "s", len(dup)),
        (2, dup, "en", "s", len(dup)),
        (3, dup, "en", "s", len(dup)),
        (9, "completely unrelated text about spark plans and shuffles",
         "en", "s", 55),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = dedup_cluster_stats(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r == {
        "canonical_id": 1,
        "cluster_size": 3,
        "n_dropped": 2,
        "total_words": 24,
        "kept_words": 8,
        "dropped_words": 16,
        "dropped_frac": _round9(2.0 / 3.0),
    }


def test_r14b_plan_shapes(spark):
    """Plan pins: graph-sized equi-joins only (no cartesian), and no
    explicit broadcast hints (the family bounded-dims-only convention
    — AQE decides from measured sizes). For the LPA query the
    query-level plan is a post-checkpoint scan that pins nothing
    (review r14b), so the per-round shape is asserted on lpa_round's
    plan directly (and kcore_round's and component_round's, which
    have the same blind spot)."""
    from pyspark.sql import functions as F2

    from tradesignal_mtm_runner_spark import plans as P
    from tradesignal_mtm_runner_spark.operators.graph import (
        component_round,
        kcore_round,
        lpa_round,
    )
    from tradesignal_mtm_runner_spark.queries_r14b import (
        copurchase_clustering,
        copurchase_link_predict,
    )

    for q in (copurchase_clustering, copurchase_link_predict):
        df = q(spark, SF_SMOKE)
        plan = P.explain_str(df)
        assert "CartesianProduct" not in plan, q.__name__
        assert P.broadcast_hint_count(df) == 0, q.__name__

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "part_a long, part_b long"
    )
    sym = edges.select(
        F2.col("part_a").alias("src"), F2.col("part_b").alias("dst")
    ).unionAll(
        edges.select(
            F2.col("part_b").alias("src"), F2.col("part_a").alias("dst")
        )
    )
    labels = sym.select("src").distinct().select(
        F2.col("src").alias("node"), F2.col("src").alias("label")
    )
    for df in (
        lpa_round(sym, labels),
        kcore_round(sym, sym.select("src").distinct(), 2),
    ):
        plan = P.explain_str(df)
        assert "CartesianProduct" not in plan, plan
        assert P.broadcast_hint_count(df) == 0

    # the shared min-label CC step: one join plus one aggregate per
    # round (leaf inputs, so every operator counted is the round's own)
    cc = component_round(
        spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
        ),
        spark.createDataFrame(
            [(1, 1), (2, 2), (3, 3)], "node long, label long"
        ),
    )
    plan = P.explain_str(cc)
    assert "CartesianProduct" not in plan, plan
    assert P.broadcast_hint_count(cc) == 0
    opt = cc._jdf.queryExecution().optimizedPlan().toString()
    ops = [ln.lstrip(" :+-").split(" ")[0] for ln in opt.splitlines()]
    assert (ops.count("Join"), ops.count("Aggregate")) == (1, 1), opt
