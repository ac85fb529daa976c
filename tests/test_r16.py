"""Round-16 pins: (a) incremental components maintenance by component
contraction equals the full recompute — planted bridge, random graphs,
empty delta, and the persisted-labels index form; (b) the dedup-side
connected_canonical converged entry — parity at test SF, a planted
longer-than-unroll chain the fixed form provably splits, and the
fail-loud bound."""

from __future__ import annotations

import random

import pytest

from tests.conftest import SF_SMOKE, assert_frames_match


def _random_edges(spark, seed: int, n_nodes: int = 60, n_edges: int = 90):
    rng = random.Random(seed)
    rows = set()
    while len(rows) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            rows.add((min(a, b), max(a, b)))
    return spark.createDataFrame(
        sorted(rows), "part_a long, part_b long"
    )


# --- components_refresh (contraction maintenance) ----------------------------


def test_components_refresh_planted_bridge(spark):
    """The classic bridge: a delta edge joining two existing
    components relabels BOTH to the merged minimum; a delta edge
    between two brand-new nodes forms a fresh component; untouched
    components pass through."""
    from tradesignal_mtm_runner_spark.operators.graph import (
        component_labels_converged,
        components_refresh,
    )

    base = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 31)], "part_a long, part_b long"
    )
    labels = component_labels_converged(base)
    delta = spark.createDataFrame(
        [(3, 10), (20, 21)], "part_a long, part_b long"
    )
    got = {
        r["part"]: r["component"]
        for r in components_refresh(labels, delta).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 10: 1, 11: 1,  # bridged to the merged min
        20: 20, 21: 20,                   # brand-new component
        30: 30, 31: 30,                   # untouched, passed through
    }


def test_components_refresh_empty_delta_is_identity(spark):
    from tradesignal_mtm_runner_spark.operators.graph import (
        component_labels_converged,
        components_refresh,
    )

    base = spark.createDataFrame(
        [(1, 2), (5, 6)], "part_a long, part_b long"
    )
    labels = component_labels_converged(base)
    empty = spark.createDataFrame([], "part_a long, part_b long")
    assert_frames_match(
        components_refresh(labels, empty).toPandas(),
        labels.toPandas(),
        "refresh_empty_delta",
    )


@pytest.mark.parametrize("seed", [3, 11])
def test_components_refresh_matches_full_recompute(spark, seed):
    """Random graph, arbitrary base/delta split: refresh(CC(base),
    delta) == CC(base ∪ delta) value-for-value — the soundness of the
    contraction (canonical ids are base-component MINIMA, so the
    contracted component's min is the merged component's global
    min)."""
    from pyspark.sql import functions as F

    from tradesignal_mtm_runner_spark.operators.graph import (
        component_labels_converged,
        components_refresh,
    )

    edges = _random_edges(spark, seed)
    split = (F.col("part_a") * 31 + F.col("part_b")) % 3 == 0
    base = edges.filter(~split)
    delta = edges.filter(split)
    labels = component_labels_converged(base)
    assert_frames_match(
        components_refresh(labels, delta).toPandas(),
        component_labels_converged(edges).toPandas(),
        f"refresh_vs_full_seed{seed}",
    )


def test_components_refresh_live_query_matches_oracle_shape(spark):
    """B65's live split form on the real sf graph: the refreshed
    labeling equals the full-graph converged CC (the oracle-backed
    equality, here pinned engine-side so a refresh bug can't hide
    behind oracle-unroll coincidence)."""
    from tradesignal_mtm_runner_spark.operators.graph import (
        component_labels_converged,
    )
    from tradesignal_mtm_runner_spark.queries_r10b import _basket_pair_counts
    from tradesignal_mtm_runner_spark.queries_r16 import (
        copurchase_components_refresh,
    )

    _, pairs = _basket_pair_counts(spark, SF_SMOKE)
    full = component_labels_converged(pairs.select("part_a", "part_b"))
    got = copurchase_components_refresh(spark, SF_SMOKE)
    assert_frames_match(
        got.toPandas(), full.toPandas(), "refresh_live_vs_full"
    )


def test_components_refresh_from_index(spark, tmp_path):
    """The persisted-labels production form: write_component_labels +
    components_refresh_from_index == the in-memory refresh == the full
    recompute, through a real bucketed table round-trip."""
    from tradesignal_mtm_runner_spark.operators.graph import (
        component_labels_converged,
        components_refresh_from_index,
        write_component_labels,
    )

    spark.sql(
        f"CREATE DATABASE r16idx LOCATION '{tmp_path / 'r16idx'}'"
    )
    try:
        edges = _random_edges(spark, 7)
        base = edges.filter((edges.part_a + edges.part_b) % 4 != 0)
        delta = edges.filter((edges.part_a + edges.part_b) % 4 == 0)
        write_component_labels(
            component_labels_converged(base),
            "r16idx.comp_labels",
            num_buckets=4,
        )
        assert_frames_match(
            components_refresh_from_index(
                spark, "r16idx.comp_labels", delta
            ).toPandas(),
            component_labels_converged(edges).toPandas(),
            "refresh_from_index_vs_full",
        )
    finally:
        spark.sql("DROP DATABASE r16idx CASCADE")


def test_components_refresh_probe_from_standing_tables(spark, tmp_path):
    """The full per-batch admission from standing tables (bench's
    index_probe_components): the SEMI-JOIN-RESTRICTED fold must
    reconstruct the exact full folded cut set — a pair untouched by
    the batch is ≥ cut iff already a base edge — so the probe equals
    the full recompute over the folded graph value-for-value, and the
    probe plan reads no full-corpus relation (only the standing
    tables + the staged batch)."""
    from pyspark.sql import functions as F

    from tradesignal_mtm_runner_spark.operators.graph import (
        append_to_edge_partials,
        component_labels_converged,
        components_refresh_probe,
        edges_from_partials,
        write_component_labels,
        write_edge_partials,
    )
    from tradesignal_mtm_runner_spark.queries_r10b import BASKET_MIN_SUP
    from tradesignal_mtm_runner_spark.sinks import write_bucketed
    from tradesignal_mtm_runner_spark.sources import load_table

    spark.sql(f"CREATE DATABASE r16cp LOCATION '{tmp_path / 'r16cp'}'")
    try:
        li = load_table(spark, SF_SMOKE, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        batch = li.filter(F.col("l_orderkey") % 16 == 0)
        write_edge_partials(
            li.filter(F.col("l_orderkey") % 16 != 0),
            "r16cp.partials",
            num_buckets=4,
        )
        base_edges = edges_from_partials(
            spark, "r16cp.partials", BASKET_MIN_SUP
        ).select("part_a", "part_b")
        write_bucketed(
            base_edges,
            "r16cp.base_edges",
            bucket_cols=["part_a"],
            num_buckets=4,
            sort_cols=["part_a", "part_b"],
            mode="overwrite",
        )
        write_component_labels(
            component_labels_converged(spark.table("r16cp.base_edges")),
            "r16cp.labels",
            num_buckets=4,
        )
        append_to_edge_partials(batch, "r16cp.partials", num_buckets=4)

        probe = components_refresh_probe(
            spark,
            "r16cp.partials",
            "r16cp.base_edges",
            "r16cp.labels",
            batch,
            BASKET_MIN_SUP,
        )
        full = component_labels_converged(
            edges_from_partials(
                spark, "r16cp.partials", BASKET_MIN_SUP
            ).select("part_a", "part_b")
        )
        assert_frames_match(
            probe.toPandas(), full.toPandas(), "refresh_probe_vs_full"
        )
    finally:
        spark.sql("DROP DATABASE r16cp CASCADE")


# --- dedup-side converged CC entry --------------------------------------------


def _chain_pairs(spark, n: int):
    """A planted near-dup CHAIN 1-2-...-n (templated-spam drift): each
    doc near-dup of the next, component depth n-1."""
    ids = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    return ids, pairs


def test_connected_canonical_converged_planted_chain(spark):
    """The VERDICT r15 item 5 scenario made concrete: a chain longer
    than DEDUP_CC_ITERS hops SPLITS under the fixed unroll (multiple
    canonical ids inside one true cluster — duplicate docs would ship)
    while the converged twin reaches the single true component."""
    from tradesignal_mtm_runner_spark.operators.dedup import (
        connected_canonical,
        connected_canonical_converged,
    )
    from tradesignal_mtm_runner_spark.queries_pipeline import DEDUP_CC_ITERS

    n = DEDUP_CC_ITERS * 4 + 2
    ids, pairs = _chain_pairs(spark, n)
    fixed = (
        connected_canonical(ids, pairs, iters=DEDUP_CC_ITERS)
        .select("canonical_id")
        .distinct()
    )
    assert fixed.count() > 1  # the fixed unroll provably under-merges

    conv = connected_canonical_converged(ids, pairs).toPandas()
    assert set(conv["canonical_id"]) == {1}
    assert set(conv.loc[conv["keep"], "doc_id"]) == {1}


def test_connected_canonical_converged_parity_at_test_sf(spark):
    """On the real sf near-dup graph the fixed unroll is converged
    (separately pinned), so the twin must return the identical
    labeling — the kcore/LPA/components parity convention applied to
    the dedup side."""
    from tradesignal_mtm_runner_spark.operators.dedup import (
        connected_canonical,
        connected_canonical_converged,
        simhash_near_dup_pairs,
        simhash_signatures,
    )
    from tradesignal_mtm_runner_spark.queries_pipeline import (
        DEDUP_CC_ITERS,
        SIMHASH_MAX_BUCKET,
        SIMHASH_MAX_HAMMING,
        _docs,
    )

    d = _docs(spark, SF_SMOKE)
    sig = simhash_signatures(d)
    pairs = simhash_near_dup_pairs(
        sig, max_hamming=SIMHASH_MAX_HAMMING, max_bucket=SIMHASH_MAX_BUCKET
    )
    assert_frames_match(
        connected_canonical_converged(d.select("doc_id"), pairs).toPandas(),
        connected_canonical(
            d.select("doc_id"), pairs, iters=DEDUP_CC_ITERS
        ).toPandas(),
        "dedup_cc_converged_vs_fixed",
    )


def test_connected_canonical_converged_fails_loud(spark):
    from tradesignal_mtm_runner_spark.operators.dedup import (
        connected_canonical_converged,
    )

    ids, pairs = _chain_pairs(spark, 12)
    with pytest.raises(RuntimeError, match="still shrinking"):
        connected_canonical_converged(ids, pairs, max_iters=2)


# --- novelty saturation (C73) -------------------------------------------------


def test_novelty_saturation_planted(spark, tmp_path):
    """C73 semantics on planted docs: grams first seen land in their
    introducing doc's bucket, the repeat-only doc adds nothing, and
    the cumulative share ends at exactly 1.0 — pinned value-for-value
    against the oracle SQL on the same planted parquet."""
    import duckdb
    import pandas as pd

    from tradesignal_mtm_runner_spark.queries_r16 import (
        NOVELTY_SATURATION_SQL,
        novelty_saturation,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "a b c d",        # grams: "a b c", "b c d" — both first here
                "a b c x",        # "a b c" repeat, "b c x" first
                "a b c d",        # pure repeat: zero first-seen grams
                "p q r s",        # two fresh grams in the last bucket
            ],
        }
    )
    p = tmp_path / "sat"
    p.mkdir()
    docs.to_parquet(p / "documents.parquet", index=False)
    got = novelty_saturation(spark, str(p)).toPandas()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{p / 'documents.parquet'}')"
    )
    want = con.execute(NOVELTY_SATURATION_SQL).df()
    con.close()
    assert_frames_match(got, want, "novelty_saturation_planted")

    by_bucket = got.set_index("bucket")
    # doc_ids 0..3, span 4: buckets (id*10)//4 = 0, 2, 5, 7
    assert by_bucket.loc[0, "n_first_seen"] == 2  # "a b c", "b c d"
    assert by_bucket.loc[2, "n_first_seen"] == 1  # "b c x"
    assert by_bucket.loc[5, "n_first_seen"] == 0  # pure repeat
    assert by_bucket.loc[7, "n_first_seen"] == 2  # "p q r", "q r s"
    assert by_bucket["cum_share"].iloc[-1] == 1.0


# --- second batch: containment dedup + mix drift -------------------------------


def _planted_parquet(tmp_path, docs: "pd.DataFrame"):
    import pandas as pd  # noqa: F401 - typing only

    p = tmp_path / "planted"
    p.mkdir(exist_ok=True)
    docs.to_parquet(p / "documents.parquet", index=False)
    return str(p)


def test_dedup_containment_planted(spark, tmp_path):
    """C74 semantics on planted docs: an (almost-)prefix doc is named
    as the contained side with containment 1.0; exact duplicates tie
    and break to the min id; a half-overlap candidate pair clears
    neither direction and is excluded — all pinned value-for-value
    against the oracle SQL on the same parquet."""
    import duckdb
    import pandas as pd

    from tradesignal_mtm_runner_spark.queries_r16 import (
        _containment_sql,
        dedup_containment,
    )

    words = [f"w{i}" for i in range(20)]
    long_doc = " ".join(words)                 # 18 shingles
    prefix_doc = " ".join(words[:19])          # 17 shingles, all in long
    half = " ".join(words[:10] + [f"z{i}" for i in range(10)])
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [long_doc, prefix_doc, long_doc, half, long_doc],
        }
    )
    sf = _planted_parquet(tmp_path, docs)
    got = dedup_containment(spark, sf).toPandas()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    want = con.execute(_containment_sql()).df()
    con.close()
    assert_frames_match(got, want, "dedup_containment_planted")

    rows = {
        (r.id_a, r.id_b): r for r in got.itertuples(index=False)
    }
    # prefix containment: doc 2's 17 shingles all inside doc 1's 18
    assert (1, 2) in rows
    r = rows[(1, 2)]
    assert r.n_inter == 17 and r.n_a == 18 and r.n_b == 17
    assert r.containment_b == 1.0 and r.contained_id == 2
    # exact duplicates tie -> min id is the contained side
    assert rows[(1, 3)].contained_id == 1
    assert rows[(1, 3)].containment_a == 1.0
    # the half-overlap pair must NOT appear even if banding paired it
    assert (1, 4) not in rows and (4, 5) not in rows


def test_corpus_mix_drift_planted(spark, tmp_path):
    """C75 semantics on planted docs: the (bucket × lang) grid is
    COMPLETE (a lang absent from a bucket appears with n_docs=0 and
    contributes |0 − corpus_share| to the distance), shares and the
    per-bucket total-variation distance are exact — pinned against
    the oracle SQL on the same parquet."""
    import duckdb
    import pandas as pd

    from tradesignal_mtm_runner_spark.queries_r16 import (
        MIX_DRIFT_SQL,
        corpus_mix_drift,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["a"] * 4,
            "lang": ["en", "fr", "en", "en"],
        }
    )
    sf = _planted_parquet(tmp_path, docs)
    got = corpus_mix_drift(spark, sf).toPandas()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    want = con.execute(MIX_DRIFT_SQL).df()
    con.close()
    assert_frames_match(got, want, "corpus_mix_drift_planted")

    # grid completeness: 4 occupied buckets x 2 langs = 8 rows,
    # including zero rows for the langs absent from a bucket
    assert len(got) == 8
    by = got.set_index(["bucket", "lang"])
    assert by.loc[(0, "fr"), "n_docs"] == 0
    # bucket 0 is all-en: tv = 0.5 * (|1 - 0.75| + |0 - 0.25|) = 0.25
    assert by.loc[(0, "en"), "tv_dist"] == 0.25
    # the all-fr bucket (doc 1 -> bucket 2) drifts hardest: 0.75
    assert by.loc[(2, "fr"), "tv_dist"] == 0.75
    # corpus shares are global: en 0.75 everywhere, fr 0.25
    assert (got.loc[got["lang"] == "en", "corpus_share"] == 0.75).all()
