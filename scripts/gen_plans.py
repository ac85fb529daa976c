"""Generate docs/PLANS.md: formatted physical-plan snapshots for a
representative cross-section of the query registry, each with an
auto-derived scale scorecard (shuffle count, broadcast joins, pushed
filters, codegen spans).

Run:  python scripts/gen_plans.py  [sf_dir]

The snapshots are review artifacts, not tests — the enforced plan
pins live in tests/test_plan_shape.py / tests/test_scale_patterns.py.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SNAPSHOT = [
    ("mtm_timeline", "declarative MTM: one shuffle per symbol window chain"),
    ("mtm_summary", "timeline + per-symbol aggregate"),
    ("mtm_full_engine", "bookkeeper state machine: batched Arrow groups"),
    ("q1_pricing_summary", "scan -> partial agg -> final agg"),
    ("q3_shipping_priority", "broadcast dims, single shuffle, top-k"),
    ("q6_revenue_delta", "pushdown showcase: every filter reaches the scan"),
    ("q19_disjunctive_pushdown", "OR-of-ANDs distributed to both scans"),
    ("asof_join", "as-of join via union + window carry-forward"),
    ("events_error_burst", "binned range join, no nested loop"),
    ("skew_join_salted", "deterministic salt fan-out join"),
    ("rolling_revenue_7d", "RANGE window over the daily pre-aggregate"),
    ("dedup_minhash_lsh", "banded LSH: wide signature agg + bucket join"),
    ("ann_ivf_topk", "closure-based cell assign + broadcast probe join"),
    ("ann_pq_topk", "PQ codes + broadcast LUT ADC fold"),
    ("tf_idf_top_terms", "three partial aggs + bounded per-doc window"),
    ("tech_indicators", "row-frame windows + bounded EMA fold"),
    ("bloom_prefilter", "broadcast bit-set probe: zero probe-side join shuffles"),
    ("token_cms_topk", "bounded-state sketch agg + broadcast estimation"),
    ("doc_perplexity", "vocab relation join: three partial aggs, token-keyed"),
    ("bpe_apply", "vocab-level merge chain in codegen + token-keyed doc join"),
    # round-6 additions
    ("q7_volume_shipping", "hints only on bounded dims; big sides stats/AQE"),
    ("q17_small_qty_revenue", "decorrelated scalar subquery, zero hints"),
    ("doc_repetition", "one tagged gram explode + bounded agg chain"),
    ("doc_winnowing", "row-local sliding-min fingerprints: zero exchanges"),
    ("quality_thresholds_by_lang", "bounded #langs threshold broadcast"),
    ("dedup_incremental_near", "band-index LEFT SEMI probe, batch-bounded"),
    ("multimodal_frames", "AVI container walk + sampled JPEG decode, no shuffle"),
    # round-7 additions
    ("image_dhash", "decode + perceptual hash in one Arrow pass, zero exchanges"),
    ("image_dhash_pairs", "dHash through capped band blocking, hamming map-side"),
    ("audio_fingerprint", "PCM decode + energy fingerprint, zero exchanges"),
    ("events_variant", "VARIANT parse rides the scan; one aggregate exchange"),
    ("rolling_beta", "#days-bounded market relation + symbol-partitioned window"),
    ("sketch_rollup_hll", "daily HLL sketches; total = union merge, no rescan"),
    ("classifier_train_lr", "final scoring pass of the GD-trained weights"),
    # round-8/9 additions
    ("scd2_history", "one key shuffle + one lead window: the SCD2 layout"),
    ("table_profile", "one scan, multi-distinct as a single Expand"),
    ("approx_table_profile", "one scan, sketch NDVs: no Expand, no distinct shuffle"),
    ("embedding_pca_power", "matrix-free PCA: model-literal projection, zero exchanges"),
    ("bm25_topk", "query-vocab isin rides the scan; bounded broadcast stats"),
    ("hybrid_search_rrf", "exact x PQ rank fusion: full-outer rank join per query"),
    ("hybrid_bm25_pq_rrf", "BM25 x PQ+rerank fusion: both arms sublinear-shaped"),
    ("boilerplate_segments", "segment hash df aggregate + one key join back"),
    ("doc_char_entropy", "char explode + two aggs, alphabet-bounded shuffle"),
    ("token_zipf_fit", "TakeOrdered vocab cut + OLS from sufficient stats"),
    ("dedup_keep_best", "CC labels + two-step argmax: keep the longest version"),
    ("retention_cohort", "first-order anchor agg + co-partitioned join back"),
    # round-10 additions
    ("dedup_cc_probe", "base CC chain once + banded cross-probe, batch-bounded"),
    ("dedup_cc_refresh", "contracted mini-CC: merge components at batch cost"),
    ("embedding_pca_topk", "deflated power iteration: 2 components, one persisted scan"),
    ("basket_pairs", "one basket shuffle + row-local pair explode, no self-join"),
    ("copurchase_pagerank", "persisted transition relation reused across 5 iterations"),
    ("events_anomaly_mad", "corpus shuffle once; exact medians on the bounded daily grid"),
    ("dq_audit", "one conditional-agg pass per table + anti-join referential rules"),
    ("text_normalize", "four chained column regexes: zero shuffles, zero Python"),
    # round-11 additions
    ("q2_min_cost_supplier", "decorrelated scalar-min: agg + min re-agg + join back"),
    ("q11_important_parts", "one partkey agg + 1-row broadcast global total"),
    ("q12_late_priority", "year pushed to scan; tiny conditional-sum agg"),
    ("q16_supplier_counts", "NOT-IN as bounded anti-join + distinct count"),
    ("q20_excess_suppliers", "nested semi-joins; shared shuffle-key prefix aggs"),
    ("corpus_shuffle_shards", "affine permutation + one shard-window shuffle"),
    ("corpus_weighted_sample", "A-Res score in codegen + per-source rank window"),
    ("user_rfm_segments", "one user agg + 9-number threshold broadcast, no global NTILE"),
    ("events_seasonality", "one corpus agg to the 168-cell grid; windows on the grid"),
    ("corpus_pack_shards", "one shard window (position + running offset) + prefix-keyed pack agg"),
    ("multimodal_mpeg1", "one Arrow mapInPandas pass (MPEG-1 synth + full-frame decode), no shuffle"),
    ("copurchase_triangles", "degree-oriented wedge join closes against oriented edges — no Σdeg² hub blowup"),
    # round-14 additions
    ("copurchase_kcore", "iterated simultaneous peel: per-round lineage cuts keep the plan constant-size"),
    ("copurchase_topk_similar", "Jaccard over the support-cut edges: candidates ARE the edges, zero hints, per-part top-k window"),
    # round-14 second batch
    ("copurchase_communities", "self-vote LPA: per-round vote join + top-1 window, lineage cut per round"),
    ("copurchase_clustering", "oriented-triangle kernel + degree LEFT join: triangle-free nodes kept"),
    ("copurchase_link_predict", "hub-capped wedge join + anti-join existing edges + per-part top-k"),
    ("copurchase_graph_profile", "two bounded aggregates: degree-arithmetic wedges + oriented triangle total"),
    ("copurchase_components", "min-label propagation: per-round join + min-aggregate, lineage cut per round"),
    ("copurchase_degree_histogram", "integer-exact log2 buckets over the degree relation, 1-row total cross-join"),
    ("copurchase_edge_embeddedness", "shared oriented enumeration, edge credits, LEFT join keeps bridges"),
    ("ngram_novelty", "distinct (doc, gram) + gram-keyed first-seen min: no corpus window, no all-pairs"),
    ("minhash_calibration", "shared signature persist: row-local K-column compare + candidate-bounded exact Jaccard"),
    ("lang_id_confusion", "one corpus pass -> three lang-bounded aggregates of the confusion matrix"),
    ("dedup_cluster_stats", "the C17 CC chain + one doc-keyed join + one output-sized cluster aggregate"),
    # round-16 additions
    ("copurchase_components_refresh", "partials fold + delta anti-join + contraction mini-CC: cost follows the batch"),
    ("novelty_saturation", "one shared shingle pass -> two bucket aggregates + a 10-row cumulative window"),
    # round-17 pre-staged batch
    ("copurchase_ktruss", "simultaneous edge peel: shared oriented triangle kernel per round, lineage cuts"),
    ("copurchase_hopplot", "iterated frontier expansion: the exact O(n²) oracle twin, per-round cuts"),
    ("copurchase_hyperball", "sparse HLL register propagation: edge join + (node,reg) MAX per round, no UDF"),
    ("ann_recall_eval", "exact + IVF arms joined per query: both arms the family's own plans"),
    ("events_changepoint", "one corpus agg to the daily grid; diff-median scale + row-frame windows on the grid"),
]


def scorecard(plan: str, simple: str) -> str:
    ex = len(re.findall(r"\bExchange ", plan))
    reuse = len(re.findall(r"ReusedExchange", plan))
    bhj = len(re.findall(r"BroadcastHashJoin", plan))
    smj = len(re.findall(r"SortMergeJoin", plan))
    # codegen spans: the distinct *(N) stage ids in the simple plan
    wsc = len(set(re.findall(r"\*\((\d+)\)", simple)))
    arrow = len(re.findall(r"(MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython)", plan))
    pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "none"
    return (
        f"shuffles={ex} (reused {reuse}) | broadcast joins={bhj} | "
        f"sort-merge joins={smj} | codegen spans={wsc} | "
        f"arrow stages={arrow} | pushed filters={pushed}"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from tradesignal_mtm_runner_spark.queries import ALL_QUERIES as registry
    from tradesignal_mtm_runner_spark.session import get_spark

    spark = get_spark(app_name="gen_plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# Physical plan snapshots",
        "",
        f"Generated by `scripts/gen_plans.py` at `{sf_dir}` "
        "(plan shape is scale-factor independent; AQE re-plans at runtime).",
        "Enforced plan-shape assertions live in `tests/test_plan_shape.py` "
        "and `tests/test_scale_patterns.py`; this file is the human-readable "
        "review artifact.",
        "",
    ]
    for name, note in SNAPSHOT:
        # the capped dedup operators persist their bands relation via
        # the cache registry; release between snapshots or Spark
        # substitutes that cache into LATER queries sharing the same
        # sub-plan and the snapshot shows an InMemoryRelation instead
        # of the query's own standalone plan
        from tradesignal_mtm_runner_spark.cache_registry import release_caches

        release_caches()
        df = registry[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        df.collect()  # finalize the adaptive plan so codegen ids exist
        simple = df._jdf.queryExecution().executedPlan().toString()
        out += [
            f"## {name}",
            "",
            f"_{note}_",
            "",
            f"**Scorecard:** {scorecard(plan, simple)}",
            "",
            "```",
            plan.rstrip(),
            "```",
            "",
        ]
    dest = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLANS.md")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {dest} ({len(SNAPSHOT)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
