"""Plan-shape regression tests (SURVEY §5): scale properties that
sf0.001 results can't see — pushdown, pruning, broadcast, shuffle
count — pinned as assertions. Bounds are conservative so AQE runtime
re-planning can't flake them."""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tradesignal_mtm_runner_spark import plans as P
from tradesignal_mtm_runner_spark.queries import ALL_QUERIES


def _df(spark, name):
    return ALL_QUERIES[name](spark, SF_SMOKE)


def test_q6_filters_reach_scan_and_columns_prune(spark):
    df = _df(spark, "q6_revenue_delta")
    assert len(P.pushed_filters(df)) >= 3, "date/discount/quantity must push down"
    (schema,) = P.read_schemas(df)
    assert len(schema) <= 4, f"q6 needs 4 lineitem columns, scan reads {schema}"


def test_q5_small_dims_broadcast(spark):
    """nation/region carry explicit hints (bounded dims); supplier
    grows with SF so its broadcast is stats-driven at this SF."""
    df = _df(spark, "q5_local_supplier")
    assert P.broadcast_join_count(df) >= 3
    assert P.broadcast_hint_count(df) <= 2  # nation + region only
    assert P.exchange_count(df) <= 2


def test_q3_broadcasts_and_bounded_shuffles(spark):
    df = _df(spark, "q3_shipping_priority")
    assert P.broadcast_join_count(df) >= 1
    assert P.exchange_count(df) <= 2


def test_mtm_window_chain_single_shuffle(spark):
    """The whole declarative MTM pipeline must reuse ONE per-symbol
    hash partitioning: timeline, summary and sessionize each cost
    exactly one exchange no matter how many window functions stack."""
    for name in ["mtm_timeline", "mtm_summary", "events_sessionize"]:
        assert P.exchange_count(_df(spark, name)) == 1, name


def test_exact_dedup_single_aggregate_shuffle(spark):
    assert P.exchange_count(_df(spark, "dedup_exact")) == 1


def test_asof_join_pushdown(spark):
    df = _df(spark, "asof_join")
    assert len(P.pushed_filters(df)) >= 1
    assert P.exchange_count(df) <= 2


def test_mtm_timeline_codegen(spark):
    assert P.codegen_stage_count(_df(spark, "mtm_timeline")) >= 1


def test_ivf_assignment_is_shuffle_free(spark):
    """IVF cell assignment must be a single Arrow pass (closure-held
    centroids): the ONLY shuffle allowed is the final top-k window
    (+ AQE bookkeeping), and the probe side must broadcast."""
    df = _df(spark, "ann_ivf_topk")
    assert P.exchange_count(df) <= 2
    assert P.broadcast_join_count(df) >= 1


def test_ivf_no_literal_blowup_at_realistic_size(spark):
    """C=256 centroids x dim=128 (VERDICT r1 item 4): the round-1
    literal-unrolled form put C x dim = 32k literal nodes into the
    plan and hit codegen pathology; the closure-based assignment must
    keep the plan small AND execute."""
    from pyspark.sql import functions as F

    from tradesignal_mtm_runner_spark.operators.similarity import ivf_topk

    emb = spark.range(0, 2000).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 128), j -> "
            "cast(pmod(id * 31 + j * 17, 97) as double) / 97.0 + 0.01)"
        ).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries, num_centroids=256, nprobe=4, k=3)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(plan) < 50_000, f"plan string exploded: {len(plan)} chars"
    rows = out.limit(200).collect()
    assert len(rows) == 15  # 5 queries x k=3


def test_text_quality_rides_the_scan(spark):
    assert P.exchange_count(_df(spark, "text_quality")) == 0


def test_q18_filter_shrinks_before_join(spark):
    df = _df(spark, "q18_large_orders")
    assert P.exchange_count(df) <= 2
    # the >threshold cut on the aggregate must appear in the plan as a
    # filter on the agg output, i.e. before any join consumes it
    assert "total_qty" in P.explain_str(df)


def test_range_join_is_hash_not_nested_loop(spark):
    """The binned range join's reason to exist: a pure range
    predicate must NOT plan as BroadcastNestedLoopJoin/Cartesian —
    the bucket key turns it into an ordinary equality join."""
    df = _df(spark, "events_error_burst")
    plan = P.explain_str(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "_bkt" in plan


def test_q4_exists_plans_as_semi_join(spark):
    """EXISTS must compile to a semi join (output bounded by the
    probe side), never an inner join + distinct."""
    plan = P.explain_str(_df(spark, "q4_order_priority"))
    assert "LeftSemi" in plan
    assert "Distinct" not in plan


def test_token_histogram_distributed_topk(spark):
    """The top-K cut must be TakeOrdered (distributed partial top-k),
    not a single-partition global-sort window."""
    plan = P.explain_str(_df(spark, "token_histogram"))
    assert "TakeOrderedAndProject" in plan


# --- C20+ pipeline extras ---------------------------------------------------

def _xdf(spark, name):
    return ALL_QUERIES[name](spark, SF_SMOKE)


def test_row_local_extras_ride_the_scan(spark):
    """train_val_split / pii_scrub / embedding_quantize /
    stratified_sample are pure projections+filters: zero shuffles at
    any scale."""
    for name in (
        "train_val_split",
        "pii_scrub",
        "embedding_quantize",
        "stratified_sample",
    ):
        assert P.exchange_count(_xdf(spark, name)) == 0, name


def test_contamination_eval_side_broadcasts(spark):
    """The eval n-gram set is small by construction and must be the
    broadcast side — never a big-big shuffle join against the train
    shingles."""
    df = _xdf(spark, "contamination_check")
    assert P.broadcast_join_count(df) >= 1
    plan = P.explain_str(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_sequence_pack_window_is_per_source(spark):
    """The packing cumsum must run per source shard: a global
    SinglePartition window would serialize the corpus."""
    plan = P.executed_plan_str(_xdf(spark, "sequence_pack"))
    assert "SinglePartition" not in plan
    assert P.exchange_count(_xdf(spark, "sequence_pack")) <= 2


def test_corpus_filter_single_pass_shape(spark):
    """Composition must not multiply scans unboundedly: the decision
    plan stays a bounded-DAG (broadcast for contamination, one hash
    window for dup) — and the whole thing still fits in a sane plan."""
    df = _xdf(spark, "corpus_filter_pipeline")
    assert P.broadcast_join_count(df) >= 1
    plan = P.explain_str(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_q19_disjunction_distributes_to_both_scans(spark):
    """The OR-of-ANDs predicate must be distributed: part-side
    conjuncts (brand/size) reach the part scan, the derived quantity
    envelope reaches the lineitem scan — not evaluated post-join
    only."""
    df = _xdf(spark, "q19_disjunctive_pushdown")
    pushed = " ".join(P.pushed_filters(df))
    assert "p_brand" in pushed or "p_size" in pushed
    assert "l_quantity" in pushed
    assert P.broadcast_join_count(df) >= 1


def test_q7_hints_only_bounded_dims(spark):
    """q8 principle (VERDICT r5 item 1): supplier, orders and
    customer all grow with SF — only the two nation copies (≤25 rows
    at any SF) may carry explicit broadcast hints. At this SF the
    stats estimate still broadcasts the small sides, so the physical
    plan keeps its map-side joins without any unconditional hint."""
    df = _xdf(spark, "q7_volume_shipping")
    assert P.broadcast_hint_count(df) <= 2  # n1 + n2 only
    assert P.broadcast_join_count(df) >= 3  # stats-driven at smoke SF
    plan = P.explain_str(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_bloom_prefilter_all_joins_broadcast(spark):
    """The bit set (bounded by BLOOM_M at any SF) is hint-broadcast
    per probe; the true-key mark grows with SF so it carries NO hint
    (stats still broadcast it at this SF). The probe side never
    shuffles for a join — the only exchange feeds the single-row
    aggregate."""
    df = _xdf(spark, "bloom_prefilter")
    assert P.broadcast_hint_count(df) == 3  # BLOOM_K bit lookups only
    assert P.broadcast_join_count(df) >= 4  # + stats-driven true-key mark
    plan = P.explain_str(df)
    assert "SortMergeJoin" not in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_cms_sketch_aggregates_partially(spark):
    """The D x W cell grid must come out of a partial (map-side)
    aggregate — bounded reduce state is the whole point of the
    sketch — and the estimation join must broadcast the cells."""
    df = _xdf(spark, "token_cms_topk")
    plan = P.explain_str(df)
    assert "partial_count" in plan, "cell counts must partial-aggregate"
    assert P.broadcast_join_count(df) >= 2  # cells + candidate set


def test_q13_aggregates_before_left_join(spark):
    """Order counts must aggregate BEFORE joining customers — the join
    input is one row per customer, not one per order (partial_count
    upstream of the join, and no order-row blowup at 100 TB)."""
    df = _xdf(spark, "q13_order_distribution")
    plan = P.explain_str(df)
    assert "partial_count" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_q17_no_scaling_hints(spark):
    """q8 principle (VERDICT r5 item 1): the brand part slice AND the
    per-part threshold relation both grow with SF, so neither may
    carry an explicit hint. Stats/AQE still broadcast both at this SF
    (the lineitem side stays map-side), but the static plan must
    leave that choice to the size estimate."""
    df = _xdf(spark, "q17_small_qty_revenue")
    assert P.broadcast_hint_count(df) == 0
    assert P.broadcast_join_count(df) >= 2  # stats-driven at smoke SF
    plan = P.explain_str(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_dedup_incremental_no_batch_broadcast_hint(spark):
    """The in-batch min-aggregate is batch-sized — a bootstrap batch
    is corpus-sized — so it must carry NO explicit broadcast hint
    (VERDICT r4 item 2): AQE may still broadcast it at runtime while
    it measures small, but the static plan must leave that choice to
    the size estimate, and the sort-merge fallback is co-partitioned
    on h (the aggregate's own shuffle key)."""
    df = _xdf(spark, "dedup_incremental")
    assert P.broadcast_hint_count(df) == 0
    assert P.exchange_count(df) <= 3
    plan = P.explain_str(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_q8_hints_only_bounded_dims(spark):
    """supplier and the type-filtered part slice grow with SF — only
    the nation/region-derived dims (≤25 rows at any SF) may carry
    explicit broadcast hints (ADVICE r4)."""
    df = _xdf(spark, "q8_market_share")
    assert P.broadcast_hint_count(df) <= 3  # region + cust_nation + supp_nation
    plan = P.explain_str(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan


# Per-query budget of EXPLICIT broadcast hints: only relations whose
# size is bounded at ANY scale factor may carry one — nation/region
# (≤25 rows by TPC-H construction), provably-1-row scalars (q15's
# ranked winner, q22's average), and the BLOOM_M-bounded bit set.
# Everything that grows with SF (supplier/customer/part/orders slices,
# per-part aggregates, true-key sets) must leave the join strategy to
# size estimates / AQE, which degrade gracefully where a hint OOMs.
_HINT_BUDGET = {
    "q1_pricing_summary": 0,
    "q3_shipping_priority": 0,
    "q4_order_priority": 0,
    "q5_local_supplier": 2,      # nation + region
    "q6_revenue_delta": 0,
    "q7_volume_shipping": 2,     # both nation copies
    "q8_market_share": 3,        # region + cust_nation + supp_nation
    "q9_profit_by_nation": 1,    # nation
    "q10_returned_items": 1,     # nation
    "q13_order_distribution": 0,
    "q14_promo_revenue": 0,
    "q15_top_supplier": 1,       # the 1-row ranked winner
    "q17_small_qty_revenue": 0,
    "q18_large_orders": 0,
    "q19_disjunctive_pushdown": 0,
    "q21_late_suppliers": 0,
    "q22_idle_customers": 1,     # the 1-row scalar average
    "top_customers_window": 1,   # nation
    "bloom_prefilter": 3,        # BLOOM_K probes of the BLOOM_M-bounded bit set
}


def test_tpch_family_hints_only_bounded_dims(spark):
    """Family-wide q8 principle (VERDICT r5 item 1): every TPC-H-style
    query's explicit-hint count stays within its bounded-dim budget,
    and none plans a nested-loop/cartesian."""
    for name, budget in _HINT_BUDGET.items():
        df = _xdf(spark, name)
        n = P.broadcast_hint_count(df)
        assert n <= budget, f"{name}: {n} explicit hints > budget {budget}"
        plan = P.explain_str(df)
        assert "CartesianProduct" not in plan, name
        if name != "q22_idle_customers":  # its 1-row scalar crossJoin is a BNLJ
            assert "NestedLoop" not in plan, name


def test_q22_anti_join_bounded(spark):
    """The idle-customer ANTI join's output is bounded by customers;
    the scalar average arrives via a 1-row broadcast, never a
    cartesian expansion."""
    plan = P.explain_str(_xdf(spark, "q22_idle_customers"))
    assert "LeftAnti" in plan or "left_anti" in plan.lower()
    assert "CartesianProduct" not in plan


def test_multimodal_decode_paths_never_shuffle_payloads(spark):
    """Every codec query is synthesis → decode riding the scan in
    Arrow-batched mapInPandas. The 100 TB invariant: payload BYTES
    never move between executors — only per-asset id/stat rows flow.
    Optimization r16 added a round-robin FAN-OUT of the id subset
    before each Python synthesis pass (the single-file scan is one
    partition at test SFs, which serialized the codec work; the
    fan-out is a no-op at cluster scale), so the pin is no longer
    "zero exchanges" but the exact contract: every Exchange in the
    plan is (a) round-robin — never keyed, nothing to skew — and
    (b) carries NO payload column, i.e. it sits BELOW the synthesis
    MapInPandas and moves only id rows."""
    import re

    for name in (
        "multimodal_pixels",
        "multimodal_audio",
        "multimodal_resize",
        "multimodal_frames",
        "multimodal_gif",
        "image_dhash",
        "audio_fingerprint",
        "multimodal_mpeg1",
    ):
        df = _xdf(spark, name)
        plan = P.explain_str(df)
        assert "MapInPandas" in plan, name
        # formatted mode: each node's detail block starts "(n) <Name>"
        # and lists its Input columns; split into blocks and check
        # every Exchange block
        blocks = re.split(r"\n\(\d+\) ", plan)
        ex_blocks = [b for b in blocks if b.startswith("Exchange")]
        for b in ex_blocks:
            assert "RoundRobinPartitioning" in b, (name, b.splitlines()[0])
            assert "payload" not in b, (name, b.splitlines()[:4])


def test_events_variant_single_aggregate_shuffle(spark):
    """VARIANT extraction rides the scan (parse_json + try_variant_get
    are row-local JVM expressions); the only exchange is the rollup
    aggregate — no inference pass, no join, no extra shuffle."""
    df = _xdf(spark, "events_variant")
    assert P.exchange_count(df) == 1, P.explain_str(df)
    plan = P.explain_str(df)
    assert "Join" not in plan


def test_rolling_beta_no_global_window(spark):
    """Every window partitions by symbol (never a global sort); the
    market relation is bounded by #days; no cartesian product."""
    df = _xdf(spark, "rolling_beta")
    plan = P.explain_str(df)
    assert "CartesianProduct" not in plan
    # no Window operator without a partition spec: a global window
    # would show 'Window [...], []' ordering over an empty partition
    import re

    for m in re.finditer(r"Window \[.*?\], \[(.*?)\]", plan):
        assert m.group(1).strip(), "global (unpartitioned) window found"


def test_sketch_rollup_second_level_is_tiny(spark):
    """The HLL rollup's second aggregate consumes the DAILY SKETCH
    relation (bounded by #days), never the raw events twice: exactly
    two aggregate exchanges in the plan."""
    df = _xdf(spark, "sketch_rollup_hll")
    assert P.exchange_count(df) <= 3, P.explain_str(df)


def test_feature_hashing_single_aggregate_shuffle(spark):
    """No vocabulary relation anywhere in the plan: explode + ONE
    (doc, bucket) aggregate exchange is the entire cost — the
    hashing trick's reason to exist at 100 TB."""
    df = _xdf(spark, "doc_feature_hashing")
    assert P.exchange_count(df) == 1
    plan = P.explain_str(df)
    assert "Join" not in plan


def test_incremental_near_probe_is_semi_join(spark):
    """The band probe must compile to a LEFT SEMI join (output bounded
    by the batch side) with no cartesian/nested-loop anywhere, and no
    explicit broadcast hint — the standing index grows with the
    corpus (same scale rule as dedup_incremental)."""
    df = _xdf(spark, "dedup_incremental_near")
    plan = P.explain_str(df)
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert P.broadcast_hint_count(df) == 0


def test_winnowing_rides_the_scan(spark):
    """Winnowing is row-local array algebra end-to-end: gram hashing,
    the sliding min, the set dedup and the checksum all run inside
    the scan stage — zero exchanges at any scale."""
    df = _xdf(spark, "doc_winnowing")
    assert P.exchange_count(df) == 0
    assert "Join" not in P.explain_str(df)


def test_repetition_bounded_aggregate_chain(spark):
    """One gram synthesis + explode, then a bounded aggregate chain
    (per-gram, per-kind, per-doc) — no join anywhere, no re-scan per
    gram kind."""
    df = _xdf(spark, "doc_repetition")
    assert P.exchange_count(df) <= 3
    plan = P.explain_str(df)
    assert "Join" not in plan


def test_classifier_scores_no_vocab_join(spark):
    """Linear quality-classifier inference over hashed features: no
    vocabulary relation anywhere (the hashing trick's point), just
    the feature aggregate chain — ≤2 exchanges, zero joins."""
    df = _xdf(spark, "quality_classifier_scores")
    assert P.exchange_count(df) <= 2
    assert "Join" not in P.explain_str(df)


def test_mixture_weights_bounded_global_window(spark):
    """The corpus reduces to #languages rows BEFORE the global
    window: the only SinglePartition stage operates on the bounded
    per-language aggregate, and the whole plan costs one data
    shuffle."""
    df = _xdf(spark, "corpus_mixture_weights")
    assert P.exchange_count(df) <= 1
    assert "Join" not in P.explain_str(df)


def test_no_raw_mkdtemp_outside_cache_registry():
    """Temp-dir hygiene (ADVICE r10, regressed + re-flagged r11): every
    scratch directory a query path mints must come from
    cache_registry.tracked_mkdtemp (atexit-registered rmtree). A raw
    tempfile.mkdtemp leaks one tree per invocation across repeated
    bench/pytest runs — grep-pin that none remain outside the helper's
    own definition."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    offenders = [
        str(py.relative_to(root))
        for py in (root / "tradesignal_mtm_runner_spark").rglob("*.py")
        if py.name != "cache_registry.py"
        and "tempfile.mkdtemp" in py.read_text()
    ]
    if "tempfile.mkdtemp" in (root / "bench.py").read_text():
        offenders.append("bench.py")
    assert offenders == [], offenders


def test_bookkeeper_is_one_exchange_sort_map_plan(spark):
    """run_mtm_bookkeeper (timeline and trades) and the blocked sweep
    build the one bookkeeper plan: exactly one Exchange, hash-
    partitioned on the cell key (symbol, plus _blk for a sweep), one
    in-partition Sort, one MapInPandas, and no grouped
    FlatMapGroupsInPandas (whose per-group Arrow round trips the plan
    exists to avoid)."""
    import re

    from tradesignal_mtm_runner_spark.config import PnlCalcConfig
    from tradesignal_mtm_runner_spark.mtm_shared import _signals
    from tradesignal_mtm_runner_spark.operators.bookkeeper import (
        run_mtm_bookkeeper,
        run_mtm_param_sweep_blocked,
    )

    sig = _signals(spark, SF_SMOKE)
    grid = {c: PnlCalcConfig.get_default() for c in "abc"}
    cases = [
        (run_mtm_bookkeeper(sig), ["symbol"]),
        (run_mtm_bookkeeper(sig, output="trades"), ["symbol"]),
        (run_mtm_param_sweep_blocked(sig, grid, block_size=1), ["symbol", "_blk"]),
        (run_mtm_param_sweep_blocked(sig, grid, block_size=8), ["symbol", "_blk"]),
    ]
    for df, key in cases:
        plan = P.explain_str(df, "simple")
        exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", plan)
        assert len(exchanges) == 1, plan
        kind, args = exchanges[0]
        assert kind == "hashpartitioning", plan
        assert [a.split("#")[0] for a in args.split(", ")[:-1]] == key, plan
        assert len(re.findall(r"\bSort \[", plan)) == 1, plan
        assert len(re.findall(r"\bMapInPandas\b", plan)) == 1, plan
        assert "FlatMapGroupsInPandas" not in plan
