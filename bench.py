"""Headline benchmark. Runs the flagship queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (r14 — VERDICT r13 items 1 and 5): the per-query map
grew past 70 keys, which overflowed the harness's 2000-byte stdout
tail capture and lost the machine-readable headline (BENCH_r13.json
``parsed: null``). So stdout now carries ONE COMPACT final JSON line —
total seconds, sf, query/error counts, sweep throughput, the
bookkeeper host anchor + drift ratio vs the previous round's artifact,
and a pointer to the detail file — while the FULL per-query map is
written to ``docs/BENCH_local_r{N}.json`` (round inferred from the
newest repo-root BENCH_r*.json, overridable via $SPARK_GRAFT_ROUND).
Set $SPARK_GRAFT_BENCH_DETAIL=1 to also print the full map line
(before the compact line, so the compact line stays last).

The ``anchor_bookkeeper_500k`` field is the Spark-FREE driver-side
numpy stress: for a fixed kernel it moves only when the HOST slows
down, so ``host_factor_vs_prev`` (this anchor / previous round's)
separates host drift from plan regressions without manual
normalization (the r6 and r13 cross-round reads both needed it by
hand). ``anchor_kernel`` names the kernel the anchor times; the factor
is only taken against an artifact of the same kernel.

Execution is forced with the noop sink so every column is computed
(count() would let Catalyst prune the expensive windows away).
"""

from __future__ import annotations

import glob as _glob
import json
import os
import re
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)


def _infer_round() -> int:
    """Current round number: env override, else newest driver artifact
    (BENCH_r{N}.json is written AFTER the round, so current = max + 1)."""
    env = os.environ.get("SPARK_GRAFT_ROUND", "")
    if env.isdigit():
        return int(env)
    ns = []
    for p in _glob.glob(os.path.join(_REPO, "BENCH_r*.json")):
        m = re.match(r"BENCH_r(\d+)\.json$", os.path.basename(p))
        if m:
            ns.append(int(m.group(1)))
    return max(ns) + 1 if ns else 0


#: names the simulate_symbol kernel the ``bookkeeper_500k_bars`` anchor
#: times. Change it whenever that kernel's code changes: its anchor then
#: moves with the code, not the host, and no host factor is taken
#: across the change.
ANCHOR_KERNEL = "event-jump"


def _prev_anchor(repo: str = _REPO) -> tuple[int, float] | None:
    """(round, anchor_bookkeeper_500k) from the newest prior artifact
    whose parsed compact line records the same ``anchor_kernel``.
    Artifacts of another kernel, or of none (every artifact before the
    tag), are skipped."""
    cands: list[tuple[int, str]] = []
    for p in _glob.glob(os.path.join(repo, "BENCH_r*.json")):
        m = re.match(r"BENCH_r(\d+)\.json$", os.path.basename(p))
        if m:
            cands.append((int(m.group(1)), p))
    for n, p in sorted(cands, reverse=True):
        # the whole per-candidate parse is guarded: a corrupt or
        # oddly-shaped artifact is skippable and must never kill the
        # bench AFTER the timing loop ran
        try:
            with open(p) as fh:
                parsed = json.load(fh)["parsed"]
            if parsed["anchor_kernel"] == ANCHOR_KERNEL and parsed["anchor_bookkeeper_500k"]:
                return n, float(parsed["anchor_bookkeeper_500k"])
        except Exception:  # noqa: BLE001
            continue
    return None

HEADLINERS = [
    "mtm_timeline",
    "mtm_summary",
    "trades_extract",
    "mtm_full_engine",
    "mtm_param_sweep",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "events_sessionize",
    "asof_join",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "simhash_pairs",
    "dedup_embedding",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "token_histogram",
    "skew_join_salted",
    "multimodal_decode",
    "mtm_streaming",
    # risk/tech-indicator family: first benched in round 4 (the bounded
    # 20-element EMA array fold had no sf0.1 numbers before)
    "risk_metrics",
    "trade_stats",
    "tech_indicators",
    # production-density strategy grid (round 5): 32 configs x all
    # symbols through the batched mapInPandas sweep — best-of-2
    # (SWEEP_BEST2), it's a throughput measurement, not a latency one
    "mtm_sweep_scale",
    # full pixel codec path (round 5): synthesize + decode real
    # PNG and JPEG payloads for every image id at the bench SF
    "multimodal_pixels",
    # streaming strategy-grid sweep (round 7): per-(symbol, config)
    # applyInPandasWithState replay — the streaming twin of the batch
    # sweep, best-of-2 (first run pays state-store setup)
    "mtm_sweep_stream",
    # cross-modality fingerprints (round 7): full decode + perceptual
    # hash for every image / audio id at the bench SF
    "image_dhash",
    "audio_fingerprint",
    # cross-modality near-dup PAIRS (round 8): the banded self-joins
    # over those fingerprints — the capped-band machinery's scaling
    # claim now gets a measured 10x point like the text dedup family
    "image_dhash_pairs",
    "audio_fp_pairs",
    # round-8/9 surface: warehouse history, profiling (exact + sketch
    # twin), matrix-free PCA, retrieval (lexical, hybrid, production
    # hybrid), boilerplate stripping
    "scd2_history",
    "table_profile",
    "approx_table_profile",
    "embedding_pca_power",
    "bm25_topk",
    "hybrid_search_rrf",
    "hybrid_bm25_pq_rrf",
    "boilerplate_segments",
    # round-9 surface: gibberish screen, corpus-health fit, keep-best
    # dedup decision, retention triangle, streaming trending top-k
    "doc_char_entropy",
    "token_zipf_fit",
    "dedup_keep_best",
    "retention_cohort",
    "stream_topk_trending",
    # round-10 surface: incremental CC dedup admission + contracted
    # refresh (live chains; the standing-index probe of the same
    # decision is timed separately as index_probe_cc)
    "dedup_cc_probe",
    "dedup_cc_refresh",
    "dedup_cc_probe_stream",
    "embedding_pca_topk",
    "text_normalize",
    # round-10 second batch: pair mining + iterative graph centrality
    # (the two corpus-sized ones; the transition/anomaly/DQ trio is
    # bounded-output and sub-second at bench SF)
    "basket_pairs",
    "copurchase_pagerank",
    # round-11 surface: the adapted TPC-H completion (q2/q11/q12/q16/
    # q20 — correlated min, global-scalar HAVING, late-flag agg,
    # anti-join NOT IN, nested semi-joins)
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q12_late_priority",
    "q16_supplier_counts",
    "q20_excess_suppliers",
    # round-11 pipeline surface: deterministic pre-training shuffle +
    # weighted mixture sampling (both RNG-service-free)
    "corpus_shuffle_shards",
    "corpus_weighted_sample",
    # round-11 streaming surface: SCD2 maintenance via foreachBatch
    # MERGE (the join twin stream_join_full_outer follows
    # stream_join_outer's precedent: state-store-dominated, covered by
    # the pytest equality pin rather than a bench entry)
    "scd2_stream",
    # round-11 warehouse rollups
    "user_rfm_segments",
    "events_seasonality",
    # round-12 pipeline surface: loader-ready shard packing
    "corpus_pack_shards",
    # round-13 surface: streaming shard packing (the C66 admission
    # twin — staging + replay + per-batch offset merges, timed whole)
    # and the MPEG-1 intra video codec path (synthesize + decode a
    # real elementary stream for every video id at the bench SF)
    "corpus_pack_shards_stream",
    "multimodal_mpeg1",
    # round-13 graph surface: degree-oriented triangle counting over
    # the co-purchase graph (corpus-sized lineitem scan + wedge join)
    "copurchase_triangles",
    # round-14 graph surface: k-core via iterated simultaneous peeling
    # (lineitem scan + peel-depth graph-sized rounds; the standing-
    # index probe of the same graph is timed as index_probe_triangles),
    # its streaming twin (whole-order micro-batches appending pair
    # partials, timed whole like corpus_pack_shards_stream), and the
    # item-item Jaccard top-k recommender precompute
    "copurchase_kcore",
    "copurchase_kcore_stream",
    "copurchase_topk_similar",
    # round-14 second batch: the graph suite completed — synchronous
    # self-vote LPA (9 lineage-cut rounds), clustering coefficients
    # (the oriented-triangle kernel + a degree LEFT join), and
    # hub-capped Adamic-Adar link prediction (wedge join + anti-join
    # + top-k window); all three share the persisted edge relation
    # with the earlier graph keys
    "copurchase_communities",
    "copurchase_clustering",
    "copurchase_link_predict",
    # the one-row graph health profile (degree-arithmetic wedges +
    # oriented-kernel triangle total) and the MinHash sketch-QA
    # calibration (signature compare + exact Jaccard, both
    # candidate-bounded)
    "copurchase_graph_profile",
    "minhash_calibration",
    # evaluation/report rollups composing registered stages: lang-ID
    # confusion metrics and the per-cluster dedup report
    "lang_id_confusion",
    "dedup_cluster_stats",
    # round-15 graph surface: min-label connected components (14
    # lineage-cut rounds), the LPA-communities stream twin (whole-order
    # micro-batches + support-cut fold + the shared LPA kernel, timed
    # whole), and the log2-bucket degree-distribution rollup
    "copurchase_components",
    "copurchase_communities_stream",
    "copurchase_degree_histogram",
    # round-15 second batch: per-edge embeddedness/overlap (shared
    # oriented-triangle enumeration, edge credits) and the per-doc
    # n-gram novelty curve (distinct-gram + first-seen aggregates)
    "copurchase_edge_embeddedness",
    "ngram_novelty",
    # incremental novelty admission (the dedup_cc_probe shape applied
    # to C72: base first-seen relation + shared kernel; the persisted
    # form is timed as index_probe_novelty)
    "ngram_novelty_probe",
    # round-16 surface: incremental components maintenance (live
    # split form — base converged CC + partial fold + contraction
    # refresh; the persisted form is timed as index_probe_components)
    # and the corpus novelty-saturation rollup (one shingle pass +
    # bucket aggregates)
    "copurchase_components_refresh",
    "novelty_saturation",
    # round-16 second batch: containment classification over the C2
    # band candidates (row-local set intersections) and the per-decile
    # lang mix-drift monitor (one aggregate + grid-bounded windows)
    "dedup_containment",
    "corpus_mix_drift",
    # round-17 surface: k-truss backbone (edge peeling over the shared
    # oriented-triangle kernel; the persisted form is timed as
    # index_probe_ktruss), the ANN recall eval (exact + IVF sides and
    # the per-query hit join), and the two-window mean-shift
    # changepoint screen (one corpus aggregate + grid windows)
    "copurchase_ktruss",
    "ann_recall_eval",
    "events_changepoint",
    # the changepoint replay twin (event-sliced micro-batches append
    # daily-count partials; fold + the identical detector tail)
    "events_stream_changepoint",
    # round-17 second wave: the exact hop-plot (iterated frontier
    # expansion — the oracle-groundable O(n²) form) and its HyperBall
    # sketch twin (O(n·64) rows/round — the 100× production path;
    # benching BOTH keeps the exact-vs-sketch cost ratio visible)
    "copurchase_hopplot",
    "copurchase_hyperball",
    # the one-row effective-diameter rollups (exact + sketch form)
    "copurchase_eff_diameter",
    "copurchase_eff_diameter_hb",
    # the k-truss stream twin (whole-order micro-batches + support-cut
    # fold + the shared peeling kernel, timed whole — the B56b shape)
    "copurchase_ktruss_stream",
]

#: benched best-of-TWO instead of best-of-3 (long-running throughput
#: entries; two runs because the streaming sweep's first run pays a
#: state-store setup cost with up to ~1.5x run-to-run spread at sf1 —
#: r9 isolated probe: 27.8 s then 18.6 s — so a single sample is
#: noise, while the third run buys little for its cost)
SWEEP_BEST2 = {"mtm_sweep_scale", "mtm_sweep_stream"}


#: core count of the headline runs; a run at any other count writes and
#: reads its own ``_c{cpus}`` detail slots
DEFAULT_CPUS = 32


def _detail_slot(rnd: int, cpus: int, sf_tag: str = "") -> str:
    """Repo-relative detail file of round ``rnd`` at ``cpus`` cores:
    ``docs/BENCH_local_r{N}{sf_tag}.json`` at DEFAULT_CPUS, else
    ``docs/BENCH_local_r{N}{sf_tag}_c{cpus}.json``, so a low-core run
    never lands in (or is read from) the headline slot."""
    c_tag = "" if cpus == DEFAULT_CPUS else f"_c{cpus}"
    return f"docs/BENCH_local_r{rnd:02d}{sf_tag}{c_tag}.json"


def _write_detail(rel: str, out: dict, repo: str = _REPO) -> None:
    """Write the full per-query map to the repo-relative ``rel``. A file
    there that records another ``cpus`` belongs to another run: it is
    kept, and FileExistsError is raised instead."""
    path = os.path.join(repo, rel)
    try:
        with open(path) as fh:
            held = json.load(fh).get("cpus")
    except (OSError, ValueError, AttributeError):
        held = None
    if held is not None and held != out["cpus"]:
        raise FileExistsError(
            f"{rel} records cpus={held}, not {out['cpus']}: not overwritten"
        )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


def _vs_prev_detail(
    rnd: int, cpus: int, timings: dict, repo: str = _REPO
) -> dict | None:
    """Round-over-round summary against the newest of the previous 3
    rounds' detail files measured at the SAME core count: geomean of
    per-key speedups over the common keys (the Spark-free bookkeeper
    anchor excluded — it measures the host) plus >10% regression/
    improvement counts. Each round's ``_detail_slot`` for ``cpus`` is
    read first, then its headline slot (older rounds wrote every core
    count there). A file qualifies only if it records the same
    ``cpus``: one without ``cpus`` has an unknown core count and is
    skipped, as are missing or unreadable files. Returns None when no
    file qualifies or the first qualifying one shares no key."""
    import math

    slots = [
        (rnd - back, rel)
        for back in (1, 2, 3)
        for rel in dict.fromkeys(
            (_detail_slot(rnd - back, cpus), _detail_slot(rnd - back, DEFAULT_CPUS))
        )
    ]
    for prev_rnd, prev_rel in slots:
        try:
            with open(os.path.join(repo, prev_rel)) as fh:
                prev = json.load(fh)
            prev_q = prev.get("queries") or {}
            if prev.get("cpus") is None or int(prev["cpus"]) != cpus or not prev_q:
                continue
            logs = []
            n_reg = n_imp = 0
            for k, v in timings.items():
                pv = prev_q.get(k)
                if k == "bookkeeper_500k_bars" or not pv or not v:
                    continue
                logs.append(math.log(pv / v))
                if v > pv * 1.10:
                    n_reg += 1
                elif v < pv * 0.90:
                    n_imp += 1
        except Exception:  # noqa: BLE001 - a missing/odd artifact
            continue  # is skippable; try the next slot
        if not logs:
            return None
        return {
            "prev_round": prev_rnd,
            "n_common": len(logs),
            "geomean_speedup": round(math.exp(sum(logs) / len(logs)), 3),
            "n_regressed_gt10pct": n_reg,
            "n_improved_gt10pct": n_imp,
        }
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(DEFAULT_CPUS))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from tradesignal_mtm_runner_spark.session import get_spark
    from tradesignal_mtm_runner_spark.queries import (
        ALL_QUERIES as registry,
        SWEEP_SCALE_CONFIGS,
    )

    spark = get_spark(app_name="bench", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warm-up on a trivial job so q1 doesn't pay the tax
    spark.range(1000).selectExpr("sum(id)").collect()

    # best-of-3 (best-of-2 for the SWEEP_BEST2 throughput entries):
    # this host shows multi-x transient load spikes from neighbors,
    # and streaming first runs pay state-store setup; the min across
    # passes reflects the plan cost rather than whoever was stealing
    # CPU, with codegen warm-up absorbed.
    # Per-query fault isolation: one broken query must cost one entry,
    # never the whole bench (r03 DNF'd on a single AnalysisException).
    from tradesignal_mtm_runner_spark.cache_registry import release_caches

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for rnd in range(3):
        for name in HEADLINERS:
            if name in errors:
                continue
            if name in SWEEP_BEST2 and rnd > 1:
                continue
            if name in SWEEP_BEST2:
                # measure the Python/Arrow-heavy sweeps on a clean
                # executor heap: the dedup family (timed earlier in the
                # pass) leaves persisted band relations pinned — 10x
                # larger at sf1 — which competed with the sweep's Arrow
                # batches for memory and inflated it 48.6 -> 70.2 s at
                # sf1 (r9 root-cause of the "sweep regression"; the
                # explode twin was always timed after the release below,
                # which is why it never drifted). Re-run dedup queries
                # in later passes simply re-persist.
                release_caches()
            fn = registry[name]
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - record and move on
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                timings.pop(name, None)
                continue
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
        # END-OF-PASS deep clean (r11): with 62 keys x 3 passes at sf1
        # the accumulated persists + per-invocation memory-sink temp
        # views exhausted the shared local-mode heap (GC-locker death at
        # ~820 s in the r11 sf1 run). Releasing between passes keeps
        # every pass starting from the same clean heap; keys that use
        # persists simply re-persist inside their own timing window,
        # which is the honest cold cost the r9 re-base already adopted.
        release_caches()
        for v in spark.catalog.listTables():
            if v.isTemporary:
                spark.catalog.dropTempView(v.name)
        spark.catalog.clearCache()

    # the Spark timing loop is done: release the caches the capped
    # dedup operators persist (tracked via cache_registry), so the
    # rest of the bench — and anything embedding it — runs against a
    # clean cache manager (ADVICE r7: persists had no release hook)
    release_caches()

    # single-group stress: one 500k-bar symbol through the bookkeeper
    # state machine (the per-task unit of the 100 TB sweep; driver-side
    # numpy, no Spark overhead in the measurement)
    import numpy as np

    from tradesignal_mtm_runner_spark.config import PnlCalcConfig
    from tradesignal_mtm_runner_spark.operators.bookkeeper import simulate_symbol

    rng = np.random.default_rng(7)
    n = 500_000
    ts = np.arange(n, dtype=np.float64) * 60.0
    close = 100.0 * np.exp(np.cumsum(rng.normal(0, 0.001, n)))
    buy = (rng.random(n) < 0.005).astype(np.int64)
    sell = (rng.random(n) < 0.005).astype(np.int64)
    cfg = PnlCalcConfig(
        roi={0: 0.05, 60: 0.02}, stoploss=-0.03, enable_short_position=True,
        max_position_per_symbol=3, fee_rate=0.001,
    )
    try:
        best = None
        for _ in range(2):
            t0 = time.time()
            simulate_symbol(ts, close, buy, sell, cfg)
            dt = round(time.time() - t0, 3)
            best = dt if best is None else min(best, dt)
        timings["bookkeeper_500k_bars"] = best
    except Exception as exc:  # noqa: BLE001
        errors["bookkeeper_500k_bars"] = f"{type(exc).__name__}: {exc}"[:500]

    # standing-index probes (VERDICT r6 item 6): the continual-ingest
    # hot path — index BUILT once untimed, the probe (the per-batch
    # production cost) timed best-of-3. Regressions in the
    # zero/one-shuffle probe plans now show in BENCH, not just in the
    # plan pins.
    import shutil

    from pyspark.sql import functions as F  # noqa: N812

    from tradesignal_mtm_runner_spark.cache_registry import tracked_mkdtemp
    from tradesignal_mtm_runner_spark.sources import load_table

    # a previous bench run (possibly another session) may have left the
    # managed tables' files behind without catalog entries — saveAsTable
    # then fails with LOCATION_ALREADY_EXISTS; clean both layers
    spark.sql("DROP DATABASE IF EXISTS bench_idx CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        os.path.join(wh.removeprefix("file:"), "bench_idx.db"),
        ignore_errors=True,
    )
    spark.sql("CREATE DATABASE bench_idx")

    def _time_probe(key: str, build, probe) -> None:
        try:
            build()
            best = None
            for _ in range(3):
                t0 = time.time()
                probe().write.format("noop").mode("overwrite").save()
                dt = round(time.time() - t0, 3)
                best = dt if best is None else min(best, dt)
            timings[key] = best
        except Exception as exc:  # noqa: BLE001
            errors[key] = f"{type(exc).__name__}: {exc}"[:500]

    from tradesignal_mtm_runner_spark.operators.dedup import (
        lsh_bands_from_wide,
        minhash_signatures_wide,
        probe_band_index,
        probe_hash_index,
        write_band_index,
        write_hash_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hashed = docs.select("doc_id", F.md5("text").alias("h"))

    def _build_hash() -> None:
        write_hash_index(
            hashed.filter(F.col("doc_id") % 4 != 0), "bench_idx.hash_idx"
        )
        (
            hashed.filter(F.col("doc_id") % 4 == 0)
            .write.bucketBy(32, "h")
            .sortBy("h")
            .mode("overwrite")
            .saveAsTable("bench_idx.hash_batch")
        )

    _time_probe(
        "index_probe_hash",
        _build_hash,
        lambda: probe_hash_index(
            spark, spark.table("bench_idx.hash_batch"), "bench_idx.hash_idx"
        ),
    )

    def _build_band() -> None:
        bands = lsh_bands_from_wide(
            minhash_signatures_wide(docs, num_hashes=16, shingle_k=3),
            num_bands=4,
            num_hashes=16,
        )
        write_band_index(
            bands.filter(F.col("doc_id") % 4 != 0), "bench_idx.band_idx"
        )
        (
            bands.filter(F.col("doc_id") % 4 == 0)
            .write.bucketBy(32, "band", "band_sig")
            .sortBy("band", "band_sig")
            .mode("overwrite")
            .saveAsTable("bench_idx.band_batch")
        )

    _time_probe(
        "index_probe_band",
        _build_band,
        lambda: probe_band_index(
            spark, spark.table("bench_idx.band_batch"), "bench_idx.band_idx"
        ),
    )

    from tradesignal_mtm_runner_spark.operators.similarity import (
        _centroid,
        probe_ivf_index,
        with_double_vec,
        write_ivf_index,
    )

    ivf_path = os.path.join(tracked_mkdtemp("bench_ivf_"), "ivf_idx")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def _build_ivf() -> None:
        cent_rows = with_double_vec(emb).orderBy("vec_id").limit(32).collect()
        cents = [
            _centroid(int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in cent_rows
        ]
        write_ivf_index(emb.filter(F.col("vec_id") % 4 != 0), ivf_path, cents)

    _time_probe(
        "index_probe_ivf",
        _build_ivf,
        lambda: probe_ivf_index(
            spark,
            emb.filter(F.col("vec_id") < 50),
            ivf_path,
            k=5,
            nprobe=4,
        ),
    )

    from tradesignal_mtm_runner_spark.operators.similarity import (
        probe_pq_index,
        write_pq_index,
    )

    pq_path = os.path.join(tracked_mkdtemp("bench_pq_"), "pq_idx")

    def _build_pq() -> None:
        write_pq_index(
            emb.filter(F.col("vec_id") % 4 != 0),
            pq_path,
            num_subspaces=4,
            num_codes=8,
        )

    _time_probe(
        "index_probe_pq",
        _build_pq,
        lambda: probe_pq_index(
            spark,
            emb.filter(F.col("vec_id") < 50),
            pq_path,
            k=5,
        ),
    )

    from tradesignal_mtm_runner_spark.functions.text import tokens as _toks
    from tradesignal_mtm_runner_spark.operators.dedup import (
        build_cc_index,
        cc_probe_from_index,
        simhash_signatures,
    )
    from tradesignal_mtm_runner_spark.queries_pipeline import (
        DEDUP_CC_ITERS,
        SIMHASH_MAX_BUCKET,
        SIMHASH_MAX_HAMMING,
    )

    def _build_cc() -> None:
        # once-per-refresh half: simhash the corpus, resolve CC labels,
        # persist the three bucketed tables + the staged batch
        build_cc_index(
            spark,
            docs.filter(F.col("doc_id") % 4 != 0),
            "bench_idx.cc_bands",
            "bench_idx.cc_labels",
            "bench_idx.cc_best",
            max_hamming=SIMHASH_MAX_HAMMING,
            max_bucket=SIMHASH_MAX_BUCKET,
            cc_iters=DEDUP_CC_ITERS,
        )
        lens = docs.select(
            "doc_id", F.size(_toks(F.col("text"))).alias("n_toks")
        )
        (
            simhash_signatures(docs.filter(F.col("doc_id") % 4 == 0))
            .join(lens, "doc_id")
            .write.mode("overwrite")
            .saveAsTable("bench_idx.cc_batch")
        )
        release_caches()

    _time_probe(
        "index_probe_cc",
        _build_cc,
        lambda: cc_probe_from_index(
            spark,
            spark.table("bench_idx.cc_batch"),
            "bench_idx.cc_bands",
            "bench_idx.cc_labels",
            "bench_idx.cc_best",
            max_hamming=SIMHASH_MAX_HAMMING,
        ),
    )

    from tradesignal_mtm_runner_spark.operators.lexical import (
        probe_bm25_index,
        write_bm25_index,
    )
    from tradesignal_mtm_runner_spark.queries_r8 import BM25_QUERIES, BM25_TOPK

    def _build_bm25() -> None:
        # once-per-corpus half: tokenize + persist postings/df/stats
        write_bm25_index(
            docs.filter(F.col("doc_id") % 4 != 0), "bench_idx.bm25_idx"
        )

    _time_probe(
        "index_probe_bm25",
        _build_bm25,
        lambda: probe_bm25_index(
            spark, BM25_QUERIES, "bench_idx.bm25_idx", k=BM25_TOPK
        ),
    )

    from tradesignal_mtm_runner_spark.operators.graph import (
        linkpred_from_index,
        topk_similar_from_index,
        triangles_from_index,
        write_edge_index,
    )
    from tradesignal_mtm_runner_spark.queries_r10b import _basket_pair_counts
    from tradesignal_mtm_runner_spark.queries_r14 import (
        SIMILAR_TOPK,
        basket_support,
    )
    from tradesignal_mtm_runner_spark.queries_r14b import (
        LINK_MAX_DEG,
        LINK_TOPK,
    )

    def _build_edges() -> None:
        # once-per-refresh half: the lineitem scan -> basket agg ->
        # support-cut pair agg (+ the basket-support sidecar column),
        # persisted as the standing graph
        baskets, pairs = _basket_pair_counts(spark, sf_dir)
        write_edge_index(
            pairs, "bench_idx.edge_idx", sup=basket_support(baskets)
        )
        release_caches()

    _time_probe(
        "index_probe_triangles",
        _build_edges,
        lambda: triangles_from_index(spark, "bench_idx.edge_idx"),
    )
    # the r14/r14b kernels probe the SAME standing graph — reuse the
    # build above (no second lineitem pass; the index is the shared
    # artifact)
    _time_probe(
        "index_probe_linkpred",
        lambda: None,
        lambda: linkpred_from_index(
            spark, "bench_idx.edge_idx", LINK_MAX_DEG, LINK_TOPK
        ),
    )
    _time_probe(
        "index_probe_topk_similar",
        lambda: None,
        lambda: topk_similar_from_index(
            spark, "bench_idx.edge_idx", SIMILAR_TOPK
        ),
    )
    from tradesignal_mtm_runner_spark.operators.graph import (
        append_to_edge_partials,
        component_labels_converged,
        components_refresh_probe,
        edges_from_partials,
        embeddedness_from_index,
        write_component_labels,
        write_edge_partials,
    )
    from tradesignal_mtm_runner_spark.queries_r10b import BASKET_MIN_SUP
    from tradesignal_mtm_runner_spark.sinks import write_bucketed

    # probe batch = 1/16 of orders — a crawl-drop-sized ingest unit,
    # NOT the live B65 query's 1/3 oracle split: the probe times the
    # per-batch PRODUCTION cost, and the contraction's whole point is
    # that this cost follows the batch (a 1/3-of-corpus "batch" made
    # the mini-CC graph a third of the full graph and the probe read
    # slower than the live recompute at sf1 — measured r16). The batch
    # items are STAGED as their own table (a batch arrives as its own
    # files in production — the hash_batch convention), so the probe
    # never filters the full lineitem.
    PROBE_BATCH_MOD = 16

    def _build_components() -> None:
        # once-per-rebuild half: base-order pair partials + the folded
        # base edge set + its CONVERGED component labels, all persisted;
        # the batch's partials appended (ingest) and its items staged.
        # The probe is then the per-batch production cost: batch pair
        # gen, semi-join-restricted fold, delta, contraction refresh —
        # zero full-corpus bytes, zero full-depth propagation (the r15
        # index_probe_components re-ran all propagation rounds and cost
        # MORE than the live query; VERDICT r15 item 6).
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        batch_li = li.filter(F.col("l_orderkey") % PROBE_BATCH_MOD == 0)
        write_edge_partials(
            li.filter(F.col("l_orderkey") % PROBE_BATCH_MOD != 0),
            "bench_idx.comp_partials",
        )
        base_edges = edges_from_partials(
            spark, "bench_idx.comp_partials", BASKET_MIN_SUP
        ).select("part_a", "part_b")
        spark.sql("DROP TABLE IF EXISTS bench_idx.comp_base_edges")
        write_bucketed(
            base_edges,
            "bench_idx.comp_base_edges",
            bucket_cols=["part_a"],
            num_buckets=32,
            sort_cols=["part_a", "part_b"],
            mode="overwrite",
        )
        write_component_labels(
            component_labels_converged(
                spark.table("bench_idx.comp_base_edges")
            ),
            "bench_idx.comp_labels",
        )
        append_to_edge_partials(batch_li, "bench_idx.comp_partials")
        spark.sql("DROP TABLE IF EXISTS bench_idx.comp_batch_items")
        batch_li.write.mode("overwrite").saveAsTable(
            "bench_idx.comp_batch_items"
        )
        release_caches()

    _time_probe(
        "index_probe_components",
        _build_components,
        lambda: components_refresh_probe(
            spark,
            "bench_idx.comp_partials",
            "bench_idx.comp_base_edges",
            "bench_idx.comp_labels",
            spark.table("bench_idx.comp_batch_items"),
            BASKET_MIN_SUP,
        ),
    )
    _time_probe(
        "index_probe_embeddedness",
        lambda: None,
        lambda: embeddedness_from_index(spark, "bench_idx.edge_idx"),
    )
    from tradesignal_mtm_runner_spark.operators.graph import ktruss_from_index
    from tradesignal_mtm_runner_spark.queries_r17 import (
        KTRUSS_K,
        KTRUSS_PEELS,
    )

    _time_probe(
        "index_probe_ktruss",
        lambda: None,
        lambda: ktruss_from_index(
            spark, "bench_idx.edge_idx", KTRUSS_K, KTRUSS_PEELS
        ),
    )
    from tradesignal_mtm_runner_spark.operators.graph import (
        hyperball_from_index,
    )
    from tradesignal_mtm_runner_spark.queries_r17 import HOP_T

    _time_probe(
        "index_probe_hyperball",
        lambda: None,
        lambda: hyperball_from_index(spark, "bench_idx.edge_idx", HOP_T),
    )

    from tradesignal_mtm_runner_spark.operators.novelty import (
        probe_novelty_index,
        write_novelty_index,
    )
    from tradesignal_mtm_runner_spark.queries_r15 import NOVELTY_N

    def _build_novelty() -> None:
        # once-per-refresh half: one corpus shingling pass persisted as
        # the first-seen partials; the probe scores the top third of
        # doc_ids (the live query's batch) at batch-proportional cost
        d = load_table(spark, sf_dir, "documents")
        max_id = d.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        write_novelty_index(
            d.filter(F.col("doc_id") <= (int(max_id) * 2) // 3),
            "bench_idx.novelty_idx",
            NOVELTY_N,
        )
        release_caches()

    def _probe_novelty():
        d = load_table(spark, sf_dir, "documents")
        max_id = d.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        return probe_novelty_index(
            spark,
            d.filter(F.col("doc_id") > (int(max_id) * 2) // 3),
            "bench_idx.novelty_idx",
            NOVELTY_N,
        )

    _time_probe("index_probe_novelty", _build_novelty, _probe_novelty)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # the detail artifact records its core count so a later
        # comparison never mixes a 32-core and an 8-core run (the
        # driver's r16 low-cpu pass overwrote the r17 detail slot)
        "cpus": int(cpus),
    }
    if "mtm_sweep_scale" in timings:
        out["sweep_configs_per_sec"] = round(
            len(SWEEP_SCALE_CONFIGS) / timings["mtm_sweep_scale"], 2
        )
    # measurement-definition changes, so cross-round readers compare
    # like to like (VERDICT r16 item 2)
    out["redefined_keys"] = {
        "index_probe_components": (
            "r16 redefinition: times components_refresh_probe over "
            "partials+labels+batch tables; r15 and earlier timed "
            "components_from_index over a prebuilt edge index — "
            "r15->r16 deltas on this key are not comparable"
        )
    }
    # per-config reference for the blocked sweep: the same grid at
    # block_size=1 (bars replicated once per config through the
    # shuffle), timed once; reported as separate fields so the headline
    # total still measures only the shipped k=8 sweep.
    # Full memory cleanup first: three bench rounds leave one memory-
    # sink TEMP VIEW per streaming query per round (each round mints a
    # fresh sink name), and those tables live in the unified memory
    # pool outside cache_registry's tracking — at sf1 the accumulation
    # tipped the bars x 32 shuffle into UNABLE_TO_ACQUIRE_MEMORY.
    # Everything timed is done; drop it all.
    try:
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
    except Exception:  # noqa: BLE001 - cleanup must not fail the bench
        pass
    spark.catalog.clearCache()
    try:
        from tradesignal_mtm_runner_spark.mtm_shared import _signals
        from tradesignal_mtm_runner_spark.operators.bookkeeper import (
            run_mtm_param_sweep_blocked,
            summarize_timeline,
        )

        t0 = time.time()
        summarize_timeline(
            run_mtm_param_sweep_blocked(
                _signals(spark, sf_dir), SWEEP_SCALE_CONFIGS, block_size=1
            ),
            group_cols=["symbol", "config_id"],
        ).write.format("noop").mode("overwrite").save()
        dt = round(time.time() - t0, 3)
        out["sweep_explode_secs"] = dt
        out["sweep_explode_configs_per_sec"] = round(
            len(SWEEP_SCALE_CONFIGS) / dt, 2
        )
    except Exception as exc:  # noqa: BLE001
        errors["mtm_sweep_scale_explode"] = f"{type(exc).__name__}: {exc}"[:500]
    if errors:
        out["errors"] = errors

    # host-drift anchor (VERDICT r13 item 5): the Spark-free bookkeeper
    # stress vs the previous round's artifact
    anchor = timings.get("bookkeeper_500k_bars")
    out["anchor_bookkeeper_500k"] = anchor
    out["anchor_kernel"] = ANCHOR_KERNEL
    prev = _prev_anchor()
    if anchor and prev:
        out["host_factor_prev_round"] = prev[0]
        out["host_factor_vs_prev"] = round(anchor / prev[1], 3)

    # full per-query detail -> docs/ (the committed, judge-readable
    # artifact); stdout gets the compact line the 2000-byte tail can
    # always hold (VERDICT r13 item 1)
    rnd = _infer_round()

    # round-over-round summary in the COMPACT line (VERDICT r16 item
    # 2): the stdout tail capture is 2000 bytes, so the full 100+-key
    # map cannot ride it — instead the machine-readable contract is
    # the anchor-normalizable aggregate over ALL common keys of the
    # previous round's detail file, computed the way the r16 verdict
    # did it by hand (geomean of per-key speedups; the Spark-free
    # bookkeeper anchor is excluded — it measures the HOST and is
    # reported separately as host_factor_vs_prev).
    vs_prev = (
        _vs_prev_detail(rnd, int(cpus), timings) if out["sf"] == 0.1 else None
    )
    if vs_prev is not None:
        out["vs_prev_detail"] = vs_prev
    sf_tag = "" if out["sf"] == 0.1 else f"_sf{sf}"
    detail_rel = _detail_slot(rnd, int(cpus), sf_tag)
    try:
        _write_detail(detail_rel, out)
    except OSError as exc:  # read-only checkout must not fail the bench
        errors["detail_file"] = f"{type(exc).__name__}: {exc}"[:200]
        detail_rel = None
    # refresh AFTER the detail-write attempt so the (optional) full
    # stdout line and the compact line agree on the error set even
    # when the detail write itself was the first error
    if errors:
        out["errors"] = errors

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "n_queries": len(timings),
        "n_errors": len(errors),
        # the flagship stays machine-readable in the artifact itself
        "queries": {
            k: v
            for k, v in timings.items()
            if k in ("mtm_timeline", "bookkeeper_500k_bars")
        },
        "detail_file": detail_rel,
    }
    for k in (
        "sweep_configs_per_sec",
        "sweep_explode_secs",
        "sweep_explode_configs_per_sec",
        "anchor_bookkeeper_500k",
        "anchor_kernel",
        "host_factor_prev_round",
        "host_factor_vs_prev",
        "cpus",
        "vs_prev_detail",
    ):
        if k in out:
            compact[k] = out[k]
    if errors:
        compact["error_keys"] = sorted(errors)[:10]
    if os.environ.get("SPARK_GRAFT_BENCH_DETAIL") == "1":
        print(json.dumps(out))
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
