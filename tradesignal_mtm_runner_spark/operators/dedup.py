"""Deduplication operators for the documents pipeline.

Scale design (100 TB of documents):
- exact dedup is one hash-aggregate — a single shuffle on md5(text);
  map-side partial aggregation keeps the shuffle tiny.
- near-dup is MinHash + LSH banding: shingle -> k seeded min-hashes ->
  b band signatures -> candidate pairs join within equal band buckets.
  Cost is O(docs x shingles x k) map-side work plus a shuffle keyed on
  (band, signature); no O(n^2) pair enumeration ever materializes.
  Giant buckets (pathological near-identical corpora) are the known
  LSH hot spot — AQE skew-join splits them, and ``max_bucket`` lets
  callers drop degenerate buckets outright.
- hashing is md5-hex (lexicographic min), bit-identical in DuckDB, so
  every step is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache_registry import persist_tracked

from ..functions.text import shingle_set, shingles, tokens
from .graph import min_label_components, symmetrize


def _fan_out(df: DataFrame, rows_per_task: int | None = None) -> DataFrame:
    """Spread a small single-file scan across all cores before
    CPU-heavy per-row work (one parquet row group is unsplittable).
    No-op at cluster scale where the scan already has enough
    partitions — and on STREAMING frames, whose partitioning is the
    source's business (``df.rdd`` is illegal there; the decode-at-
    ingest query routes the multimodal attach paths through here on
    an unbounded frame).

    ``rows_per_task`` (optimization r17, guide §2 — partitioning must
    be WORK-adaptive, not a constant per core count): when set, the
    fan-out is capped at ceil(n_rows / rows_per_task) partitions, so
    a relation whose per-row work is cheap is never shredded into
    ``defaultParallelism`` near-empty tasks (the r16 media fan-out
    regressed the five light codec keys 2-3x at sf0.1 exactly this
    way — 32 tiny tasks cost more scheduling than one core's worth of
    synthesis). The row count is only taken when the input is
    under-partitioned (the local/small case); a cluster-scale scan
    short-circuits before it, so the extra count job never touches a
    corpus-sized relation. Callers size ``rows_per_task`` to their
    per-row cost; ``None`` keeps the original full fan-out (the
    text/vector paths, whose per-row work is heavy at any count)."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    cur = df.rdd.getNumPartitions()
    target = sc.defaultParallelism
    if cur >= target:
        return df
    if rows_per_task is not None:
        n = df.count()
        target = min(target, max(1, -(-n // rows_per_task)))
        if target <= cur:
            return df
    return df.repartition(target)


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per distinct content: canonical (min) id, group size.

    NULL text is UNKNOWN content, not equal content: md5(NULL) is NULL
    and groupBy treats NULLs as equal, so failed-extraction docs were
    collapsing into one "duplicate" group and exact_dedup silently
    deleted all but one of them (review r12). Each null-text doc now
    forms its own singleton group."""
    content_hash = F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("null-text:"), F.col(id_col).cast("string")),
    )
    return (
        df.select(F.col(id_col), content_hash.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_duplicates"),
        )
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The deduplicated dataset: keeps the min-id row per content hash."""
    w_min = exact_dedup_groups(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(w_min, on=id_col, how="inner")


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, shingle) distinct pairs (exploded long form)."""
    return (
        df.select(F.col(id_col), F.explode(shingles(tokens(F.col(text_col)), k)).alias("shingle"))
        .distinct()
    )


def doc_shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, sh_set array) — row-local, zero shuffles. Docs with fewer
    than k tokens carry an empty array; downstream explode() drops
    them (matching the oracle's UNNEST) and candidate pairs can never
    reference them. Deliberately NO size()>0 filter here: the
    optimizer substitutes the filter through the projection and
    re-evaluates the whole (interpreted) shingle expression per
    predicate — measured 3x the per-row cost, single-threaded below
    the fan-out exchange."""
    return df.select(
        F.col(id_col), shingle_set(F.col(text_col), k).alias("sh_set")
    )


def minhash_signatures_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
    sh_sets: DataFrame | None = None,
) -> DataFrame:
    """(id, m0..m{k-1}): per seed i, the lexicographic-min
    md5(i || ':' || shingle). Seeded rehashing simulates k independent
    hash functions; min over hex strings is portable.

    Plan shape matters here: the distinct shingle set is built
    row-locally, then EXPLODED so the k seeded md5 columns evaluate
    inside whole-stage codegen — higher-order-function lambdas
    (transform/aggregate) are interpreted per element in Spark, and
    hashing inside them measured ~10-60x slower than the identical
    hash in a codegen projection over exploded rows. The k min
    aggregates are map-side combinable, so the one shuffle carries
    ~#docs rows x k strings, never #shingles x k.

    Small single-file inputs are fanned out to defaultParallelism
    before the CPU-heavy hashing (the parquet row group is
    unsplittable, so a 1-file table otherwise pins one core); at
    cluster scale the scan already has >= that many partitions and
    the fan-out never fires.

    ``sh_sets`` (optimization r16): a caller that ALSO needs the
    per-doc shingle-set relation (the exact-Jaccard verify step)
    passes its — typically persisted — (id, sh_set) frame here so the
    tokenize+shingle corpus pass runs once per query instead of once
    per consumer; semantics are identical to building it inline."""
    sh = (
        sh_sets
        if sh_sets is not None
        else doc_shingle_sets(_fan_out(df), id_col, text_col, shingle_k)
    ).select(id_col, F.explode("sh_set").alias("shingle"))
    hcols = [
        F.md5(F.concat_ws(":", F.lit(i), F.col("shingle"))).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    return (
        sh.select(id_col, *hcols)
        .groupBy(id_col)
        .agg(*[F.min(f"_h{i}").alias(f"m{i}") for i in range(num_hashes)])
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, seed, minhash) long form — thin unpivot over the wide
    aggregate (kept for API compatibility and tests)."""
    wide = minhash_signatures_wide(df, id_col, text_col, num_hashes, shingle_k)
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("seed"), F.col(f"m{i}").alias("minhash"))
            for i in range(num_hashes)
        ]
    )
    return wide.select(id_col, F.explode(pairs).alias("sm")).select(
        id_col, F.col("sm.seed").alias("seed"), F.col("sm.minhash").alias("minhash")
    )


def lsh_bands_from_wide(
    signatures_wide: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 4,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, band, band_sig) computed row-wise from the wide signature —
    no extra shuffle (band b holds seeds b, b+bands, ... in seed
    order, identical to the long-form path / DuckDB oracle)."""
    entries = []
    for b in range(num_bands):
        seeds = [i for i in range(num_hashes) if i % num_bands == b]
        if not seeds:
            # num_bands > num_hashes leaves this band seedless; the
            # long form simply never produces it (seed % num_bands
            # can't reach b). Emitting md5('') here instead gave every
            # doc an IDENTICAL signature — one universal bucket and an
            # O(n²) pair explosion (review r12).
            continue
        sig = F.md5(F.concat_ws(",", *[F.col(f"m{i}") for i in seeds]))
        entries.append(F.struct(F.lit(b).alias("band"), sig.alias("band_sig")))
    return signatures_wide.select(
        id_col, F.explode(F.array(*entries)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.band_sig").alias("band_sig"))


def lsh_bands(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 4,
) -> DataFrame:
    """(id, band, band_sig): md5 over the band's minhashes in seed order."""
    banded = signatures.withColumn("band", F.col("seed") % num_bands)
    return (
        banded.groupBy(id_col, "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                        lambda x: x["minhash"],
                    ),
                )
            ).alias("band_sig")
        )
    )


def _drop_hot_buckets(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """The shared hot-bucket guard (review r12: previously copy-pasted
    at four sites): persist ``df`` (the count branch and the consumer
    branch share one computation of the expensive upstream pipeline),
    find over-cap keys with a CHEAP COUNT aggregate, and LEFT ANTI
    them away before any join/collect can materialize a degenerate
    bucket. The cap counts ROWS by design — per-key aggregate state is
    one long, never an id set (countDistinct would rebuild exactly the
    O(B)-per-key state this guard exists to avoid); callers that feed
    duplicated (key, id) rows — tolerated for pair correctness via
    array_distinct — should size the cap for row multiplicity."""
    df = persist_tracked(df)
    hot = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > cap)
        .select(*keys)
    )
    out = df.join(hot, keys, "left_anti")
    # tag the cap on the returned wrapper (ADVICE r16): the shared-
    # bands consumers (simhash_near_dup_pairs / simhash_cross_pairs /
    # write_simhash_band_index) cross-check it against their own
    # max_bucket so a precomputed relation capped differently fails
    # loud instead of silently changing output
    out._tms_bucket_cap = cap  # noqa: SLF001
    return out



def _check_bands_cap(bands: DataFrame, max_bucket: int | None, who: str) -> None:
    """Fail-loud guard for the shared precomputed ``bands`` relations
    (ADVICE r16): a caller passing a relation capped differently from
    the ``max_bucket`` it still declares would silently change bucket
    behavior — the cap rides the relation as ``_tms_bucket_cap``
    (set by :func:`_drop_hot_buckets`; absent = uncapped)."""
    cap = getattr(bands, "_tms_bucket_cap", None)
    if cap != max_bucket:
        raise ValueError(
            f"{who}: precomputed bands relation carries bucket cap "
            f"{cap!r} but max_bucket={max_bucket!r} was declared — "
            "apply the same _drop_hot_buckets cap you declare (or "
            "declare none); a mismatched cap silently changes output"
        )


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str = "doc_id", max_bucket: int | None = None
) -> DataFrame:
    """Distinct (id_a, id_b) with id_a < id_b sharing >=1 band bucket.

    Shape (r7): with a cap, hot buckets are pre-filtered by a CHEAP
    COUNT aggregate (per-key state = one long, never an id array) and
    dropped via LEFT ANTI against the tiny over-cap key set BEFORE the
    collect — so no aggregation task ever materializes a degenerate
    bucket's full id array (the r6 shape collected first and filtered
    after, concentrating O(B) ids on one task). The surviving buckets
    collect their member ids once and the pairs expand ROW-LOCALLY
    from the sorted array — no self-join, so the (expensive) upstream
    band pipeline feeds one consumer; the cap path persists the bands
    relation so the count branch and the collect branch share one
    computation (Pregel-style, LRU-evicted later). No bucket can
    produce more than ~max_bucket^2/2 pairs (a degenerate bucket of B
    docs otherwise yields B^2/2 — the 100 TB guard,
    tests/test_scale_patterns.py). With max_bucket=None the aggregate
    state is bucket-sized — pass a cap on untrusted corpora.
    ``array_distinct`` before expansion keeps duplicated
    (band, band_sig, id) input rows (tolerated public API) from
    emitting self-pairs."""
    if max_bucket is not None:
        bands = _drop_hot_buckets(bands, ["band", "band_sig"], max_bucket)
    buckets = bands.groupBy("band", "band_sig").agg(
        F.array_sort(F.array_distinct(F.collect_list(F.col(id_col)))).alias("_ids")
    )
    ids = F.col("_ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.filter(F.size("_ids") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def pair_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    sh_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (the verify step
    after LSH).

    Shingle sets are row-local array columns; the intersection is a
    row-local array_intersect. The candidate relation carries NO
    explicit broadcast hint: although tiny after LSH on realistic
    corpora, it grows with the corpus (and quadratically inside a
    degenerate hot bucket — see ``lsh_candidate_pairs(max_bucket=)``),
    so the join strategy is left to stats/AQE, which broadcast it
    while it measures small and degrade to a shuffle join when it
    doesn't (VERDICT r5 item 4). The earlier shingle co-occurrence
    self-join (sh JOIN sh ON shingle) exploded quadratically on
    common shingles (272 s at sf0.1 vs ~3 s for this plan) and never
    survives scale. ``sh_sets`` (optimization r16): callers that
    already built the per-doc shingle-set relation for the signature
    pass hand it in so the corpus is tokenized + shingled once per
    query."""
    if sh_sets is None:
        sh_sets = doc_shingle_sets(_fan_out(df), id_col, text_col, shingle_k)
    p = pairs.select("id_a", "id_b")
    joined = (
        p.join(
            sh_sets.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("_sa")),
            on="id_a",
        )
        .join(
            sh_sets.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("_sb")),
            on="id_b",
        )
    )
    n_inter = F.size(F.array_intersect("_sa", "_sb"))
    return joined.select(
        "id_a",
        "id_b",
        (
            n_inter.cast("double")
            / (F.size("_sa") + F.size("_sb") - n_inter)
        ).alias("jaccard"),
    )


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document, carried as two 32-bit halves.

    Each distinct token hashes to 64 bits via md5 (hi = hex[0:8],
    lo = hex[8:16] parsed base-16 — portable to the DuckDB oracle);
    per bit position the +-1 votes are summed and the sign becomes the
    signature bit. Two BIGINT halves avoid signed-64 overflow in
    either engine. Token dedup is ROW-LOCAL (array_distinct before the
    explode) so the md5 hashing and bit votes all run map-side in the
    scan stage and the only shuffle is the final per-doc aggregate —
    a (doc, token) DISTINCT here would both add a shuffle and strand
    the hashing on AQE-coalesced post-shuffle partitions."""
    tok = _fan_out(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("w"),
    )
    hexs = F.md5(F.col("w"))
    h = tok.select(
        id_col,
        F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(hexs, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    aggs = []
    for half in ("hi", "lo"):
        for j in range(32):
            bit = F.shiftright(F.col(half), j).bitwiseAND(F.lit(1))
            aggs.append(F.sum(bit * 2 - 1).alias(f"s_{half}_{j}"))
    s = h.groupBy(id_col).agg(*aggs)

    def assemble(half: str):
        out = None
        for j in range(32):
            term = (
                F.when(F.col(f"s_{half}_{j}") >= 0, F.lit(1 << j).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            out = term if out is None else out + term
        return out

    return s.select(
        F.col(id_col),
        assemble("hi").alias("simhash_hi"),
        assemble("lo").alias("simhash_lo"),
    )


def simhash_band_rows(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The 4 x 16-bit band rows of a simhash signature relation —
    one row per (doc, band) with the band's 16-bit value. Shared by
    the in-corpus pair generator (simhash_near_dup_pairs) and the
    incremental cross-probe (simhash_cross_pairs) so both block on
    identical keys."""
    hi, lo = F.col("simhash_hi"), F.col("simhash_lo")
    return signatures.select(
        id_col,
        "simhash_hi",
        "simhash_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.shiftright(hi, 16).alias("val")),
                F.struct(F.lit(1).alias("band"), hi.bitwiseAND(F.lit(65535)).alias("val")),
                F.struct(F.lit(2).alias("band"), F.shiftright(lo, 16).alias("val")),
                F.struct(F.lit(3).alias("band"), lo.bitwiseAND(F.lit(65535)).alias("val")),
            )
        ).alias("bv"),
    ).select(
        id_col, "simhash_hi", "simhash_lo",
        F.col("bv.band").alias("band"), F.col("bv.val").alias("val"),
    )


def simhash_cross_pairs(
    sig_probe: DataFrame,
    sig_base: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 8,
    max_bucket: int | None = None,
    base_bands: DataFrame | None = None,
) -> DataFrame:
    """Cross-set near-dup probe: (probe_id, base_id, hamming) pairs
    between a NEW batch's simhash signatures and the BASE corpus's —
    the incremental twin of :func:`simhash_near_dup_pairs` (which
    pairs within one set). Blocking is the same 4 x 16-bit band
    equi-join; ``max_bucket`` caps hot bands on the BASE side only
    (matching what a capped standing index contains — probe rows
    landing on a dropped band simply find nothing). Output is bounded
    by |probe bands| x max_bucket, never O(base x batch).

    ``base_bands`` (optimization r16, guide §2.4): callers that also
    run :func:`simhash_near_dup_pairs` over the SAME base corpus
    (cc_probe/cc_refresh) may pass the capped base band relation once
    — persisted — instead of this function re-deriving and re-capping
    it (one count-aggregate + anti-join per call saved). Must be the
    output of simhash_band_rows(sig_base) with the SAME max_bucket cap
    already applied; ``sig_base``/``max_bucket`` are ignored then."""
    if base_bands is None:
        base_bands = simhash_band_rows(sig_base, id_col)
        if max_bucket is not None:
            base_bands = _drop_hot_buckets(
                base_bands, ["band", "val"], max_bucket
            )
    else:
        _check_bands_cap(base_bands, max_bucket, "simhash_cross_pairs")
    probe_bands = simhash_band_rows(sig_probe, id_col)
    a = probe_bands.select(
        F.col(id_col).alias("probe_id"),
        F.col("simhash_hi").alias("_hi_a"),
        F.col("simhash_lo").alias("_lo_a"),
        "band",
        "val",
    )
    b = base_bands.select(
        F.col(id_col).alias("base_id"),
        F.col("simhash_hi").alias("_hi_b"),
        F.col("simhash_lo").alias("_lo_b"),
        "band",
        "val",
    )
    ham = F.bit_count(F.col("_hi_a").bitwiseXOR(F.col("_hi_b"))) + F.bit_count(
        F.col("_lo_a").bitwiseXOR(F.col("_lo_b"))
    )
    return (
        a.join(b, on=["band", "val"])
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("probe_id", "base_id", "hamming")
        .distinct()
    )


def simhash_near_dup_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 8,
    max_bucket: int | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: 4 x 16-bit band blocking, then exact
    hamming via bit_count(xor). Pigeonhole guarantees a shared band
    only for hamming <= num_bands-1 = 3: with the default
    max_hamming=8 a pair CAN differ in all four bands (e.g. 2 bits in
    each) and is then never a candidate — the blocking is
    deliberately recall-lossy above 3 (review r12: the old text
    claimed a guarantee that does not hold); in practice real
    near-dups concentrate their differing bits and band recall stays
    high at tiny cost.
    Blocking is a band-keyed equi-join — never O(n^2) across the
    corpus, but a boilerplate-heavy crawl collapses near-identical
    docs onto identical 16-bit band values: ONE hot (band, val) of B
    docs yields B^2/2 join rows before the hamming filter.
    ``max_bucket`` closes that last O(B^2) hole (the MinHash and
    embedding generators have had the same guard since r6/r4): a
    cheap COUNT aggregate (per-key state = one long) finds over-cap
    band values and a LEFT ANTI drops them before any pair expansion;
    the bands relation is persisted so the count branch and the
    bucket aggregate share one computation of the (expensive)
    upstream signature pipeline. Docs in a dropped band still pair
    through their other 3 bands — recall degrades gracefully instead
    of the plan exploding (tests/test_scale_patterns.py plants a hot
    band).

    OPTIMIZATION r16 (guide §2.4): pairs expand ROW-LOCALLY from each
    surviving bucket's sorted member array (the lsh_candidate_pairs
    shape — one (band, val) aggregate) instead of the former
    band-keyed SELF-JOIN, removing one exchange of the bands relation
    and the join; the hamming filter applies inside the expansion
    before anything explodes. Identical output (exact parity measured
    at sf0.1: 4.0 s → 3.5 s for sig+pairs); per-bucket state stays
    bounded by ``max_bucket`` exactly as the join form's output was.

    ``bands`` (optimization r16, guide §2.4): callers that also run
    :func:`simhash_cross_pairs` / :func:`write_simhash_band_index`
    over the SAME corpus may pass the capped band relation once —
    persisted — instead of this function re-deriving and re-capping
    it. Must be simhash_band_rows(signatures) with the SAME
    max_bucket cap applied; ``signatures``/``max_bucket`` are ignored
    then."""
    if bands is None:
        bands = simhash_band_rows(signatures, id_col)
        if max_bucket is not None:
            bands = _drop_hot_buckets(bands, ["band", "val"], max_bucket)
    else:
        _check_bands_cap(bands, max_bucket, "simhash_near_dup_pairs")
    buckets = bands.groupBy("band", "val").agg(
        F.array_sort(
            F.array_distinct(
                F.collect_list(
                    F.struct(
                        F.col(id_col).alias("id"),
                        F.col("simhash_hi").alias("hi"),
                        F.col("simhash_lo").alias("lo"),
                    )
                )
            )
        ).alias("_ms")
    )
    ids = F.col("_ms")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.filter(
                F.transform(
                    F.slice(ids, i + 2, F.size(ids)),
                    lambda y: F.struct(
                        x["id"].alias("id_a"),
                        y["id"].alias("id_b"),
                        (
                            F.bit_count(x["hi"].bitwiseXOR(y["hi"]))
                            + F.bit_count(x["lo"].bitwiseXOR(y["lo"]))
                        ).cast("long").alias("hamming"),
                    ),
                ),
                # id_a != id_b guards the duplicated-(id, sig)-rows
                # tolerance: the join form's id_a < id_b predicate
                # never emitted self-pairs, and neither may this one
                lambda p: (p["hamming"] <= max_hamming)
                & (p["id_a"] != p["id_b"]),
            ),
        )
    )
    return (
        buckets.filter(F.size("_ms") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: minhash -> bands -> candidates
    (-> exact-jaccard filter when a threshold is given).
    ``max_bucket`` guards the degenerate hot bucket at scale: B docs
    sharing one (band, band_sig) bucket otherwise yield B^2/2
    candidate pairs (tests/test_scale_patterns.py plants one).
    With a threshold, the per-doc shingle-set relation is built ONCE
    (persisted) and shared between the signature pass and the
    exact-Jaccard verify (optimization r16 — this path previously
    tokenized + shingled the corpus twice)."""
    if jaccard_threshold is None:
        sig = minhash_signatures_wide(
            df, id_col, text_col, num_hashes, shingle_k
        )
        return lsh_candidate_pairs(
            lsh_bands_from_wide(sig, id_col, num_bands, num_hashes),
            id_col,
            max_bucket=max_bucket,
        )
    sh_sets = persist_tracked(
        doc_shingle_sets(_fan_out(df), id_col, text_col, shingle_k)
    )
    sig = minhash_signatures_wide(
        df, id_col, text_col, num_hashes, shingle_k, sh_sets=sh_sets
    )
    cand = lsh_candidate_pairs(
        lsh_bands_from_wide(sig, id_col, num_bands, num_hashes),
        id_col,
        max_bucket=max_bucket,
    )
    j = pair_jaccard(df, cand, id_col, text_col, shingle_k, sh_sets=sh_sets)
    return j.filter(F.col("jaccard") >= jaccard_threshold)


def connected_canonical(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    iters: int = 3,
    parts: int | None = None,
) -> DataFrame:
    """Canonical-id assignment over a near-dup pair graph, fixed-round
    entry: every doc gets the MINIMUM doc_id reachable within
    ``iters`` hops (min-label propagation — the dataframe form of
    connected components). With LSH near-dup graphs components are
    shallow (dup clusters, not chains), so a small fixed ``iters``
    converges. keep = (doc_id == canonical_id)
    materializes the deduplicated corpus selection.

    Both entries run operators/graph.min_label_components: the shared
    round loop (graph.fixpoint, per-round lineage cut) over the shared
    min-label step (graph.component_round — one edge join, one union,
    one doc-keyed aggregate). The symmetrized pair relation is
    SEMI-restricted to ``ids`` on dst once up front, so a foreign
    endpoint never enters the labelling. ``parts``: stage width for a
    caller that KNOWS the graph is small (the cc_refresh mini-CC over
    a batch-sized contracted graph), applied by explicit repartitions;
    corpus-scale callers leave it None and keep full width."""
    return _canonical(ids, pairs, id_col, rounds=iters, parts=parts)


def connected_canonical_converged(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 64,
) -> DataFrame:
    """Converged entry of :func:`connected_canonical`: rounds until no
    label changes. Near-dup components are usually shallow, but a
    near-dup CHAIN longer than the fixed unroll (each doc a near-dup
    of the next — templated spam, boilerplate drift) would silently
    SPLIT a cluster; the planted longer-than-unroll chain in
    tests/test_r16.py shows exactly that. Labels are monotone
    non-increasing, so the fixpoint is the exact component labeling,
    and ``max_iters`` fails loud rather than shipping split
    clusters."""
    return _canonical(ids, pairs, id_col, max_rounds=max_iters)


def _canonical(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str,
    rounds: int | None = None,
    max_rounds: int = 64,
    parts: int | None = None,
) -> DataFrame:
    sym = symmetrize(pairs, a="id_a", b="id_b").join(
        ids.select(F.col(id_col).alias("dst")), "dst", "left_semi"
    )
    labels = min_label_components(
        sym,
        ids.select(F.col(id_col).alias("node")),
        rounds,
        max_rounds,
        parts,
        name="connected_canonical_converged",
    )
    return labels.select(
        F.col("node").alias(id_col),
        F.col("label").alias("canonical_id"),
        (F.col("node") == F.col("label")).alias("keep"),
    )


# --- incremental-dedup standing index (persisted, bucketed) ------------------
#
# The continual-ingest shape behind queries_pipeline_extras.dedup_incremental:
# the already-deduplicated corpus reduces to a persisted table of DISTINCT
# content hashes, bucketed on the hash. Each crawl drop then probes that
# index with a LEFT ANTI join. Bucketing is what makes this sustainable at
# 100 TB: the index — by far the larger side, the whole corpus's hash set —
# is NEVER re-shuffled; its bucket files join in place. The batch either
# pays one shuffle into the index's bucketing (ad-hoc probe) or is staged
# bucketed on ingest, making the probe fully shuffle-free — and the
# admitted slice is already bucket-aligned for appending back to the index.

def write_hash_index(
    hashes: DataFrame,
    table: str,
    hash_col: str = "h",
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist DISTINCT content hashes as the standing dedup index,
    bucketed (and sorted) on the hash column."""
    from ..sinks import write_bucketed

    write_bucketed(
        hashes.select(hash_col).distinct(),
        table,
        bucket_cols=[hash_col],
        num_buckets=num_buckets,
        sort_cols=[hash_col],
        mode=mode,
    )


def probe_hash_index(
    spark,
    batch: DataFrame,
    table: str,
    hash_col: str = "h",
) -> DataFrame:
    """Rows of ``batch`` whose hash is NOT in the standing index
    (LEFT ANTI). The bucketed index side reads without any exchange;
    only the (batch-sized) probe side shuffles — and not even that if
    the batch was staged bucketed on the same key/bucket count
    (tests/test_scale_patterns.py pins both plan shapes)."""
    return batch.join(spark.table(table), hash_col, "left_anti")


def write_band_index(
    bands: DataFrame,
    table: str,
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist DISTINCT (band, band_sig) MinHash band signatures as
    the standing NEAR-dup index, bucketed (and sorted) on both keys —
    the exact-hash index's twin for incremental near-duplicate
    screening (VERDICT r5 item 3). The base corpus is shingled ONCE
    at index-build time; each crawl drop then probes this table
    without ever touching base content again."""
    from ..sinks import write_bucketed

    write_bucketed(
        bands.select("band", "band_sig").distinct(),
        table,
        bucket_cols=["band", "band_sig"],
        num_buckets=num_buckets,
        sort_cols=["band", "band_sig"],
        mode=mode,
    )


def write_simhash_band_index(
    sig: DataFrame,
    table: str,
    max_bucket: int | None = None,
    num_buckets: int = 32,
    mode: str = "overwrite",
    bands: DataFrame | None = None,
) -> None:
    """Persist the corpus's simhash BAND rows — (doc_id, simhash_hi,
    simhash_lo, band, val) — bucketed (and sorted) on the blocking key
    (band, val). Unlike write_band_index (MinHash: DISTINCT signatures
    only, membership answers), this index keeps the doc id and full
    signature per row because the simhash probe needs BOTH: the id to
    resolve component labels, the signature for the exact hamming
    filter after band blocking. ``max_bucket`` drops over-cap hot
    bands AT BUILD TIME, so every future probe inherits the
    degenerate-bucket guard for free (probe rows landing on a dropped
    band simply find nothing). The corpus is simhashed ONCE here;
    probes never touch base text again.

    ``bands`` (optimization r16): a caller that also pairs within the
    same corpus (build_cc_index) may pass the capped band relation
    once instead of this function re-deriving and re-capping it."""
    from ..sinks import write_bucketed

    if bands is None:
        bands = simhash_band_rows(sig)
        if max_bucket is not None:
            bands = _drop_hot_buckets(bands, ["band", "val"], max_bucket)
    else:
        _check_bands_cap(bands, max_bucket, "write_simhash_band_index")
    write_bucketed(
        bands,
        table,
        bucket_cols=["band", "val"],
        num_buckets=num_buckets,
        sort_cols=["band", "val"],
        mode=mode,
    )


def write_cc_labels(
    labels: DataFrame,
    table: str,
    num_buckets: int = 32,
    mode: str = "overwrite",
    best_table: str | None = None,
) -> None:
    """Persist the dedup DECISION state as a standing index: one row
    per corpus doc with its connected-component label and token count
    — (doc_id, canonical_id, n_toks) — bucketed (and sorted) on
    doc_id. This is the third leg of the incremental-dedup index
    family (exact hashes: write_hash_index; near-dup band signatures:
    write_band_index): the band index answers "WHICH base docs does a
    new doc collide with", this one answers "what COMPONENT is that
    base doc in, and how complete is it" — together they let
    keep-best admission run per crawl drop without ever re-running
    the simhash + banded-pairs + iterative-CC chain over the corpus
    (VERDICT r9: ~11 s of fixed overhead per invocation at sf0.1,
    unbounded at 100 TB). Bucketing on doc_id makes the probe's
    label-resolution join exchange-free on the (corpus-sized) index
    side; only the batch-sized probe side shuffles.

    ``best_table`` additionally materializes the per-component
    keep-best rollup — (canonical_id, best_n_toks) — bucketed on
    canonical_id: the supersede decision then joins a
    components-sized table instead of re-aggregating the corpus-sized
    label table per probe."""
    from ..sinks import write_bucketed

    labels = persist_tracked(labels.select("doc_id", "canonical_id", "n_toks"))
    if best_table is None:
        write_bucketed(
            labels,
            table,
            bucket_cols=["doc_id"],
            num_buckets=num_buckets,
            sort_cols=["doc_id"],
            mode=mode,
        )
        return
    # OPTIMIZATION r17 (guide §2.6): the label table and its keep-best
    # rollup are independent consumers of the SAME persisted relation
    # — materialize it once (so the threads never race the cache
    # fill), then write both tables concurrently; each write's tail
    # back-fills the other's idle cores. The pool joins (and
    # re-raises) before returning.
    labels.count()
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(
            inheritable_thread_target(
                lambda: write_bucketed(
                    labels.groupBy("canonical_id").agg(
                        F.max("n_toks").alias("best_n_toks")
                    ),
                    best_table,
                    bucket_cols=["canonical_id"],
                    num_buckets=num_buckets,
                    sort_cols=["canonical_id"],
                    mode=mode,
                )
            )
        )
        write_bucketed(
            labels,
            table,
            bucket_cols=["doc_id"],
            num_buckets=num_buckets,
            sort_cols=["doc_id"],
            mode=mode,
        )
        fut.result()


def probe_cc_labels(
    spark,
    matches: DataFrame,
    table: str,
    base_id_col: str = "base_id",
) -> DataFrame:
    """Resolve a batch's matched base doc ids against the standing
    CC-label index: input is the (probe_id, base_id) collision pairs
    from the band-index probe (simhash_cross_pairs /
    probe_band_index), output adds the matched doc's canonical_id and
    n_toks. The join key is the index's bucket column, so the
    corpus-sized side reads in place with no exchange; the probe side
    (batch-sized) shuffles into the index's bucketing. Downstream:
    group by probe_id for component assignment (min canonical), and
    compare n_toks for the keep-best supersede decision — see
    queries_r10.dedup_cc_probe for the full admission shape."""
    idx = spark.table(table)
    return (
        matches.withColumnRenamed(base_id_col, "doc_id")
        .join(idx, "doc_id")
        .withColumnRenamed("doc_id", base_id_col)
    )


def build_cc_index(
    spark,
    docs: DataFrame,
    bands_table: str,
    labels_table: str,
    best_table: str,
    max_hamming: int = 8,
    max_bucket: int | None = None,
    num_buckets: int = 32,
    cc_iters: int = 3,
) -> None:
    """Materialize the full three-table standing CC-dedup index from
    a corpus in one pass over the text: simhash the docs once, write
    the capped band index (blocking), resolve components via the
    banded-pairs + min-label chain and write the label index plus its
    keep-best rollup. The once-per-refresh half of the incremental
    dedup story — shared by bench.py's index_probe_cc build, the
    scale tests, and the streaming admission query so all three
    construct byte-identical state."""
    sig = persist_tracked(simhash_signatures(docs))
    # one capped band relation feeds BOTH the band-index write and the
    # pair generator (optimization r16): previously each re-derived
    # and re-capped it — one count-aggregate + anti-join per consumer
    bands = simhash_band_rows(sig)
    if max_bucket is not None:
        bands = _drop_hot_buckets(bands, ["band", "val"], max_bucket)
    # materialize the shared persisted relation ONCE before forking:
    # two threads racing the first action would compute the simhash
    # pipeline twice into the same cache slots (wasted work, not
    # wrongness)
    bands.count()
    # OPTIMIZATION r17 (guide §2.6 — overlap independent jobs): the
    # band-index write and the pairs+CC+labels computation both read
    # only the persisted relations above and touch DIFFERENT tables,
    # so the write runs on a driver thread while the main thread
    # resolves components — the 3 CC rounds' tail back-fills the
    # cores the write leaves idle. One in-flight job is enough; the
    # pool joins (and re-raises) before this function returns, so
    # failure semantics are unchanged.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(
            inheritable_thread_target(
                lambda: write_simhash_band_index(
                    sig,
                    bands_table,
                    max_bucket=max_bucket,
                    num_buckets=num_buckets,
                    bands=bands,
                )
            )
        )
        pairs = simhash_near_dup_pairs(
            sig, max_hamming=max_hamming, max_bucket=max_bucket, bands=bands
        )
        lens = docs.select(
            "doc_id", F.size(tokens(F.col("text"))).alias("n_toks")
        )
        labels = (
            connected_canonical(sig.select("doc_id"), pairs, iters=cc_iters)
            .select("doc_id", "canonical_id")
            .join(lens, "doc_id")
        )
        write_cc_labels(
            labels,
            labels_table,
            num_buckets=num_buckets,
            best_table=best_table,
        )
        fut.result()


def cc_probe_from_index(
    spark,
    batch: DataFrame,
    bands_table: str,
    labels_table: str,
    best_table: str,
    max_hamming: int = 8,
) -> DataFrame:
    """The full incremental keep-best ADMISSION decision from standing
    tables only — the persisted-index form of
    queries_r10.dedup_cc_probe (value-parity pinned in
    tests/test_scale_patterns.py). ``batch`` carries the new docs'
    (doc_id, simhash_hi, simhash_lo, n_toks); everything corpus-sized
    comes from the three bucketed indexes, each joined on its bucket
    key so the index side never exchanges:

    1. band blocking: batch band rows (computed map-side) join the
       band index on (band, val) + exact hamming filter -> matched
       (probe_id, base_id) pairs, bounded by |batch| x 4 x cap;
    2. label resolution: pairs join the CC-label index on doc_id;
    3. assignment: per probe doc, component = min matched canonical;
    4. supersede: the component's best_n_toks from the (components-
       sized) rollup vs the new doc's own token count.

    Per-probe cost is proportional to the BATCH, never the corpus —
    the simhash + banded-pairs + iterative-CC chain runs only at
    index (re)build time."""
    pb = simhash_band_rows(batch).select(
        F.col("doc_id").alias("probe_id"),
        F.col("simhash_hi").alias("_hi_a"),
        F.col("simhash_lo").alias("_lo_a"),
        "band",
        "val",
    )
    ib = spark.table(bands_table).select(
        F.col("doc_id").alias("base_id"),
        F.col("simhash_hi").alias("_hi_b"),
        F.col("simhash_lo").alias("_lo_b"),
        "band",
        "val",
    )
    ham = F.bit_count(F.col("_hi_a").bitwiseXOR(F.col("_hi_b"))) + F.bit_count(
        F.col("_lo_a").bitwiseXOR(F.col("_lo_b"))
    )
    pairs = (
        pb.join(ib, ["band", "val"])
        .filter(ham <= max_hamming)
        .select("probe_id", "base_id")
        .distinct()
    )
    lab = probe_cc_labels(spark, pairs, labels_table)
    assign = lab.groupBy("probe_id").agg(
        F.min("canonical_id").alias("assigned"),
        F.count(F.lit(1)).alias("n_matches"),
    )
    best = spark.table(best_table).withColumnRenamed("canonical_id", "_bc")
    return (
        batch.select("doc_id", "n_toks")
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


def probe_band_index(
    spark,
    batch_bands: DataFrame,
    table: str,
) -> DataFrame:
    """Band rows of ``batch_bands`` whose (band, band_sig) collides
    with the standing index (LEFT SEMI — output bounded by the batch
    side, |batch| x num_bands rows at most). The bucketed index reads
    without any exchange; only the batch side shuffles — and not even
    that when the batch was staged bucketed on the same keys/bucket
    count (tests/test_scale_patterns.py pins both plan shapes).
    Aggregate the result per doc to get near-dup candidacy, as
    queries_pipeline_extras.dedup_incremental_near does."""
    return batch_bands.join(
        spark.table(table), ["band", "band_sig"], "left_semi"
    )
