"""Standing n-gram FIRST-SEEN index — the continual-ingest form of the
C72 novelty curve (queries_r15.ngram_novelty), and the retrieval
family's first fully IDEMPOTENT standing index.

A production pipeline doesn't recompute corpus novelty per crawl drop;
it keeps the (ngram, first_seen) relation standing and asks each NEW
batch "how many of your 3-grams has this corpus never produced". The
relation's aggregate is min(doc_id) — ASSOCIATIVE, COMMUTATIVE and
IDEMPOTENT — which buys this index properties none of the count-based
ones (BM25 df/stats, edge pair partials) have:

- appends are RAW PARTIALS (each batch writes its own per-gram min;
  the probe folds min-of-mins), so appends never read the index;
- build(A) + append(B) folds identically to build(A ∪ B) for ANY
  split — no whole-order / ingest-order contract;
- a RETRIED or double-appended batch is harmless (min of a duplicate
  partial is the same min), so there is no identity sidecar and no
  validate_* guard to run — the torn-write crash-consistency class
  the edge index needed a sidecar ordering for simply does not exist
  here. (The only cost of a replay is duplicate partial ROWS, i.e.
  space until the next :func:`compact_novelty_index` — an index-sized
  fold-and-swap, never a corpus pass.)

The SEMANTIC order is carried by doc_id itself (C72's contract:
doc_id = ingest order), not by append arrival order.

Layout: ``{table}`` = (ngram, first_seen) partials, bucketed+sorted on
ngram (write_band_index convention) so the probe's fold and join ride
the bucket layout. Probe cost ∝ batch grams + the matched index rows
(bucket-aligned join), never corpus bytes.

No counterpart in the pandas reference (reference scope is the MTM
loop, runner_mtm.py:71); this is the LLM-data-pipeline surface the
build brief adds on top of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import r9
from ..sinks import ensure_table_absent, write_bucketed

#: sentinel "never seen" — larger than any doc_id; least() against it
#: selects the batch-side first occurrence
_NEVER = 2**62


def batch_gram_relation(docs: DataFrame, n: int) -> DataFrame:
    """Distinct (doc_id, ngram) word n-gram relation of a document
    batch — one row-local shingle explode + one distinct. Shared by
    the index build, the append and the probe so all three sides
    agree on tokenization by construction."""
    from ..functions import text as TX

    toks = TX.tokens(F.col("text"))
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(TX.shingles(toks, n)).alias("ngram"),
        )
        .distinct()
    )


def first_seen_partial(docs: DataFrame, n: int) -> DataFrame:
    """(ngram, first_seen) partial for one batch: per-gram min doc_id.
    Folding partials with another min reconstructs the global first
    occurrence exactly, for any batch split."""
    return batch_gram_relation(docs, n).groupBy("ngram").agg(
        F.min("doc_id").cast("long").alias("first_seen")
    )


def novelty_against(
    batch_docs: DataFrame, first_seen: DataFrame, n: int
) -> DataFrame:
    """The shared novelty kernel: per batch doc, its distinct n-grams
    and how many are NOVEL against ``first_seen`` ∪ the batch itself —
    a gram is novel for doc d iff d is the earliest doc_id to carry it
    across BOTH relations (least of the index first_seen and the
    within-batch minimum). This unifies probe-before-append (index
    holds only prior docs: novel ⇔ unindexed AND first in batch) and
    probe-after-append (the batch's own partials are already folded
    in) — both reduce to eff_first == doc_id. One gram-keyed batch
    aggregate + one gram-keyed LEFT join against the (folded) index
    relation + one per-doc aggregate; zero-gram docs keep (0, 0, 0.0)
    via the LEFT join from the batch. Output matches C72:
    (doc_id, n_distinct, n_novel, novelty)."""
    dg = batch_gram_relation(batch_docs, n)
    batch_first = dg.groupBy("ngram").agg(
        F.min("doc_id").alias("batch_first")
    )
    eff = F.least(
        F.coalesce(F.col("first_seen"), F.lit(_NEVER)), F.col("batch_first")
    )
    per = (
        dg.join(batch_first, "ngram")
        .join(first_seen.select("ngram", "first_seen"), "ngram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.when(eff == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    nd = F.coalesce(F.col("n_distinct"), F.lit(0)).cast("long")
    nn = F.coalesce(F.col("n_novel"), F.lit(0)).cast("long")
    return (
        batch_docs.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            nd.alias("n_distinct"),
            nn.alias("n_novel"),
            r9(
                F.when(nd > 0, nn.cast("double") / nd.cast("double")).otherwise(
                    F.lit(0.0)
                )
            ).alias("novelty"),
        )
    )


def write_novelty_index(
    docs: DataFrame, table: str, n: int, num_buckets: int = 32
) -> None:
    """Build the standing first-seen index from scratch: ONE corpus
    shingling pass, persisted bucketed+sorted on ngram. Probes and
    appends never re-touch corpus bytes."""
    spark = docs.sparkSession
    ensure_table_absent(spark, table)
    write_bucketed(
        first_seen_partial(docs, n),
        table,
        bucket_cols=["ngram"],
        num_buckets=num_buckets,
        sort_cols=["ngram"],
        mode="overwrite",
    )


def append_to_novelty_index(
    docs: DataFrame, table: str, n: int, num_buckets: int = 32
) -> None:
    """Incremental ingest: one shingling pass over the BATCH, appended
    as a raw per-gram-min partial — new files only, nothing read,
    nothing rewritten. min is idempotent, so unlike every count-based
    index there is NO re-append hazard and no identity guard: a
    retried batch folds to the identical index (pinned in
    tests/test_scale_patterns.py), merely costing duplicate partial
    rows until the next :func:`compact_novelty_index`."""
    write_bucketed(
        first_seen_partial(docs, n),
        table,
        bucket_cols=["ngram"],
        num_buckets=num_buckets,
        sort_cols=["ngram"],
        mode="append",
    )


def compact_novelty_index(
    spark: SparkSession, table: str, num_buckets: int = 32
) -> None:
    """Fold the accumulated partial generations into ONE — the
    "rebuild compaction" the append docstring promises, WITHOUT the
    full corpus rebuild it used to require (VERDICT r15 item 4):
    min-idempotence makes fold-and-overwrite safe, so compaction is
    one index-sized min aggregate riding the bucket layout (never a
    corpus pass; corpus bytes are untouched).

    Stage-and-swap for crash consistency: the folded relation writes
    to ``{table}__compacting`` first, then the swap is two metadata
    operations (DROP + RENAME — the managed-table directory moves,
    data is written once). A crash before the DROP leaves the live
    index untouched (plus a stale staging table the next compaction
    overwrites); a crash between DROP and RENAME leaves the complete
    folded state in the staging table — recover with ``ALTER TABLE
    {table}__compacting RENAME TO {table}``. Probes fold min-of-mins,
    so probe-before == probe-after exactly (pinned in
    tests/test_scale_patterns.py) and re-running compaction is a
    no-op fold of an already-folded relation."""
    staging = f"{table}__compacting"
    ensure_table_absent(spark, staging)
    write_bucketed(
        folded_first_seen(spark, table),
        staging,
        bucket_cols=["ngram"],
        num_buckets=num_buckets,
        sort_cols=["ngram"],
        mode="overwrite",
    )
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")


def folded_first_seen(spark: SparkSession, table: str) -> DataFrame:
    """Fold the partial generations into the current global first-seen
    relation: one min aggregate riding the bucket layout (the
    edges_from_partials shape — bucketing on ngram already clusters
    the groups, no exchange)."""
    return (
        spark.table(table)
        .groupBy("ngram")
        .agg(F.min("first_seen").cast("long").alias("first_seen"))
    )


def probe_novelty_index(
    spark: SparkSession, batch_docs: DataFrame, table: str, n: int
) -> DataFrame:
    """Per-batch novelty against the standing index — the per-drop
    production cost: shingle the BATCH, restrict the index to the
    batch's grams with a bucket-aligned SEMI-join BEFORE folding (the
    fold then touches matched rows only, never the full gram
    relation — the BM25 pushed-vocabulary shape, expressed as a join
    because a batch's gram set is data, not a driver literal), fold
    min-of-mins, run the shared kernel. Identical output to the live
    split query (parity pinned in tests/test_scale_patterns.py); zero
    corpus bytes. The batch is shingled twice (gram set + kernel) —
    both row-local batch-sized passes."""
    grams = batch_gram_relation(batch_docs, n).select("ngram").distinct()
    matched = (
        spark.table(table)
        .join(grams, "ngram", "left_semi")
        .groupBy("ngram")
        .agg(F.min("first_seen").cast("long").alias("first_seen"))
    )
    return novelty_against(batch_docs, matched, n)
