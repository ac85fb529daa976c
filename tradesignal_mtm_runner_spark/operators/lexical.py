"""Standing BM25 lexical index — the persisted form of the lexical
retriever (VERDICT r12 item 1).

The live ``bm25_topk`` query (queries_r8.py) recomputes document
lengths, document frequencies, corpus stats, and the query-term
postings from the raw corpus on every invocation. That is the exact
batch/standing asymmetry the IVF and PQ indexes already closed for the
vector arm: at 100 TB the corpus-sized tokenize + aggregate passes are
the cost, while a query only ever needs the posting rows of ITS OWN
terms. This module persists the three relations once so a probe costs
work proportional to the query vocabulary, never the corpus:

- ``{table}``             postings: (tok, doc_id, tf, dl) — the per
  (token, doc) term frequency with the doc length DENORMALIZED in, so
  scoring never joins a corpus-sized doclen relation. Bucketed AND
  sorted on ``tok``: the probe's literal ``tok IN (...)`` predicate
  pushes into the parquet scan and the sorted layout gives row-group
  min/max skipping, so only the probed tokens' neighborhoods are read.
- ``{table}_df``          per-token document frequencies as APPEND-ONLY
  PARTIAL counts (tok, df). Appending a batch appends its per-token
  contribution instead of rewriting the relation (no WAL, no merge);
  a probe sums the partials of the probed tokens only — a bounded
  aggregate over a vocabulary-keyed relation.
- ``{table}_stats``       corpus totals as append-only partials
  (sum_dl, n_docs). One row per build/append; a probe folds them into
  avgdl = Σ sum_dl / Σ n_docs — exactly the live query's F.avg("dl")
  (Spark's integral avg IS sum/count in double, so parity is exact).

All three are managed bucketed tables (the write_hash_index /
write_band_index convention, sinks.write_bucketed); probes read the
index sides without any exchange. Value-parity of probe vs the live
``bm25_topk`` — including the build+append == full-build path — is
pinned in tests/test_scale_patterns.py; ``index_probe_bm25`` in
bench.py times the per-probe production cost.

No counterpart in the pandas reference (reference runner_mtm.py:71 is
the MTM loop); this is the LLM-data-pipeline surface the build brief
adds on top of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sinks import ensure_table_absent, write_bucketed

#: BM25 hyperparameters, shared with the live batch scorer
#: (queries_r8.bm25_scored) so the standing index can never drift from it.
BM25_K1 = 1.2
BM25_B = 0.75


def _postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(tok, doc_id, tf, dl) for one document batch: one tokenize
    pass, one (doc, tok) aggregate, dl joined back from the same
    relation (a doc's dl is the sum of its tf values — no second
    corpus scan). NULL-text docs explode to nothing and are absent,
    matching the live query's dl relation."""
    tf = (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wdoc = Window.partitionBy("doc_id")
    return tf.select(
        "tok",
        "doc_id",
        F.col("tf").cast("long").alias("tf"),
        F.sum("tf").over(wdoc).cast("long").alias("dl"),
    )


def _write_increment(
    post: DataFrame, table: str, num_buckets: int, mode: str
) -> None:
    """Write/append one batch's postings + df partials + stats partial.
    ``post`` must be the batch's full (tok, doc_id, tf, dl) relation;
    it is persisted so the three derived writes share one computation."""
    post = post.persist()
    try:
        write_bucketed(
            post,
            table,
            bucket_cols=["tok"],
            num_buckets=num_buckets,
            sort_cols=["tok", "doc_id"],
            mode=mode,
        )
        dfreq = post.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
        write_bucketed(
            dfreq,
            f"{table}_df",
            bucket_cols=["tok"],
            num_buckets=num_buckets,
            sort_cols=["tok"],
            mode=mode,
        )
        stats = (
            post.groupBy("doc_id")
            .agg(F.first("dl").alias("dl"))
            .agg(
                F.sum("dl").cast("long").alias("sum_dl"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
            )
        )
        stats.write.mode(mode).saveAsTable(f"{table}_stats")
    finally:
        post.unpersist()


def write_bm25_index(
    docs: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 32,
) -> None:
    """Build the standing index from scratch: tokenize the corpus ONCE
    and persist postings / df partials / stats. This is the only
    corpus-sized pass the lexical retriever ever makes — probes and
    appends never re-touch corpus bytes."""
    spark = docs.sparkSession
    for t in (table, f"{table}_df", f"{table}_stats"):
        ensure_table_absent(spark, t)
    _write_increment(_postings(docs, id_col, text_col), table, num_buckets, "overwrite")


def validate_bm25_batch(
    new_docs: DataFrame, table: str, id_col: str = "doc_id"
) -> None:
    """Raise if any of the batch's doc_ids is already indexed. The
    append-only partial-count layout makes a double-append INVISIBLE
    until probe scores drift (the postings, df and stats partials all
    silently double), so this guard is the loud alternative: one
    id-projected scan of the postings relation, semi-joined against
    the (broadcast) batch ids. Costs a corpus-column scan — callers
    with a real upstream identity gate keep the documented fast path
    and skip it; callers without one pass ``check_ids=True`` below."""
    spark = new_docs.sparkSession
    batch_ids = (
        new_docs.select(F.col(id_col).cast("long").alias("doc_id")).distinct()
    )
    dup = (
        spark.table(table)
        .select("doc_id")
        .join(F.broadcast(batch_ids), "doc_id", "left_semi")
        .select("doc_id")
        .distinct()
        .limit(5)
        .collect()
    )
    if dup:
        ids = sorted(int(r["doc_id"]) for r in dup)
        raise ValueError(
            f"append_to_bm25_index: batch re-appends already-indexed "
            f"doc_ids (sample: {ids}) — this would double-count "
            f"postings/df/stats in {table!r}; dedup the batch upstream "
            f"(probe_hash_index / dedup_incremental) first"
        )


def append_to_bm25_index(
    new_docs: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 32,
    check_ids: bool = False,
) -> None:
    """Incremental ingest: one tokenize pass over the BATCH, appended
    into all three relations. df and the corpus stats are append-only
    partial counts, so no existing file is rewritten and no merge
    protocol is needed — the probe's bounded fold makes them whole.
    Unlike the frozen-model IVF/PQ appends, BM25's "model" (df, avgdl)
    legitimately shifts with ingest, and the partial-count layout keeps
    scores exact: build(A) + append(B) probes identically to
    build(A ∪ B) (pinned in tests/test_scale_patterns.py). Caller
    contract (every standing index shares it): the batch must be NEW
    doc_ids — re-appending an already-indexed doc double-counts its
    postings; dedup admission (probe_hash_index / dedup_incremental)
    is the upstream identity gate. Pass ``check_ids=True`` (or call
    :func:`validate_bm25_batch` yourself) to ENFORCE that contract at
    the cost of one id-projected postings scan — the corruption is
    otherwise invisible until probe scores drift."""
    if check_ids:
        validate_bm25_batch(new_docs, table, id_col=id_col)
    _write_increment(
        _postings(new_docs, id_col, text_col), table, num_buckets, "append"
    )


def probe_bm25_index(
    spark: SparkSession,
    queries: dict[int, tuple[str, ...]],
    table: str,
    k: int = 5,
) -> DataFrame:
    """Top-k BM25 over the standing index — the per-query production
    cost. The query vocabulary is a driver literal: it rides the
    postings scan as a pushed ``tok IN (...)`` filter (bucketed+sorted
    layout → row-group skipping) and bounds the df fold; the corpus
    stats fold is one ≤ #increments-row aggregate. Scoring is the same
    column algebra as the live ``bm25_topk`` (idf's +1 form, k1/b from
    the shared constants), so probe == live value parity holds
    exactly."""
    terms = sorted({t for q in queries.values() for t in q})
    qrel = spark.createDataFrame(
        [(qid, t) for qid, q in sorted(queries.items()) for t in q],
        "query_id int, tok string",
    )
    stats = (
        spark.table(f"{table}_stats")
        .agg(
            (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )
    )
    dfreq = (
        spark.table(f"{table}_df")
        .filter(F.col("tok").isin(terms))
        .groupBy("tok")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    post = spark.table(table).filter(F.col("tok").isin(terms))

    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        post.join(F.broadcast(dfreq), "tok")
        .join(F.broadcast(qrel), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(
            (F.round(F.sum(idf * F.col("tf") * (BM25_K1 + 1) / denom), 9) + 0.0)
            .alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )
