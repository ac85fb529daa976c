"""Round-11 streaming batch: the two production streaming shapes the
A-family still lacked — SCD2 (type-2) history MAINTAINED under the
streaming engine via a ``foreachBatch`` MERGE (the warehouse twin of
``stream_upsert``'s type-1 latest-wins), and the FULL OUTER watermarked
stream-stream interval join (the left-outer query's hard sibling:
unmatched rows flush from BOTH state buffers).

No counterpart in the pandas reference (its scope is the MTM loop,
reference runner_mtm.py:71); these close the batch/stream asymmetry
for the warehouse-history and join families the way
``multimodal_stream_decode`` closed it for the codecs.
"""

from __future__ import annotations

import itertools as _it
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .cache_registry import tracked_mkdtemp
from .queries_pipeline_extras import (
    STREAM_JOIN_HORIZON,
    STREAM_JOIN_WATERMARK,
    UPSERT_BUCKETS,
    _staged_sentinel_stream,
    _upsert_bucket_dir,
    _upsert_read_manifest,
    make_bucketed_wal_sink,
)
from .functions.rounding import r9
from .queries_r8 import SCD2_HISTORY_SQL
from .sources import load_table, stream_table
from .streaming import await_or_raise

_FOJ_SINK_SEQ = _it.count()


# --- A28 streaming SCD2 maintenance -------------------------------------------


def _versions(df: DataFrame) -> DataFrame:
    """Collapse same-timestamp changes with the engine-agnostic
    two-step tiebreak (max value at the ts) — the version grain both
    the batch SCD2 build (queries_r8.scd2_history) and this streaming
    maintainer share."""
    return df.groupBy("user_id", "ts").agg(F.max("value").alias("value"))


def make_scd2_sink(root: str):
    """(merge_fn, state) for a foreachBatch TYPE-2 MERGE into a
    parquet history table hash-bucketed by ``user_id``, committed with
    the same write-ahead generation + atomic manifest protocol as the
    type-1 upsert sink (queries_pipeline_extras.make_upsert_sink —
    data files first, one atomic pointer flip, post-commit GC sweep).

    Per batch: (1) collapse the batch to version grain; (2) read the
    COMMITTED history of only the buckets the batch touches (bounded
    collect of <= UPSERT_BUCKETS ids drives the pruned read) and
    recover their version rows (a history row's (valid_from, value)
    IS its version — valid_to is derived state); (3) union + dedup to
    the merged version set and rebuild the intervals with one
    user-partitioned ``lead`` window — correct locally because every
    user's rows live in exactly one bucket; (4) write a fresh
    generation for the touched buckets and flip the manifest. A
    RETRIED batch re-merges the identical version rows into a set
    union — idempotent, so exactly-once STATE on at-least-once
    delivery, the same algebra as the type-1 sink. Per-batch cost is
    O(history of touched buckets): the file-format MERGE cost every
    SCD2 maintainer pays (Delta/Iceberg included); untouched buckets'
    files are never opened. The commit protocol itself lives in
    queries_pipeline_extras.make_bucketed_wal_sink (shared with the
    type-1 sink — review r12: one place to fix, not two)."""

    def _prev(committed: DataFrame) -> DataFrame:
        # a history row's (valid_from, value) IS its version record;
        # valid_to is derived state rebuilt below
        return committed.select(
            "user_id", F.col("valid_from").alias("ts"), "value"
        )

    def _merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        vers = _versions(batch_df.select("user_id", "ts", "value"))
        if prev is not None:
            vers = _versions(prev.unionByName(vers))
        w = Window.partitionBy("user_id").orderBy("ts")
        return vers.select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            "value",
        )

    return make_bucketed_wal_sink(root, _prev, _merge)


def read_scd2_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The committed SCD2 table across all bucket generations."""
    man = _upsert_read_manifest(state_dir)
    paths = [
        _upsert_bucket_dir(state_dir, g, int(b))
        for b, g in sorted(man["bucket_gen"].items(), key=lambda kv: int(kv[0]))
    ]
    if not paths:
        return None
    spark.catalog.refreshByPath(state_dir)
    return spark.read.parquet(*paths).select(
        "user_id", "valid_from", "valid_to", "value"
    )


def scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2 maintenance — the type-2 history table kept
    current under ``readStream`` (see ``make_scd2_sink``). Replay ==
    the batch SCD2 build, which is the oracle (same SQL as
    ``scd2_history``); multi-batch carry + retry idempotence pinned in
    tests/test_streaming.py via the same sink closure."""
    ev = stream_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    root = tracked_mkdtemp("scd2_stream_")
    _merge, cur = make_scd2_sink(root)
    q = ev.writeStream.foreachBatch(_merge).trigger(availableNow=True).start()
    await_or_raise(q)
    state = (
        read_scd2_state(spark, cur["dir"]) if cur["dir"] is not None else None
    )
    if state is None:
        return spark.createDataFrame(
            [],
            "user_id long, valid_from timestamp, valid_to timestamp, "
            "value double, is_current boolean",
        )
    return state.select(
        F.col("user_id").cast("long").alias("user_id"),
        "valid_from",
        "valid_to",
        r9(F.col("value")).alias("value"),
        F.col("valid_to").isNull().alias("is_current"),
    )


# --- A29 FULL OUTER watermarked stream-stream join -----------------------------


def stream_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join — the
    left-outer query's hard sibling: unmatched PURCHASES null-extend
    on the click side AND unmatched CLICKS null-extend on the purchase
    side, so both state buffers need tail flushing. The same
    event-time sentinel recipe drains them (one sentinel per stream,
    40 d > watermark 30 d + horizon 1 h, unjoinable user −1, > horizon
    apart so the two sentinels cannot join each other); the final
    no-data micro-batch evicts and emits every outer row from both
    buffers. Replay == the batch FULL OUTER interval join, which is
    the oracle (sentinels filtered from the output on whichever side
    they surface)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stream = _staged_sentinel_stream(spark, ev, "stream_join_fo_")
    if stream is None:  # empty events table — nothing to join or flush
        return spark.createDataFrame(
            [],
            "p_user long, p_event_id long, p_ts timestamp, "
            "c_user long, c_event_id long, c_ts timestamp",
        )
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("p_event_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", STREAM_JOIN_WATERMARK)
    )
    c = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("c_event_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", STREAM_JOIN_WATERMARK)
    )
    joined = p.join(
        c,
        F.expr(
            f"p_user = c_user AND c_ts >= p_ts "
            f"AND c_ts <= p_ts + INTERVAL {STREAM_JOIN_HORIZON}"
        ),
        "full_outer",
    )
    sink = f"stream_join_fo_sink_{next(_FOJ_SINK_SEQ)}"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    return (
        spark.table(sink)
        .filter(
            (F.col("p_user").isNull() | (F.col("p_user") >= 0))
            & (F.col("c_user").isNull() | (F.col("c_user") >= 0))
        )
        .select(
            F.col("p_user").cast("long").alias("p_user"),
            F.col("p_event_id").cast("long").alias("p_event_id"),
            "p_ts",
            F.col("c_user").cast("long").alias("c_user"),
            F.col("c_event_id").cast("long").alias("c_event_id"),
            "c_ts",
        )
    )


STREAM_JOIN_FULL_OUTER_SQL = """
SELECT CAST(p.user_id AS BIGINT) AS p_user,
       CAST(p.event_id AS BIGINT) AS p_event_id,
       p.ts AS p_ts,
       CAST(c.user_id AS BIGINT) AS c_user,
       CAST(c.event_id AS BIGINT) AS c_event_id,
       c.ts AS c_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
"""


R11B_QUERIES: dict = {
    "scd2_stream": scd2_stream,
    "stream_join_full_outer": stream_join_full_outer,
}

R11B_ORACLES: dict = {
    "scd2_stream": SCD2_HISTORY_SQL,
    "stream_join_full_outer": STREAM_JOIN_FULL_OUTER_SQL,
}
