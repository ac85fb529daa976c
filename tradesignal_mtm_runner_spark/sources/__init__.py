"""Input connectors: turn raw tables into signal frames.

The reference consumes pandas frames with (timestamp index, close,
buy, sell) columns (reference: runner_mtm.py:96-116). Here a signal
frame is a Spark DataFrame with columns
(symbol, timestamp, close, buy, sell) — one row per bar per symbol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import pin_reader_confs

TPCH_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


#: Timestamp columns in the testdata that have shipped under several
#: physical parquet encodings across regenerations:
#:   * TIMESTAMP(NANOS)   -> Spark has no nanos type; with
#:     ``nanosAsLong`` it surfaces as bigint nanoseconds,
#:   * timestamp[us]/[ms] (no tz) -> Spark 4.x reads TIMESTAMP_NTZ,
#:   * timestamp with tz  -> plain TIMESTAMP (LTZ).
#: The loader contract is: whatever the file stores, these columns come
#: out as TIMESTAMP (LTZ, session tz pinned to UTC) with identical
#: epoch values to DuckDB reading the same file.
_NANOS_TS_COLUMNS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def _normalize_ts(df: DataFrame, name: str) -> DataFrame:
    """Coerce every known-timestamp column (and any other NTZ column)
    to plain TIMESTAMP so downstream ``unix_millis``/``unix_micros``/
    ``withWatermark`` calls work regardless of the file's physical
    encoding. With the session timezone pinned to UTC the NTZ->LTZ
    cast is epoch-identical to DuckDB's naive-timestamp reading."""
    dtypes = dict(df.dtypes)
    known = set(_NANOS_TS_COLUMNS.get(name, []))
    for c in df.columns:
        dt = dtypes[c]
        if c in known and dt == "bigint":
            # legacy TIMESTAMP(NANOS)-as-long encoding: ns -> µs
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    pin_reader_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _normalize_ts(df, name)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    return {n: load_table(spark, sf_dir, n) for n in (names or TPCH_TABLES)}


def register_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[str]:
    """Register every table as a temp view so users can work in raw
    ANSI SQL (`spark.sql("SELECT ... FROM lineitem JOIN orders ...")`)
    instead of the DataFrame API — same Catalyst plans, same pushdown
    and pruning, since temp views are just named logical plans over
    the parquet scans. Returns the registered view names."""
    out = []
    for n in names or TPCH_TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
        out.append(n)
    return out


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The same table as an unbounded stream (file source). Schema is
    taken from a batch scan; nanos timestamps get the identical
    long->microsecond conversion as load_table.

    Replay contract (ADVICE r9): each table is ONE parquet file, so
    ``availableNow`` replays it as a single micro-batch — the
    watermark is still at epoch 0 while that batch runs, so
    update-mode watermarked queries reproduce the batch oracle
    exactly. Multi-batch replays stay oracle-equal when time-ordered
    (a window's state can only be evicted after all its rows have
    arrived). Out-of-order replays follow the MEASURED Spark 4.1
    update-mode semantics (pinned in tests/test_streaming.py):
    watermark-late rows are NOT dropped (numRowsDroppedByWatermark
    stays 0 — they merge into surviving state, or recreate it), and
    eviction runs at END of batch k with the watermark derived from
    batches < k; a window evicted between two of its own row batches
    therefore RESTARTS its counter, and the last-revision read
    undercounts vs batch. Production upshot: late data past the
    watermark never silently merges into an already-evicted
    aggregate — replay==batch is only guaranteed for single-batch or
    time-ordered sources."""
    pin_reader_confs(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    # the file stream source only takes a directory -> scope it to the
    # one table file with pathGlobFilter
    df = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return _normalize_ts(df, name)


SIGNAL_COLUMNS = ["symbol", "timestamp", "close", "buy", "sell"]
#: one schema for every file-format signal loader (review r12: the DDL
#: was copy-pasted per loader and could silently diverge)
SIGNAL_SCHEMA = (
    "symbol string, timestamp timestamp, close double, buy int, sell int"
)


def load_signals_csv(
    spark: SparkSession, path: str, ts_format: str | None = None
) -> DataFrame:
    """Signal frame from CSV (header row; columns symbol, timestamp,
    close, buy, sell). Explicit schema — no inference pass over the
    data, which at 100 TB would double the read. ``ts_format`` reaches
    the READER as timestampFormat (review r12: the old post-hoc
    to_timestamp ran after the typed schema had already nulled every
    non-default-format cell, silently losing the column)."""
    reader = spark.read.option("header", "true").schema(SIGNAL_SCHEMA)
    if ts_format:
        reader = reader.option("timestampFormat", ts_format)
    return reader.csv(path).select(*SIGNAL_COLUMNS)


def load_signals_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Signal frame from JSON-lines with the same explicit schema."""
    return spark.read.schema(SIGNAL_SCHEMA).json(path).select(*SIGNAL_COLUMNS)


def signals_from_events(
    events: DataFrame,
    buy_event: str = "purchase",
    sell_event: str = "click",
) -> DataFrame:
    """Map the synthetic ``events`` stream to a signal frame.

    symbol = user_id, bar ts = event ts, close = value,
    buy when event_type == buy_event, sell when event_type == sell_event.
    Output is the 5-column SIGNAL_COLUMNS contract PLUS ``event_id``
    (the deterministic same-timestamp tiebreak the MTM engines sort
    on; consumers of the bare contract may drop it). Column pruning:
    only these 6 columns are selected, so the parquet scan never
    reads ``props``.
    """
    return events.select(
        F.col("user_id").cast("string").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.col("event_id"),
        F.col("value").alias("close"),
        (F.col("event_type") == buy_event).cast("int").alias("buy"),
        (F.col("event_type") == sell_event).cast("int").alias("sell"),
    )


#: SQL fragment producing the identical signal frame in DuckDB — keep in
#: lock-step with signals_from_events (used by oracle_sql()).
SIGNALS_FROM_EVENTS_SQL = """
    SELECT CAST(user_id AS VARCHAR) AS symbol,
           ts AS timestamp,
           event_id,
           value AS close,
           CAST(event_type = 'purchase' AS INT) AS buy,
           CAST(event_type = 'click' AS INT) AS sell
    FROM events
"""
