"""Sink round-trips: JSONL results in the reference's shape,
partitioned timeline writes, bucketed-table file layout."""

from __future__ import annotations

import glob
import json
import os
import re

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tradesignal_mtm_runner_spark import sinks
from tradesignal_mtm_runner_spark.streaming import await_or_raise
from tradesignal_mtm_runner_spark.config import PnlCalcConfig
from tradesignal_mtm_runner_spark.operators.bookkeeper import (
    run_mtm_bookkeeper,
    summarize_timeline,
)
from tradesignal_mtm_runner_spark.sources import load_table, signals_from_events


def _engine_outputs(spark):
    sig = signals_from_events(load_table(spark, SF_SMOKE, "events"))
    cfg = PnlCalcConfig(roi={0: float("inf")}, stoploss=float("-inf"), fee_rate=0.001)
    timeline = run_mtm_bookkeeper(sig, cfg, output="timeline")
    trades = run_mtm_bookkeeper(sig, cfg, output="trades")
    return timeline, trades, summarize_timeline(timeline)


def test_results_jsonl_roundtrip(spark, tmp_path):
    timeline, trades, summary = _engine_outputs(spark)
    path = str(tmp_path / "results")
    sinks.write_results_jsonl(
        summary,
        path,
        trades=trades,
        batch_id="b1",
        strategy_name="test_strategy",
    )
    lines = []
    for f in glob.glob(f"{path}/part-*"):
        with open(f) as fh:
            lines += [json.loads(line) for line in fh if line.strip()]
    n_symbols = summary.count()
    assert len(lines) == n_symbols

    # reference result-shape parity: every queryable field present,
    # and the line's key set == Mtm_Result.to_query_dict keys plus
    # symbol (the reference result object carries no symbol; the
    # distributed sink needs it as the group key)
    from tradesignal_mtm_runner_spark import MtmResult

    expected_keys = set(MtmResult(symbol="X").to_query_dict()) | {"symbol"}
    for doc in lines:
        for field in sinks.RESULT_FIELDS:
            assert field in doc, f"missing {field}"
        assert set(doc) == expected_keys, set(doc) ^ expected_keys
    by_symbol = {d["symbol"]: d for d in lines}
    srow = summary.filter(F.col("symbol") == list(by_symbol)[0]).first()
    doc = by_symbol[srow["symbol"]]
    assert abs(doc["pnl"] - srow["pnl"]) < 1e-12
    assert doc["batch_id"] == "b1"
    assert doc["strategy_name"] == "test_strategy"

    # archive sizes must reconcile with the trades frame
    total_closed = sum(
        d["long_trades_archive_size"] + d["short_trades_archive_size"]
        for d in lines
    )
    assert total_closed == trades.filter(F.col("is_closed")).count()


def test_timeline_partitioned_write_roundtrip(spark, tmp_path):
    timeline, _, _ = _engine_outputs(spark)
    path = str(tmp_path / "timeline")
    sinks.write_timeline(timeline, path, partition_by=["symbol"])
    assert any(
        name.startswith("symbol=") for name in os.listdir(path)
    ), "expected hive-style symbol partitions"
    back = spark.read.parquet(path)
    assert back.count() == timeline.count()
    # partition pruning must work on the written layout
    one = back.filter(F.col("symbol") == timeline.first()["symbol"])
    assert one.count() > 0


def test_streaming_parquet_sink_exactly_once(spark, tmp_path):
    """The streaming MTM timeline lands in parquet via the file-sink
    commit log; a second availableNow run from the same checkpoint
    must be a no-op (exactly-once), not a double-write."""
    from tradesignal_mtm_runner_spark.sources import (
        signals_from_events,
        stream_table,
    )
    from tradesignal_mtm_runner_spark.streaming.mtm_stream import (
        streaming_mtm_timeline,
    )

    cfg = PnlCalcConfig(roi={0: float("inf")}, stoploss=float("-inf"), fee_rate=0.001)
    out = str(tmp_path / "tl_out")
    ckpt = str(tmp_path / "tl_ckpt")

    def run_once():
        sig = signals_from_events(stream_table(spark, SF_SMOKE, "events"))
        q = sinks.stream_to_parquet(
            streaming_mtm_timeline(sig, cfg), out, ckpt
        )
        await_or_raise(q)

    run_once()
    n1 = spark.read.parquet(out).count()
    batch_rows = signals_from_events(
        load_table(spark, SF_SMOKE, "events")
    ).count()
    assert n1 == batch_rows > 0

    run_once()  # same checkpoint: no new data -> no new rows
    assert spark.read.parquet(out).count() == n1


def test_streaming_sink_resumes_incrementally(spark, tmp_path):
    """Checkpoint recovery with NEW data: a restarted query must pick
    up exactly the files that arrived since the last commit — no
    reprocessing of already-committed input (the property that lets a
    100 TB/day ingest restart from a crash without a backfill)."""
    import os as _os
    import time as _time

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    pdf = ev.toPandas().sort_values("event_id").reset_index(drop=True)
    half = len(pdf) // 2

    src = tmp_path / "inc_src"
    _os.makedirs(src)
    out = str(tmp_path / "inc_out")
    ckpt = str(tmp_path / "inc_ckpt")

    def write_chunk(name, frame, age):
        p = str(src / name)
        frame = frame.copy()
        frame["ts"] = frame["ts"].astype("datetime64[us]")
        frame.to_parquet(p, index=False)
        t = _time.time() - age
        _os.utime(p, (t, t))

    write_chunk("a.parquet", pdf.iloc[:half], 100)
    schema = spark.createDataFrame(pdf.head(1)).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = sinks.stream_to_parquet(stream, out, ckpt)
        await_or_raise(q)

    run_once()
    assert spark.read.parquet(out).count() == half

    write_chunk("b.parquet", pdf.iloc[half:], 50)
    run_once()
    back = spark.read.parquet(out)
    assert back.count() == len(pdf)
    # every source row exactly once — no replay of the first file
    assert back.select("event_id").distinct().count() == len(pdf)


def test_result_lines_meta_column_precedence_and_null_fields(spark):
    """Review r12: (1) an EMPTY meta default must not shadow a real
    same-named summary column; (2) an explicitly-passed meta value
    still wins; (3) a group col that is also a RESULT_FIELDS name is
    emitted ONCE (duplicate JSON keys break strict parsers); (4) NULL
    metrics surface as null instead of vanishing from the key set."""
    summary = spark.createDataFrame(
        [("S1", "momentum", 1.5, None)],
        "symbol string, strategy_name string, pnl double, sharpe_ratio double",
    )
    line = json.loads(
        sinks.mtm_result_lines(
            summary, group_cols=["symbol", "strategy_name"]
        ).first()["value"]
    )
    assert line["strategy_name"] == "momentum"  # not shadowed by ""
    assert line["sharpe_ratio"] is None  # null kept, key present
    raw = sinks.mtm_result_lines(
        summary, group_cols=["symbol", "strategy_name"]
    ).first()["value"]
    assert raw.count('"strategy_name"') == 1  # no duplicate keys

    line2 = json.loads(
        sinks.mtm_result_lines(summary, strategy_name="override").first()[
            "value"
        ]
    )
    assert line2["strategy_name"] == "override"  # explicit meta wins


def test_ensure_table_absent_three_part_name(spark, tmp_path):
    """Review r12: a catalog-qualified 3-part name must resolve the
    orphaned managed dir from its rightmost two parts — the old
    split('.', 1) guessed 'warehouse/spark_catalog.db/default.t',
    which never exists, and the real orphan survived to kill the next
    saveAsTable with LOCATION_ALREADY_EXISTS."""
    import os

    from pyspark.sql import functions as F  # noqa: F811

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    orphan = os.path.join(warehouse, "default.db", "r12_orphan_t")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "junk"), "w") as fh:
        fh.write("x")
    assert not spark.catalog.tableExists("default.r12_orphan_t")
    sinks.ensure_table_absent(spark, "spark_catalog.default.r12_orphan_t")
    assert not os.path.exists(orphan)


def test_write_bucketed_spreads_each_bucket_over_k_files(spark, tmp_path):
    """With fewer buckets than cores, write_bucketed shuffles into
    k x num_buckets partitions (k = ceil(cores / num_buckets)): every
    file holds rows of exactly one bucket, and a bucket spreads over at
    most k files (one per task) rather than one file per input task."""
    n = 2
    k = -(-spark.sparkContext.defaultParallelism // n)
    assert k > 1
    loc = tmp_path / "bucketk"
    spark.sql(f"CREATE DATABASE bucketk LOCATION '{loc}'")
    try:
        df = spark.range(0, 4000, numPartitions=4 * k).select(
            (F.col("id") % 101).alias("key"), "id"
        )
        sinks.write_bucketed(df, "bucketk.t", bucket_cols=["key"], num_buckets=n)
        rows = (
            spark.read.parquet(str(loc / "t"))
            .select(
                F.input_file_name().alias("f"),
                F.expr(f"pmod(hash(key), {n})").alias("b"),
            )
            .groupBy("f")
            .agg(F.collect_set("b").alias("bs"))
            .collect()
        )
    finally:
        spark.sql("DROP DATABASE bucketk CASCADE")
    files_per_bucket: dict[int, int] = {}
    for r in rows:
        assert len(r.bs) == 1, f"{r.f} holds buckets {r.bs}"
        # bucketed file names carry their bucket id: part-..._0000B.c000...
        assert int(re.search(r"_(\d{5})\.c\d{3}", r.f).group(1)) == r.bs[0]
        files_per_bucket[r.bs[0]] = files_per_bucket.get(r.bs[0], 0) + 1
    assert set(files_per_bucket) == set(range(n))
    assert max(files_per_bucket.values()) <= k
