"""A10: streaming MTM must reproduce the batch engine bar-for-bar when
the same bars are replayed through multiple micro-batches (state
carry across batch boundaries is the thing under test)."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from tests.conftest import SF_SMOKE
from tradesignal_mtm_runner_spark.streaming import await_or_raise


def test_stream_source_event_time_is_watermarkable(spark):
    """Every streaming path watermarks on the loader's event-time
    column, and ``withWatermark`` hard-rejects TIMESTAMP_NTZ — the
    round-3 regression class where testdata re-encoded as naive
    timestamp[us] broke every streaming query. Pin the normalized
    dtype and the watermark's legality at the source, so a loader
    change that leaks NTZ fails here, not in five query families."""
    from tradesignal_mtm_runner_spark.sources import stream_table

    sdf = stream_table(spark, SF_SMOKE, "events")
    assert dict(sdf.dtypes)["ts"] == "timestamp"
    sdf.withWatermark("ts", "10 minutes")  # raises AnalysisException on NTZ


def _signals_pdf(spark):
    from tradesignal_mtm_runner_spark.sources import load_table, signals_from_events

    return (
        signals_from_events(load_table(spark, SF_SMOKE, "events"))
        .toPandas()
        .sort_values(["timestamp", "event_id"])
        .reset_index(drop=True)
    )


def test_streaming_matches_batch(spark, tmp_path):
    from tradesignal_mtm_runner_spark.config import PnlCalcConfig
    from tradesignal_mtm_runner_spark.operators.mtm import signal_mtm_timeline
    from tradesignal_mtm_runner_spark.streaming.mtm_stream import (
        streaming_mtm_timeline,
    )

    cfg = PnlCalcConfig(
        roi={0: float("inf")}, stoploss=float("-inf"),
        fee_rate=0.001, laid_back_tax=0.0001,
    )
    pdf = _signals_pdf(spark)

    # 3 time-ordered chunks -> 3 parquet files -> 3 micro-batches
    # (maxFilesPerTrigger=1; file source picks oldest mtime first)
    src = tmp_path / "stream_src"
    os.makedirs(src)
    cuts = np.array_split(np.arange(len(pdf)), 3)
    for i, idx in enumerate(cuts):
        p = str(src / f"chunk-{i:03d}.parquet")
        chunk = pdf.iloc[idx].copy()
        chunk["timestamp"] = chunk["timestamp"].astype("datetime64[us]")
        chunk.to_parquet(p, index=False)
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))

    schema = spark.createDataFrame(pdf.head(1)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = "mtm_stream_parity"
    q = (
        streaming_mtm_timeline(stream, cfg)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    got = (
        spark.table(sink)
        .toPandas()
        .sort_values(["symbol", "timestamp", "event_id"])
        .reset_index(drop=True)
    )

    want = (
        signal_mtm_timeline(
            spark.createDataFrame(pdf), cfg, order_cols=["timestamp", "event_id"]
        )
        .toPandas()
        .sort_values(["symbol", "timestamp", "event_id"])
        .reset_index(drop=True)
    )

    assert len(got) == len(want) > 0
    for col in ["position", "opened", "closed"]:
        assert (got[col].values == want[col].values).all(), col
    for col in ["entry_price", "mtm_ratio", "pnl_ratio"]:
        a = got[col].astype(float).fillna(np.inf).values
        b = want[col].astype(float).fillna(np.inf).values
        assert np.isclose(a, b, rtol=0, atol=1e-9).all(), col


def test_windowed_agg_matches_batch_across_microbatches(spark, tmp_path):
    """A11: the watermarked window aggregation must merge partial
    windows across micro-batch boundaries — a time-ordered 3-way split
    cuts through windows mid-flight, so getting this right exercises
    the window state store AND (since r9, update mode) the read-side
    last-revision extraction: boundary windows emit multiple revisions
    into the sink and latest_window_counts must collapse them to the
    batch truth."""
    from tradesignal_mtm_runner_spark.sources import load_table
    from tradesignal_mtm_runner_spark.streaming.windowed import (
        latest_window_counts,
        windowed_event_counts,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    pdf = ev.toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True)

    src = tmp_path / "win_src"
    os.makedirs(src)
    cuts = np.array_split(np.arange(len(pdf)), 3)
    for i, idx in enumerate(cuts):
        p = str(src / f"chunk-{i:03d}.parquet")
        chunk = pdf.iloc[idx].copy()
        chunk["ts"] = chunk["ts"].astype("datetime64[us]")
        chunk.to_parquet(p, index=False)
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))

    schema = spark.createDataFrame(pdf.head(1)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = "win_stream_parity"
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    key = ["window_start_epoch", "user_id", "event_type"]
    got = (
        latest_window_counts(spark.table(sink), key)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        windowed_event_counts(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["n_events"].values == want["n_events"].values).all()
    assert np.isclose(
        got["total_value"].values, want["total_value"].values, rtol=0, atol=1e-9
    ).all()


def test_windowed_agg_out_of_order_late_rows_merge_not_drop(spark, tmp_path):
    """Pin the MEASURED out-of-order replay semantics documented at
    sources.stream_table (ADVICE r9): on Spark 4.1 update-mode
    aggregation, rows arriving below the watermark are NOT dropped
    (numRowsDroppedByWatermark stays 0) — they merge into surviving
    window state or recreate it. A recent-first/old-second 2-batch
    replay therefore still reproduces the full batch aggregation: the
    old half is processed under a watermark weeks ahead of it, yet
    every row lands. (The divergence mode — counter restart after
    eviction — is pinned by the companion test below.)"""
    from tradesignal_mtm_runner_spark.sources import load_table
    from tradesignal_mtm_runner_spark.streaming.windowed import (
        latest_window_counts,
        windowed_event_counts,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    pdf = ev.toPandas().sort_values("ts").reset_index(drop=True)
    n = len(pdf)
    old, recent = pdf.iloc[: n // 2], pdf.iloc[n // 2 :]
    # sanity: the halves are separated by far more than the watermark
    gap_s = (recent["ts"].max() - old["ts"].max()).total_seconds()
    assert gap_s > 3600, "testdata no longer spans enough time"

    src = tmp_path / "ooo_src"
    os.makedirs(src)
    for name, frame, age in (
        ("0-recent.parquet", recent, 100),  # oldest mtime -> processed first
        ("1-old.parquet", old, 50),
    ):
        p = str(src / name)
        chunk = frame.copy()
        chunk["ts"] = chunk["ts"].astype("datetime64[us]")
        chunk.to_parquet(p, index=False)
        os.utime(p, (time.time() - age, time.time() - age))

    schema = spark.createDataFrame(pdf.head(1)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = "win_stream_ooo"
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    # the old half ran under a watermark ~2 weeks ahead of its data,
    # and still nothing was dropped
    for p in q.recentProgress:
        for so in p["stateOperators"]:
            assert so.get("numRowsDroppedByWatermark", 0) == 0
    key = ["window_start_epoch", "user_id", "event_type"]
    got = (
        latest_window_counts(spark.table(sink), key)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        windowed_event_counts(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["n_events"].values == want["n_events"].values).all()


def test_windowed_agg_evicted_window_restarts_counter(spark, tmp_path):
    """The actual out-of-order divergence mode (documented at
    sources.stream_table): eviction runs at END of batch k with the
    watermark derived from batches < k, so a window whose state was
    evicted BETWEEN two of its own row batches restarts its counter —
    the last-revision read then undercounts vs batch truth. Four
    single-file batches: (1) one row of window W; (2) a recent row
    (watermark still old during it — W survives); (3) another recent
    row, now under a recent watermark -> W evicted at batch end;
    (4) a second W row -> fresh state, counter restarts at 1. Batch
    truth for W is 2; the stream's final revision must be 1. This is
    the intended production contract: late data past the watermark
    never silently merges into an already-finalized aggregate."""
    import pandas as pd

    from tradesignal_mtm_runner_spark.streaming.windowed import (
        latest_window_counts,
        windowed_event_counts,
    )

    def ev_frame(ts_list, user):
        return pd.DataFrame(
            {
                "user_id": [user] * len(ts_list),
                "event_type": ["view"] * len(ts_list),
                "ts": pd.to_datetime(ts_list).astype("datetime64[us]"),
                "value": [1.0] * len(ts_list),
            }
        )

    w_epoch = int(pd.Timestamp("2024-01-01 00:00:00").timestamp())
    files = [
        ev_frame(["2024-01-01 00:00:10"], 1),  # W, first row
        ev_frame(["2024-02-01 10:00:00"], 2),  # advances max event time
        ev_frame(["2024-02-01 10:30:00"], 2),  # runs under recent wm -> evicts W
        ev_frame(["2024-01-01 00:00:20"], 1),  # W again, post-eviction
    ]
    src = tmp_path / "restart_src"
    os.makedirs(src)
    now = time.time()
    for i, frame in enumerate(files):
        p = str(src / f"{i}.parquet")
        frame.to_parquet(p, index=False)
        os.utime(p, (now - 100 + i * 10, now - 100 + i * 10))

    schema = spark.createDataFrame(files[0]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = "win_stream_restart"
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    evicted = sum(
        so.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert evicted >= 1, "watermark eviction never fired"
    key = ["window_start_epoch", "user_id", "event_type"]
    got = latest_window_counts(spark.table(sink), key).toPandas()
    w_final = got[got["window_start_epoch"] == w_epoch]["n_events"]
    assert len(w_final) == 1
    # batch truth is 2; the restarted counter reports 1
    assert int(w_final.iloc[0]) == 1


def test_signal_stream_datasource_replays_exactly(spark, tmp_path):
    """Python Data Source connector (sources/signal_stream.py): the
    streamed rows must equal the static read bit-for-bit, arrive over
    MULTIPLE micro-batches (rate control), and read on the executors
    (partitions = parquet row groups)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tradesignal_mtm_runner_spark.sources import load_table, signals_from_events
    from tradesignal_mtm_runner_spark.sources.signal_stream import (
        SignalStreamDataSource,
    )

    sig = signals_from_events(load_table(spark, SF_SMOKE, "events"))
    src = str(tmp_path / "signals")
    # several files -> several row groups -> several micro-batches
    sig.repartition(4).write.mode("overwrite").parquet(src)

    spark.dataSource.register(SignalStreamDataSource)
    stream = (
        spark.readStream.format("signal_stream")
        .option("path", src)
        .option("rowgroupsPerBatch", "1")
        .load()
    )
    want = (
        spark.read.parquet(src)
        .select("symbol", "timestamp", "close", "buy", "sell")
        .toPandas()
        .sort_values(["symbol", "timestamp"])
        .reset_index(drop=True)
    )
    # NOTE availableNow snapshots latestOffset() once, which defeats
    # the per-trigger rate limit — drive with a fast processing-time
    # trigger and stop once the sink has drained the table
    q = (
        stream.writeStream.format("memory")
        .queryName("sigstream")
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    import time as _time

    deadline = _time.time() + 120
    while _time.time() < deadline:
        if spark.table("sigstream").count() >= len(want):
            break
        _time.sleep(0.5)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()

    got = (
        spark.table("sigstream")
        .toPandas()
        .sort_values(["symbol", "timestamp"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    # the reader prunes to the stream schema even though the files
    # carry extra columns (event_id)
    pd.testing.assert_frame_equal(got[want.columns], want)
    assert n_batches >= 2, f"expected rate-limited multi-batch drain, got {n_batches}"


def test_session_window_merges_across_microbatches(spark, tmp_path):
    """A19: session windows are DYNAMIC — a session open at a
    micro-batch boundary must extend when the next batch's events land
    inside its gap. A time-ordered 3-way split guarantees sessions
    straddle batch boundaries, so parity with the batch run proves the
    session-merge state logic, not just a single-batch group-by."""
    from tradesignal_mtm_runner_spark.queries_pipeline_extras import (
        session_event_stats,
    )
    from tradesignal_mtm_runner_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "ts", "value")
    pdf = ev.toPandas().sort_values(["ts", "user_id"]).reset_index(drop=True)

    src = tmp_path / "sess_src"
    os.makedirs(src)
    cuts = np.array_split(np.arange(len(pdf)), 3)
    for i, idx in enumerate(cuts):
        p = str(src / f"chunk-{i:03d}.parquet")
        chunk = pdf.iloc[idx].copy()
        chunk["ts"] = chunk["ts"].astype("datetime64[us]")
        chunk.to_parquet(p, index=False)
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))

    schema = spark.createDataFrame(pdf.head(1)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = "sess_stream_parity"
    q = (
        session_event_stats(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    key = ["user_id", "session_start_epoch"]
    got = spark.table(sink).toPandas().sort_values(key).reset_index(drop=True)
    want = (
        session_event_stats(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["user_id"].values == want["user_id"].values).all()
    assert (
        got["session_start_epoch"].values == want["session_start_epoch"].values
    ).all()
    assert (got["n_events"].values == want["n_events"].values).all()
    assert np.isclose(
        got["total_value"].values, want["total_value"].values, rtol=0, atol=1e-9
    ).all()


def test_dynamic_session_window_merges_across_microbatches(spark, tmp_path):
    """A19b: the DYNAMIC-gap twin must carry open sessions across
    micro-batch boundaries exactly like the fixed-gap one — and since
    r8 it applies the same conditional watermark (VERDICT r7 item 3),
    so this also pins that the watermark does not evict sessions the
    time-ordered replay still needs (all events inside one batch file
    are within the watermark of that batch's max ts)."""
    from tradesignal_mtm_runner_spark.queries_pipeline_extras import (
        session_event_stats_dynamic,
    )
    from tradesignal_mtm_runner_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    pdf = ev.toPandas().sort_values(["ts", "user_id"]).reset_index(drop=True)

    src = tmp_path / "sess_dyn_src"
    os.makedirs(src)
    cuts = np.array_split(np.arange(len(pdf)), 3)
    for i, idx in enumerate(cuts):
        p = str(src / f"chunk-{i:03d}.parquet")
        chunk = pdf.iloc[idx].copy()
        chunk["ts"] = chunk["ts"].astype("datetime64[us]")
        chunk.to_parquet(p, index=False)
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))

    schema = spark.createDataFrame(pdf.head(1)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    streamed = session_event_stats_dynamic(stream)
    # the watermark must actually be attached on the streaming path
    assert "EventTimeWatermark" in streamed._jdf.queryExecution().logical().toString()
    sink = "sess_dyn_stream_parity"
    q = (
        streamed.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    key = ["user_id", "session_start_epoch"]
    got = spark.table(sink).toPandas().sort_values(key).reset_index(drop=True)
    want = (
        session_event_stats_dynamic(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for col in ["user_id", "session_start_epoch", "session_end_epoch", "n_events"]:
        assert (got[col].values == want[col].values).all(), col
    assert np.isclose(
        got["total_value"].values, want["total_value"].values, rtol=0, atol=1e-9
    ).all()


def test_rocksdb_state_store_backend(spark):
    """The default HDFS-backed state store keeps every key in executor
    heap — fine locally, a memory wall for 100 TB streaming state. The
    RocksDB provider (the production backend at scale) must be a pure
    config swap: same session-window query, same results."""
    from tradesignal_mtm_runner_spark.queries_pipeline_extras import (
        STREAM_SESSION_SQL,
        stream_session,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got = (
            stream_session(spark, SF_SMOKE)
            .toPandas()
            .sort_values(["user_id", "session_start_epoch"])
            .reset_index(drop=True)
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    import duckdb as _dd

    con = _dd.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/events.parquet')"
    )
    want = (
        con.execute(STREAM_SESSION_SQL)
        .df()
        .sort_values(["user_id", "session_start_epoch"])
        .reset_index(drop=True)
    )
    con.close()
    assert len(got) == len(want) > 0
    assert (got["n_events"].values == want["n_events"].values).all()
    assert np.isclose(
        got["total_value"].values, want["total_value"].values, rtol=0, atol=1e-9
    ).all()


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Append mode + watermark: events older than (max event time -
    delay) arriving AFTER the watermark has advanced must be dropped,
    not merged — the state-eviction contract that bounds streaming
    memory. Run 1 processes the recent three quarters of the stream
    (advancing the checkpointed watermark weeks past the oldest
    events); run 2 resumes from the checkpoint and replays the oldest
    quarter, all of it below the persisted watermark. The parquet
    sink must contain no window older than run 1's horizon — and the
    replayed rows add nothing."""
    import pyspark.sql.functions as F

    from tradesignal_mtm_runner_spark import sinks
    from tradesignal_mtm_runner_spark.sources import load_table
    from tradesignal_mtm_runner_spark.streaming.windowed import (
        windowed_event_counts,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    pdf = ev.toPandas().sort_values("ts").reset_index(drop=True)
    n = len(pdf)
    early = pdf.iloc[: n // 4].copy()      # oldest quarter
    bulk = pdf.iloc[n // 4 :].copy()       # recent rows: advance watermark

    src = tmp_path / "late_src"
    os.makedirs(src)
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")

    def write_chunk(name, frame, age):
        p = str(src / name)
        frame = frame.copy()
        frame["ts"] = frame["ts"].astype("datetime64[us]")
        frame.to_parquet(p, index=False)
        t = time.time() - age
        os.utime(p, (t, t))

    schema = spark.createDataFrame(pdf.head(1)).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = sinks.stream_to_parquet(
            windowed_event_counts(stream, watermark="10 minutes"), out, ckpt
        )
        await_or_raise(q)

    write_chunk("bulk.parquet", bulk, 100)
    run_once()
    n1 = spark.read.parquet(out).agg(F.sum("n_events")).first()[0] or 0
    assert 0 < n1 <= len(bulk)

    write_chunk("late.parquet", early, 50)
    run_once()  # resumes with the persisted watermark -> all rows late
    back = spark.read.parquet(out)
    n2 = back.agg(F.sum("n_events")).first()[0] or 0
    assert n2 == n1, f"late replays leaked into the sink: {n2} != {n1}"
    # and no emitted window predates the bulk's oldest event
    bulk_min_epoch = int(bulk["ts"].min().timestamp())
    oldest = back.agg(F.min("window_start_epoch")).first()[0]
    assert oldest >= bulk_min_epoch - 60


_SWEEP_GRID = {"a": (0.001, 0.0001), "b": (0.0, 0.0), "c": (0.002, 0.0)}


def _write_sweep_chunks(pdf, src, parts, n_parts=3):
    """Bars cut into n_parts time-ordered parquet files; writes the
    files whose index is in ``parts``, each with a later mtime than the
    one before (the file source reads oldest first)."""
    os.makedirs(src, exist_ok=True)
    cuts = np.array_split(np.arange(len(pdf)), n_parts)
    for i in parts:
        p = str(src / f"chunk-{i:03d}.parquet")
        chunk = pdf.iloc[cuts[i]].copy()
        chunk["timestamp"] = chunk["timestamp"].astype("datetime64[us]")
        chunk.to_parquet(p, index=False)
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))


def _assert_sweep_matches_batch(spark, got_all, pdf, grid):
    """Each config's streamed rows == one batch run of the single-config
    engine with that (fee, tax)."""
    from tradesignal_mtm_runner_spark.config import PnlCalcConfig
    from tradesignal_mtm_runner_spark.operators.mtm import signal_mtm_timeline

    assert sorted(got_all["config_id"].unique()) == sorted(grid)
    for cid, (fee, tax) in grid.items():
        cfg = PnlCalcConfig(
            roi={0: float("inf")}, stoploss=float("-inf"),
            fee_rate=fee, laid_back_tax=tax,
        )
        want = (
            signal_mtm_timeline(
                spark.createDataFrame(pdf), cfg,
                order_cols=["timestamp", "event_id"],
            )
            .toPandas()
            .sort_values(["symbol", "timestamp", "event_id"])
            .reset_index(drop=True)
        )
        got = (
            got_all[got_all["config_id"] == cid]
            .sort_values(["symbol", "timestamp", "event_id"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want) > 0, cid
        for col in ["position", "opened", "closed"]:
            assert (got[col].values == want[col].values).all(), (cid, col)
        for col in ["entry_price", "mtm_ratio", "pnl_ratio"]:
            a = got[col].astype(float).fillna(np.inf).values
            b = want[col].astype(float).fillna(np.inf).values
            assert np.isclose(a, b, rtol=0, atol=1e-9).all(), (cid, col)


def test_sweep_streaming_matches_batch_across_microbatches(spark, tmp_path):
    """The blocked streaming strategy-grid sweep must carry every
    config's state across micro-batches: a 3-file replay == one batch
    run of the single-config engine per grid cell."""
    from tradesignal_mtm_runner_spark.streaming.mtm_stream import (
        streaming_mtm_sweep_blocked,
    )

    pdf = _signals_pdf(spark)
    src = tmp_path / "sweep_stream_src"
    _write_sweep_chunks(pdf, src, range(3))
    schema = spark.createDataFrame(pdf.head(1)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = "mtm_sweep_stream_parity"
    q = (
        streaming_mtm_sweep_blocked(stream, _SWEEP_GRID)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    assert len(q.recentProgress) >= 3
    _assert_sweep_matches_batch(spark, spark.table(sink).toPandas(), pdf, _SWEEP_GRID)


def test_sweep_stream_restart_restores_mtm_state(spark, tmp_path):
    """MTM state survives a query restart: the blocked streaming sweep
    runs over two files into a parquet sink and stops; a third file
    arrives and a NEW query on the same checkpoint resumes from the
    committed per-symbol state rows. The union of both runs' output
    equals the batch engine per config — a lost or reset state row
    would reopen flat with pnl at 0 and break the pnl carry."""
    from tradesignal_mtm_runner_spark import sinks
    from tradesignal_mtm_runner_spark.streaming.mtm_stream import (
        streaming_mtm_sweep_blocked,
    )

    pdf = _signals_pdf(spark)
    src = tmp_path / "sweep_restart_src"
    out = str(tmp_path / "sweep_restart_out")
    ckpt = str(tmp_path / "sweep_restart_ckpt")
    schema = spark.createDataFrame(pdf.head(1)).schema

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = sinks.stream_to_parquet(
            streaming_mtm_sweep_blocked(stream, _SWEEP_GRID), out, ckpt
        )
        await_or_raise(q)

    _write_sweep_chunks(pdf, src, [0, 1])
    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    _write_sweep_chunks(pdf, src, [2])
    run_once()
    got_all = spark.read.parquet(out).toPandas()
    assert len(got_all) == len(pdf) * len(_SWEEP_GRID) > n1
    _assert_sweep_matches_batch(spark, got_all, pdf, _SWEEP_GRID)


def test_foreach_batch_upsert_state_carry_and_idempotence(spark, tmp_path):
    """The foreachBatch CDC upsert (A23): (1) a 3-file time-ordered
    replay runs >= 3 micro-batches and the incrementally-merged state
    equals the batch latest-per-user result; (2) RE-DELIVERING the
    final batch (the only batch Spark can ever retry) re-merges to an
    identical state — the idempotence that makes foreachBatch
    effectively exactly-once over at-least-once delivery."""
    import pyspark.sql.functions as F

    from tradesignal_mtm_runner_spark.queries_pipeline_extras import (
        _latest_per_user,
        make_upsert_sink,
        read_upsert_state,
    )
    from tradesignal_mtm_runner_spark.sources import load_table

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "value")
        .orderBy("ts")
    )
    pdf = ev.toPandas()
    src = tmp_path / "upsert_src"
    os.makedirs(src)
    cuts = np.array_split(np.arange(len(pdf)), 3)
    for i, idx in enumerate(cuts):
        p = str(src / f"chunk-{i:03d}.parquet")
        chunk = pdf.iloc[idx].copy()
        chunk["ts"] = chunk["ts"].astype("datetime64[us]")
        chunk.to_parquet(p, index=False)
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))

    schema = spark.createDataFrame(pdf.head(1)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    root = str(tmp_path / "upsert_state")
    merge, cur = make_upsert_sink(root)
    q = (
        stream.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    assert cur["batches"] >= 3, cur

    def state_rows():
        return sorted(
            map(
                tuple,
                read_upsert_state(spark, cur["dir"])
                .select("user_id", "ts", "value")
                .collect(),
            )
        )

    g = state_rows()
    want = _latest_per_user(spark.createDataFrame(pdf))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0

    # a user's value really upserts: the kept row is the max-ts row
    one = g[0]
    mx = (
        spark.createDataFrame(pdf)
        .filter(F.col("user_id") == one[0])
        .agg(F.max("ts"))
        .collect()[0][0]
    )
    assert one[1] == mx

    # retry the LAST batch: re-deliver the final chunk under its
    # original batch_id; the state must be unchanged
    last_id = cur["batches"] - 1
    last_chunk = spark.createDataFrame(pdf.iloc[cuts[-1]])
    merge(last_chunk, last_id)
    assert state_rows() == g


def test_foreach_batch_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The bucketed upsert layout (write-ahead generations since r9):
    a micro-batch whose keys land in a subset of the hash buckets must
    leave every OTHER bucket's committed files byte-identical AND
    path-identical — per-batch write cost O(touched keys), the
    property a real MERGE has (VERDICT r7 item 4) — while a TOUCHED
    bucket's pointer moves to a fresh generation directory (the
    previous copy is never modified in place — ADVICE r8: no
    mid-write crash can lose co-bucketed rows). Also pins that the
    merge is still correct and that an uncommitted garbage generation
    (a crashed attempt) is invisible to readers and cleaned by the
    next batch."""
    import hashlib

    import pyspark.sql.functions as F

    from tradesignal_mtm_runner_spark.queries_pipeline_extras import (
        UPSERT_BUCKETS,
        _latest_per_user,
        _upsert_bucket_dir,
        _upsert_read_manifest,
        make_upsert_sink,
        read_upsert_state,
    )

    base = spark.range(0, 64).select(
        F.col("id").alias("user_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        (F.col("id") * 1.0).alias("value"),
    )
    root = str(tmp_path / "bucketed_upsert")
    merge, cur = make_upsert_sink(root)
    merge(base, 0)

    # pick ONE real user so the second batch touches exactly one bucket
    probe = spark.createDataFrame(
        [(7, 13.5)], "user_id long, value double"
    ).select(
        "user_id",
        F.timestamp_seconds(F.lit(1_800_000_000)).alias("ts"),
        "value",
    )
    touched_bucket = spark.createDataFrame([(7,)], "user_id long").select(
        F.pmod(F.xxhash64(F.col("user_id")), F.lit(UPSERT_BUCKETS)).alias("b")
    ).collect()[0][0]

    def bucket_state():
        """bucket -> (committed dir, digest of its files)."""
        man = _upsert_read_manifest(cur["dir"])
        out = {}
        for b_str, g in man["bucket_gen"].items():
            b = int(b_str)
            d = _upsert_bucket_dir(cur["dir"], g, b)
            h = hashlib.sha256()
            for f in sorted(os.listdir(d)):
                h.update(f.encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
            out[b] = (d, h.hexdigest())
        return out

    before = bucket_state()
    # plant an uncommitted garbage generation (simulated crashed
    # attempt at the next gen): readers must not see it
    next_gen = _upsert_read_manifest(cur["dir"])["next_gen"]
    garbage = os.path.join(cur["dir"], f"gen={next_gen}", "bucket=0")
    os.makedirs(garbage)
    with open(os.path.join(garbage, "junk"), "w") as fh:
        fh.write("not parquet")
    n_before = read_upsert_state(spark, cur["dir"]).count()
    assert n_before == 64  # garbage gen invisible

    merge(probe, 1)
    after = bucket_state()

    assert set(before) == set(after)  # no bucket appears or vanishes
    for b in before:
        if b == touched_bucket:
            assert after[b][0] != before[b][0], "touched bucket must move gen"
            assert not os.path.isdir(before[b][0]), "superseded dir not GC'd"
        else:
            assert after[b] == before[b], f"untouched bucket {b} was rewritten"
    assert not os.path.exists(os.path.join(garbage, "junk")), (
        "crashed-attempt garbage must be cleared by the retry at its gen"
    )

    # and the merged state is still latest-per-user over both batches
    got = sorted(
        map(
            tuple,
            read_upsert_state(spark, cur["dir"])
            .select("user_id", "ts", "value")
            .collect(),
        )
    )
    want = sorted(
        map(tuple, _latest_per_user(base.unionByName(probe)).collect())
    )
    assert got == want


def test_near_dup_stream_multibatch_matches_batch_and_is_stateless(
    spark, tmp_path
):
    """Streaming near-dup admission (VERDICT r9 item 6,
    queries_r10.dedup_incremental_near_stream): the new-doc slice
    replayed through MULTIPLE micro-batches, each probing the
    persisted band index via the production foreachBatch closure,
    must (a) union to exactly the batch C36b hit relation — the probe
    is stateless per doc, so batch boundaries are invisible — and
    (b) run with NO state store at all (stateOperators empty in every
    progress entry): streaming memory is bounded by one micro-batch
    regardless of stream lifetime, because the dedup "state" is the
    bucketed index table on disk, not the state store."""
    from tradesignal_mtm_runner_spark.operators.dedup import (
        lsh_bands_from_wide,
        minhash_signatures_wide,
        write_band_index,
    )
    from tradesignal_mtm_runner_spark.queries_pipeline import (
        BANDS,
        MINHASH_K,
        SHINGLE_K,
    )
    from tradesignal_mtm_runner_spark.queries_pipeline_extras import (
        INC_MOD,
        dedup_incremental_near,
    )
    from pyspark.sql import functions as F

    from tradesignal_mtm_runner_spark.queries_r10 import (
        near_stream_probe_batch,
    )
    from tradesignal_mtm_runner_spark.sources import load_table

    from tradesignal_mtm_runner_spark.sinks import ensure_table_absent

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    bands = lsh_bands_from_wide(
        minhash_signatures_wide(docs, num_hashes=MINHASH_K, shingle_k=SHINGLE_K),
        num_bands=BANDS,
        num_hashes=MINHASH_K,
    )
    ensure_table_absent(spark, "near_stream_test_idx")
    write_band_index(
        bands.filter(F.col("doc_id") % INC_MOD != 0), "near_stream_test_idx"
    )

    new_pdf = (
        docs.filter(F.col("doc_id") % INC_MOD == 0)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    src = tmp_path / "near_src"
    os.makedirs(src)
    cuts = np.array_split(np.arange(len(new_pdf)), 3)
    now = time.time()
    for i, idx in enumerate(cuts):
        p = str(src / f"chunk-{i}.parquet")
        new_pdf.iloc[idx].to_parquet(p, index=False)
        os.utime(p, (now - 100 + i * 10, now - 100 + i * 10))

    out_dir = str(tmp_path / "near_out")
    schema = spark.createDataFrame(new_pdf.head(1)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            near_stream_probe_batch("near_stream_test_idx", out_dir)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "near_ckpt"))
        .start()
    )
    await_or_raise(q)
    n_batches = 0
    for p in q.recentProgress:
        assert p["stateOperators"] == [], "probe must not create state"
        if p["numInputRows"]:
            n_batches += 1
    assert n_batches >= 3, f"expected a 3-way multi-batch replay, got {n_batches}"

    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        dedup_incremental_near(spark, SF_SMOKE)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (got["doc_id"].values == want["doc_id"].values).all()
    assert (got["n_hit_bands"].values == want["n_hit_bands"].values).all()
    assert (
        got["is_near_dup_candidate"].values
        == want["is_near_dup_candidate"].values
    ).all()


def test_cc_admission_stream_multibatch_matches_batch_and_is_stateless(
    spark, tmp_path
):
    """The full standing-table admission under a 3-way multi-batch
    replay (queries_r10.dedup_cc_probe_stream): every micro-batch runs
    the complete decision — simhash, band probe, component resolve,
    supersede — against the three bucketed index tables via the
    production foreachBatch closure; the union must equal the batch
    dedup_cc_probe output and no batch may create ANY state-store
    state (the dedup state is the index on disk)."""
    from pyspark.sql import functions as F

    from tradesignal_mtm_runner_spark.operators.dedup import build_cc_index
    from tradesignal_mtm_runner_spark.queries_pipeline import (
        DEDUP_CC_ITERS,
        SIMHASH_MAX_BUCKET,
        SIMHASH_MAX_HAMMING,
    )
    from tradesignal_mtm_runner_spark.queries_pipeline_extras import INC_MOD
    from tradesignal_mtm_runner_spark.queries_r10 import (
        cc_stream_probe_batch,
        dedup_cc_probe,
    )
    from tradesignal_mtm_runner_spark.sinks import ensure_table_absent
    from tradesignal_mtm_runner_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    names = ("cc_mb_test_bands", "cc_mb_test_labels", "cc_mb_test_best")
    for t in names:
        ensure_table_absent(spark, t)
    build_cc_index(
        spark,
        docs.filter(F.col("doc_id") % INC_MOD != 0),
        *names,
        max_hamming=SIMHASH_MAX_HAMMING,
        max_bucket=SIMHASH_MAX_BUCKET,
        cc_iters=DEDUP_CC_ITERS,
    )

    new_pdf = (
        docs.filter(F.col("doc_id") % INC_MOD == 0)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    src = tmp_path / "cc_src"
    os.makedirs(src)
    now = time.time()
    for i, idx in enumerate(np.array_split(np.arange(len(new_pdf)), 3)):
        p = str(src / f"chunk-{i}.parquet")
        new_pdf.iloc[idx].to_parquet(p, index=False)
        os.utime(p, (now - 100 + i * 10, now - 100 + i * 10))

    out_dir = str(tmp_path / "cc_out")
    schema = spark.createDataFrame(new_pdf.head(1)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            cc_stream_probe_batch(*names, out_dir)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cc_ckpt"))
        .start()
    )
    await_or_raise(q)
    n_batches = 0
    for p in q.recentProgress:
        assert p["stateOperators"] == [], "admission must not create state"
        if p["numInputRows"]:
            n_batches += 1
    assert n_batches >= 3

    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        dedup_cc_probe(spark, SF_SMOKE)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (got["doc_id"].values == want["doc_id"].values).all()
    for col in ["component_id", "n_matches", "is_new_component", "supersedes"]:
        assert (got[col].values == want[col].values).all(), col
    for t in names:
        ensure_table_absent(spark, t)


def test_scd2_stream_multibatch_carry_and_retry_idempotence(spark, tmp_path):
    """The foreachBatch SCD2 maintainer (A28): (1) a 3-file
    time-ordered replay runs >= 3 micro-batches and the incrementally-
    MERGED history equals the batch SCD2 build (every version row,
    correct valid_from/valid_to chaining, one open interval per user);
    (2) re-delivering the final batch re-merges to an identical
    history — set-union of version rows is idempotent, so the type-2
    sink inherits the type-1 sink's exactly-once algebra."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from tradesignal_mtm_runner_spark.queries_r11b import (
        make_scd2_sink,
        read_scd2_state,
    )
    from tradesignal_mtm_runner_spark.sources import load_table

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "value")
        .orderBy("ts")
    )
    pdf = ev.toPandas()
    src = tmp_path / "scd2_src"
    os.makedirs(src)
    cuts = np.array_split(np.arange(len(pdf)), 3)
    for i, idx in enumerate(cuts):
        p = str(src / f"chunk-{i:03d}.parquet")
        chunk = pdf.iloc[idx].copy()
        chunk["ts"] = chunk["ts"].astype("datetime64[us]")
        chunk.to_parquet(p, index=False)
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))

    schema = spark.createDataFrame(pdf.head(1)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    root = str(tmp_path / "scd2_state")
    merge, cur = make_scd2_sink(root)
    q = (
        stream.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    assert cur["batches"] >= 3, cur

    def hist_rows():
        return sorted(
            map(
                tuple,
                read_scd2_state(spark, cur["dir"]).collect(),
            ),
            key=lambda r: (r[0], r[1]),
        )

    got = hist_rows()
    w = Window.partitionBy("user_id").orderBy("ts")
    want = sorted(
        map(
            tuple,
            spark.createDataFrame(pdf)
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("value"))
            .select(
                "user_id",
                F.col("ts").alias("valid_from"),
                F.lead("ts").over(w.orderBy("ts")).alias("valid_to"),
                "value",
            )
            .collect(),
        ),
        key=lambda r: (r[0], r[1]),
    )
    assert got == want and len(got) > 0

    # exactly one OPEN interval per user, and intervals chain
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, vf, vt, _v in got:
        by_user[u].append((vf, vt))
    for u, iv in by_user.items():
        iv.sort()
        assert sum(1 for _vf, vt in iv if vt is None) == 1, u
        for (vf1, vt1), (vf2, _vt2) in zip(iv, iv[1:]):
            assert vt1 == vf2, u

    # retry the LAST batch: identical history afterwards
    last_id = cur["batches"] - 1
    merge(spark.createDataFrame(pdf.iloc[cuts[-1]]), last_id)
    assert hist_rows() == got


def test_stream_full_outer_join_flushes_both_sides(spark):
    """The FULL OUTER stream-stream join (A29): the emitted relation
    equals the batch FULL OUTER interval join — in particular both
    null-extension directions are non-empty (unmatched purchases AND
    unmatched clicks), proving the sentinel drained BOTH state
    buffers, not just the left one."""
    import pyspark.sql.functions as F

    from tradesignal_mtm_runner_spark.queries import ALL_QUERIES
    from tradesignal_mtm_runner_spark.sources import load_table

    got = ALL_QUERIES["stream_join_full_outer"](spark, SF_SMOKE)
    rows = got.collect()
    assert any(r["c_user"] is None for r in rows), "no unmatched purchases"
    assert any(r["p_user"] is None for r in rows), "no unmatched clicks"

    ev = load_table(spark, SF_SMOKE, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_event_id"),
        F.col("ts").alias("c_ts"),
    )
    want = p.join(
        c,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts "
            "AND c_ts <= p_ts + INTERVAL 1 HOUR"
        ),
        "full_outer",
    )

    def key(r):
        return tuple((x is None, x) for x in r)

    assert sorted(map(key, rows)) == sorted(map(key, want.collect()))


def test_signal_stream_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Checkpoint-recovery exactly-once (review r12): a restarted
    query rebuilds the Python reader with its in-memory rate-limit
    position at 0 while Spark replans from the COMMITTED offset —
    without the partitions() ratchet, latestOffset() published an
    offset BEHIND the committed one and the source re-delivered every
    already-committed row group (empirically 80/120 rows duplicated on
    a clean-drain restart). Pin: full drain, stop, restart on the same
    checkpoint → row count unchanged and zero duplicates."""
    import time as _time

    from tradesignal_mtm_runner_spark.sources import (
        load_table,
        signals_from_events,
    )
    from tradesignal_mtm_runner_spark.sources.signal_stream import (
        SignalStreamDataSource,
    )

    sig = signals_from_events(load_table(spark, SF_SMOKE, "events"))
    src = str(tmp_path / "signals")
    sig.repartition(3).write.mode("overwrite").parquet(src)
    n_rows = spark.read.parquet(src).count()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    spark.dataSource.register(SignalStreamDataSource)

    def run():
        return (
            spark.readStream.format("signal_stream")
            .option("path", src)
            .option("rowgroupsPerBatch", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 milliseconds")
            .start()
        )

    from pyspark.errors import AnalysisException

    def sink_count() -> int:
        # the sink's _spark_metadata exists before the first commit;
        # schema inference fails until a batch lands
        try:
            return spark.read.parquet(out).count()
        except AnalysisException:
            return 0

    q = run()
    deadline = _time.time() + 120
    drained_at = None
    while _time.time() < deadline:
        if sink_count() >= n_rows:
            if drained_at is None:
                drained_at = _time.time()
            elif _time.time() - drained_at > 1.5:  # idle triggers => committed
                break
        _time.sleep(0.3)
    q.stop()
    assert sink_count() == n_rows

    q2 = run()  # fresh reader object, committed checkpoint
    _time.sleep(6)  # dozens of triggers — ample time for any regression
    q2.stop()
    final = spark.read.parquet(out)
    assert final.count() == n_rows, "restart re-delivered committed rows"
    assert final.count() == final.distinct().count()


def test_signal_stream_default_schema_feeds_mtm_engine(spark, tmp_path):
    """Contract coherence (review r12): the connector's DEFAULT 5-col
    schema (no event_id) composed with streaming_mtm_timeline — the
    documented pairing — previously died executor-side with
    KeyError('event_id'). The engine now synthesizes the tiebreak
    column, degrading the in-batch sort to timestamp-only (the
    reference's pandas ordering). One availableNow batch
    (rowgroupsPerBatch ≥ table) since the rate limit is not under
    test."""
    from tradesignal_mtm_runner_spark.sources import (
        load_table,
        signals_from_events,
    )
    from tradesignal_mtm_runner_spark.sources.signal_stream import (
        SignalStreamDataSource,
    )
    from tradesignal_mtm_runner_spark.streaming import await_or_raise
    from tradesignal_mtm_runner_spark.streaming.mtm_stream import (
        streaming_mtm_timeline,
    )

    sig = signals_from_events(load_table(spark, SF_SMOKE, "events"))
    src = str(tmp_path / "signals")
    sig.coalesce(1).write.mode("overwrite").parquet(src)
    n_rows = spark.read.parquet(src).count()

    spark.dataSource.register(SignalStreamDataSource)
    stream = (
        spark.readStream.format("signal_stream")
        .option("path", src)
        .option("rowgroupsPerBatch", "1000")
        .load()  # DEFAULT schema: symbol, timestamp, close, buy, sell
    )
    assert "event_id" not in stream.columns
    out = streaming_mtm_timeline(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sigstream_mtm_compose")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    got = spark.table("sigstream_mtm_compose")
    assert got.count() == n_rows  # one MTM row per bar, no crash


def test_pack_stream_multibatch_matches_batch_stateless_and_idempotent(
    spark, tmp_path
):
    """Streaming shard packing (VERDICT r12 item 3,
    queries_r13.corpus_pack_shards_stream): the corpus replayed in
    perm order through MULTIPLE micro-batches, each extending the
    persisted per-shard token-offset table inside foreachBatch, must
    (a) merge to exactly the batch corpus_pack_shards manifest —
    including packs that SPAN a batch boundary, whose segments
    concatenate in batch order; (b) run with NO state store
    (stateOperators empty — the only cross-batch state is the
    ≤ num_shards-row offsets table on disk); and (c) be RETRY-
    idempotent: re-running a committed batch_id recomputes
    byte-identical segments and offsets (state and output paths
    derive from batch_id alone — the foreachBatch exactly-once
    recipe)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from tradesignal_mtm_runner_spark.queries_r11 import PERM_P, _perm
    from tradesignal_mtm_runner_spark.queries_r12 import corpus_pack_shards
    from tradesignal_mtm_runner_spark.queries_r13 import (
        PACK_STREAM_BATCHES,
        pack_stream_batch,
        read_packed_segments,
    )
    from tradesignal_mtm_runner_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    span = -(-PERM_P // PACK_STREAM_BATCHES)
    sliced = docs.withColumn(
        "slice", F.floor(_perm(F.col("doc_id").cast("long")) / span).cast("int")
    )
    src = tmp_path / "pack_src"
    os.makedirs(src)
    now = time.time()
    slice_pdfs = []
    for i in range(PACK_STREAM_BATCHES):
        pdf = sliced.filter(F.col("slice") == i).drop("slice").toPandas()
        slice_pdfs.append(pdf)
        p = str(src / f"d{i:04d}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (now - 100 + i * 10, now - 100 + i * 10))
    assert all(len(p) > 0 for p in slice_pdfs), "replay must be 3 real batches"

    out_root = str(tmp_path / "segments")
    state_root = str(tmp_path / "offsets")
    os.makedirs(out_root)
    os.makedirs(state_root)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(pack_stream_batch(state_root, out_root))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "pack_ckpt"))
        .start()
    )
    await_or_raise(q)
    n_batches = 0
    for p in q.recentProgress:
        assert p["stateOperators"] == [], "packing must not create state"
        if p["numInputRows"]:
            n_batches += 1
    assert n_batches >= PACK_STREAM_BATCHES, n_batches

    got = read_packed_segments(spark, out_root).toPandas()
    want = corpus_pack_shards(spark, SF_SMOKE).toPandas()
    from tests.conftest import assert_frames_match

    assert_frames_match(got, want, "pack_stream_vs_batch")

    # at least one pack spans a batch boundary (the merge path is real)
    segs = spark.read.option("recursiveFileLookup", "true").parquet(out_root)
    per_pack = Counter(
        (r["shard"], r["pack_id"]) for r in segs.select("shard", "pack_id").collect()
    )
    assert max(per_pack.values()) >= 2, "expected a batch-spanning pack"

    # state GC: only the committed gen and its retry fallback survive
    # (older generations are never read again), so on-disk state is
    # bounded at 2 x num_shards rows for any stream lifetime
    state_gens = sorted(p.name for p in (tmp_path / "offsets").iterdir())
    assert len(state_gens) <= 2, state_gens

    # retry idempotence: re-run the LAST batch with its exact data (the
    # only batch the engine can actually retry — batches commit
    # serially, so its fallback gen is exactly what GC keeps); outputs
    # and state recompute byte-identically, final manifest unchanged
    last = PACK_STREAM_BATCHES - 1
    retry_df = spark.createDataFrame(
        slice_pdfs[last], "doc_id long, text string"
    )
    pack_stream_batch(state_root, out_root)(retry_df, last)
    again = read_packed_segments(spark, out_root).toPandas()
    assert_frames_match(again, want, "pack_stream_retry")
    off = spark.read.parquet(
        os.path.join(state_root, f"b{last:05d}")
    ).toPandas()
    assert (off["tok_offset"] >= 0).all() and len(off) > 0
