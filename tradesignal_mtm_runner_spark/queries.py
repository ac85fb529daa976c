"""Driver-facing query registry: Spark implementation + DuckDB oracle.

Each entry in ``QUERIES`` is a callable (spark, sf_dir) -> DataFrame;
``ORACLES`` holds the equivalent DuckDB SQL over the same parquet
tables (pre-registered views). Column names/types are kept in
lock-step — floats are rounded to 9 decimals on BOTH sides so the
order-insensitive value-hash comparison is robust to engine-level
summation-order differences (measured <= 6e-14 on cumsums).

MTM query constants: fee_rate=0.001, laid_back_tax=0.0001 — chosen to
exercise the fee/tax terms (reference trade_reward.py:144-166).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PnlCalcConfig
from .models import PROFIT_SLIPPAGE
from .mtm_shared import (  # shared with queries_risk.py — see mtm_shared.py
    FEE,
    TAX,
    _ORDER,
    _SIGNALS_SQL,
    _TIMELINE_SQL,
    _W,
    _WCUM,
    _cfg,
    _signals,
    _timeline,
)
from .functions.rounding import ROUND, r9
from .operators.mtm import extract_trades, mtm_summary


# --------------------------------------------------------------------------
# Spark-side queries
# --------------------------------------------------------------------------

def q_price_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.timeseries import price_diff, symbol_window

    sig = _signals(spark, sf_dir)
    w = symbol_window("symbol", _ORDER)
    return sig.select(
        "symbol",
        "timestamp",
        "event_id",
        "close",
        r9(price_diff(F.col("close"), w)).alias("price_movement"),
    )


def q_mtm_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = _timeline(spark, sf_dir)
    return tl.select(
        "symbol",
        "timestamp",
        "event_id",
        "close",
        "buy",
        "sell",
        "position",
        "opened",
        "closed",
        r9(F.col("entry_price")).alias("entry_price"),
        r9(F.col("mtm_ratio")).alias("mtm_ratio"),
        r9(F.col("pnl_ratio")).alias("pnl_ratio"),
    )


def q_pnl_per_symbol(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = _timeline(spark, sf_dir)
    return tl.groupBy("symbol").agg(r9(F.sum("mtm_ratio")).alias("pnl"))


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.timeseries import running_max_drawdown, symbol_window

    tl = _timeline(spark, sf_dir)
    w = symbol_window("symbol", _ORDER)
    dd = running_max_drawdown(F.col("pnl_ratio"), w)
    return (
        tl.withColumn("_dd", dd)
        .groupBy("symbol")
        .agg(r9(F.max("_dd")).alias("max_drawdown"))
    )


def q_sharpe_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = _timeline(spark, sf_dir)
    summ = mtm_summary(tl, ts_col="timestamp")
    return summ.select("symbol", r9(F.col("sharpe_ratio")).alias("sharpe_ratio"))


def q_mtm_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = _timeline(spark, sf_dir)
    summ = mtm_summary(tl, ts_col="timestamp")
    return summ.select(
        "symbol",
        r9(F.col("pnl")).alias("pnl"),
        r9(F.col("max_drawdown")).alias("max_drawdown"),
        r9(F.col("sharpe_ratio")).alias("sharpe_ratio"),
        "mkt_start_epoch",
        "mkt_end_epoch",
        F.col("long_trades_closed").cast("long").alias("long_trades_closed"),
        F.col("long_trades_outstanding").cast("long").alias("long_trades_outstanding"),
    )


def q_trades_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = _timeline(spark, sf_dir)
    tr = extract_trades(tl)
    return tr.select(
        "symbol",
        F.col("trade_id").cast("long").alias("trade_id"),
        "direction",
        "entry_datetime",
        r9(F.col("entry_price")).alias("entry_price"),
        "exit_datetime",
        r9(F.col("exit_price")).alias("exit_price"),
        "is_closed",
        "close_reason",
        r9(F.col("pnl_normalized_gross")).alias("pnl_normalized_gross"),
    )


def q_mtm_full_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL bookkeeper (roi+stoploss+shorts+maxpos=3) — price-feedback
    closes are not SQL-expressible; driver records rows-only. Parity
    with the declarative engine is pytest-proven on restricted configs
    (tests/test_mtm_parity.py)."""
    from .operators.bookkeeper import run_mtm_bookkeeper

    cfg = PnlCalcConfig(
        roi={0: 0.05, 60: 0.02},
        stoploss=-0.03,
        enable_short_position=True,
        max_position_per_symbol=3,
        fee_rate=FEE,
        laid_back_tax=TAX,
    )
    tl = run_mtm_bookkeeper(_signals(spark, sf_dir), cfg, output="timeline")
    return tl.select(
        "symbol",
        "timestamp",
        "close",
        "buy",
        "sell",
        r9(F.col("mtm_ratio")).alias("mtm_ratio"),
        r9(F.col("pnl_ratio")).alias("pnl_ratio"),
    )


def q_mtm_full_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade archive from the full bookkeeper (rows-only check)."""
    from .operators.bookkeeper import run_mtm_bookkeeper

    cfg = PnlCalcConfig(
        roi={0: 0.05, 60: 0.02},
        stoploss=-0.03,
        enable_short_position=True,
        max_position_per_symbol=3,
        fee_rate=FEE,
        laid_back_tax=TAX,
    )
    tr = run_mtm_bookkeeper(_signals(spark, sf_dir), cfg, output="trades")
    return tr.select(
        "symbol",
        "direction",
        "entry_datetime",
        r9(F.col("entry_price")).alias("entry_price"),
        "exit_datetime",
        r9(F.col("exit_price")).alias("exit_price"),
        "is_closed",
        "close_reason",
        r9(F.col("pnl_normalized")).alias("pnl_normalized"),
    )


def q_buy_hold_mtm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline: buy at the first bar, hold to the last."""
    from pyspark.sql import Window

    sig = _signals(spark, sf_dir)
    wf = (
        Window.partitionBy("symbol")
        .orderBy("timestamp", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        sig.select(
            "symbol",
            F.first("close").over(wf).alias("_first"),
            F.last("close").over(wf).alias("_last"),
        )
        .distinct()
        .select(
            "symbol",
            r9((F.col("_last") - F.col("_first")) / F.col("_first")).alias(
                "pnl_buy_hold"
            ),
        )
    )


# --------------------------------------------------------------------------
# DuckDB oracle SQL (shared fragments imported from mtm_shared.py)
# --------------------------------------------------------------------------

_SUMMARY_SQL = f"""
{_TIMELINE_SQL},
dd AS (
  SELECT *,
    greatest(0.0, max(pnl_ratio) OVER ({_WCUM})) - pnl_ratio AS drawdown,
    mtm_ratio - {PROFIT_SLIPPAGE} AS mtm_slip
  FROM timeline
),
summary AS (
  SELECT symbol,
    sum(mtm_ratio) AS pnl,
    max(drawdown) AS max_drawdown,
    CASE WHEN stddev_pop(mtm_slip) = 0 THEN -1e50
         ELSE (sum(mtm_slip) / ((epoch_ms(max(timestamp)) - epoch_ms(min(timestamp))) / 1000.0 / 3600.0))
              / stddev_pop(mtm_slip) * sqrt(365.0 * 24.0)
    END AS sharpe_ratio,
    epoch_ms(min(timestamp)) AS mkt_start_epoch,
    epoch_ms(max(timestamp)) AS mkt_end_epoch,
    CAST(sum(closed) AS BIGINT) AS long_trades_closed,
    CAST(sum(opened) - sum(closed) AS BIGINT) AS long_trades_outstanding
  FROM dd GROUP BY symbol
)"""

ORACLES: dict[str, str] = {
    "price_movement": f"""
WITH {_SIGNALS_SQL}
SELECT symbol, timestamp, event_id, close,
       round(close - lag(close) OVER ({_W}), {ROUND}) + 0.0 AS price_movement
FROM signals
""",
    "mtm_timeline": f"""
{_TIMELINE_SQL}
SELECT symbol, timestamp, event_id, close, buy, sell, position, opened, closed,
       round(entry_price, {ROUND}) + 0.0 AS entry_price,
       round(mtm_ratio, {ROUND}) + 0.0 AS mtm_ratio,
       round(pnl_ratio, {ROUND}) + 0.0 AS pnl_ratio
FROM timeline
""",
    "pnl_per_symbol": f"""
{_TIMELINE_SQL}
SELECT symbol, round(sum(mtm_ratio), {ROUND}) + 0.0 AS pnl FROM timeline GROUP BY symbol
""",
    "max_drawdown": f"""
{_TIMELINE_SQL}
SELECT symbol, round(max(greatest(0.0, rm) - pnl_ratio), {ROUND}) + 0.0 AS max_drawdown
FROM (SELECT *, max(pnl_ratio) OVER ({_WCUM}) AS rm FROM timeline)
GROUP BY symbol
""",
    "sharpe_ratio": f"""
{_SUMMARY_SQL}
SELECT symbol, round(sharpe_ratio, {ROUND}) + 0.0 AS sharpe_ratio FROM summary
""",
    "mtm_summary": f"""
{_SUMMARY_SQL}
SELECT symbol, round(pnl, {ROUND}) + 0.0 AS pnl,
       round(max_drawdown, {ROUND}) + 0.0 AS max_drawdown,
       round(sharpe_ratio, {ROUND}) + 0.0 AS sharpe_ratio,
       mkt_start_epoch, mkt_end_epoch,
       long_trades_closed, long_trades_outstanding
FROM summary
""",
    "trades_extract": f"""
{_TIMELINE_SQL},
entries AS (
  SELECT symbol, trade_id, timestamp AS entry_datetime, close AS entry_price
  FROM (SELECT *, sum(opened) OVER ({_WCUM}) AS trade_id FROM timeline)
  WHERE opened = 1
),
exits AS (
  SELECT symbol, trade_id, timestamp AS exit_datetime, close AS exit_price
  FROM (SELECT *, sum(opened) OVER ({_WCUM}) AS trade_id FROM timeline)
  WHERE closed = 1
)
SELECT e.symbol, CAST(e.trade_id AS BIGINT) AS trade_id,
       'LONG' AS direction,
       e.entry_datetime, round(e.entry_price, {ROUND}) + 0.0 AS entry_price,
       x.exit_datetime, round(x.exit_price, {ROUND}) + 0.0 AS exit_price,
       x.exit_datetime IS NOT NULL AS is_closed,
       CASE WHEN x.exit_datetime IS NOT NULL THEN 'SIGNAL' END AS close_reason,
       round((x.exit_price - e.entry_price) / e.entry_price, {ROUND}) + 0.0 AS pnl_normalized_gross
FROM entries e LEFT JOIN exits x ON e.symbol = x.symbol AND e.trade_id = x.trade_id
""",
    "buy_hold_mtm": f"""
WITH {_SIGNALS_SQL}
SELECT DISTINCT symbol,
       round((last_value(close) OVER wf - first_value(close) OVER wf)
             / first_value(close) OVER wf, {ROUND}) + 0.0 AS pnl_buy_hold
FROM signals
WINDOW wf AS ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
}

def q_mtm_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strategy-grid backtest: 4 configs x all symbols in ONE engine
    pass (the symbols-x-strategies axis that dominates at 100 TB).
    Rows-only check; grid cells cross-check single-config runs in
    tests/test_param_sweep.py."""
    from .operators.bookkeeper import (
        run_mtm_param_sweep_blocked,
        summarize_timeline,
    )

    configs = {
        "base": PnlCalcConfig(roi={0: float("inf")}, stoploss=float("-inf")),
        "fees": _cfg(),
        "roi_tiers": PnlCalcConfig(
            roi={0: 0.05, 60: 0.02}, stoploss=float("-inf"), fee_rate=FEE
        ),
        "stop_shorts": PnlCalcConfig(
            roi={0: float("inf")}, stoploss=-0.03,
            enable_short_position=True, fee_rate=FEE,
        ),
    }
    tl = run_mtm_param_sweep_blocked(_signals(spark, sf_dir), configs)
    s = summarize_timeline(tl, group_cols=["symbol", "config_id"])
    return s.select(
        "symbol",
        "config_id",
        r9(F.col("pnl")).alias("pnl"),
        r9(F.col("max_drawdown")).alias("max_drawdown"),
        r9(F.col("sharpe_ratio")).alias("sharpe_ratio"),
        "mkt_start_epoch",
        "mkt_end_epoch",
    )


#: the real-scale sweep grid: 4 roi tiers x 4 stoplosses x 2 fee
#: settings = 32 configs (mtm_sweep_scale; bench.py times the same grid
#: at block_size=1 as the per-config reference)
SWEEP_SCALE_CONFIGS = {
    f"{rk}__{sk}__{fk}": PnlCalcConfig(roi={0: rv}, stoploss=sv, fee_rate=fv)
    for rk, rv in (
        ("roi_inf", float("inf")), ("roi_10", 0.10), ("roi_5", 0.05), ("roi_2", 0.02)
    )
    for sk, sv in (
        ("sl_inf", float("-inf")), ("sl_10", -0.10), ("sl_5", -0.05), ("sl_2", -0.02)
    )
    for fk, fv in (("fee0", 0.0), ("fee", FEE))
}


def q_mtm_sweep_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep at the REAL grid scale: SWEEP_SCALE_CONFIGS (32 configs) x
    all symbols in one engine pass — the symbols-x-strategies axis from
    SURVEY §4 at the density a production backtest sweep actually runs.
    Purpose-built for the throughput curve of the batched
    ``mapInPandas`` path (bench.py reports configs/sec); correctness of
    the machinery is pinned by mtm_param_sweep's cross-checks and the
    blocked-vs-single-config parity tests, so this entry is rows-only.

    Runs the config-block sweep at k=8: bars are replicated once per
    block through the shuffle instead of once per config, dividing
    shuffle volume by k while symbols x (configs/k) cells keep the
    cluster saturated. Measured at sf0.1/local[32]: 32 configs — k=1
    2.2 cfg/s vs k=8 4.9 cfg/s; 128 configs — k=1 1.9 cfg/s vs k=8
    8.1 cfg/s (4.4x)."""
    from .operators.bookkeeper import (
        run_mtm_param_sweep_blocked,
        summarize_timeline,
    )

    tl = run_mtm_param_sweep_blocked(
        _signals(spark, sf_dir), SWEEP_SCALE_CONFIGS, block_size=8
    )
    s = summarize_timeline(tl, group_cols=["symbol", "config_id"])
    return s.select(
        "symbol",
        "config_id",
        r9(F.col("pnl")).alias("pnl"),
        r9(F.col("max_drawdown")).alias("max_drawdown"),
        r9(F.col("sharpe_ratio")).alias("sharpe_ratio"),
    )


_STREAM_SINK_SEQ = iter(range(1_000_000))


def q_mtm_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: the incremental streaming engine replaying the events table
    (availableNow). Replay-equals-batch is the semantics, so this
    query shares mtm_timeline's oracle — the strongest check a
    streaming op can get. Multi-micro-batch state carry is covered by
    tests/test_streaming.py."""
    from .sources import signals_from_events, stream_table
    from .streaming import await_or_raise
    from .streaming.mtm_stream import streaming_mtm_timeline

    sig = signals_from_events(stream_table(spark, sf_dir, "events"))
    sink = f"mtm_streaming_sink_{next(_STREAM_SINK_SEQ)}"
    q = (
        streaming_mtm_timeline(sig, _cfg())
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    t = spark.table(sink)
    return t.select(
        "symbol", "timestamp", "event_id", "close", "buy", "sell",
        "position", "opened", "closed",
        r9(F.col("entry_price")).alias("entry_price"),
        r9(F.col("mtm_ratio")).alias("mtm_ratio"),
        r9(F.col("pnl_ratio")).alias("pnl_ratio"),
    )


#: fee/tax grid for the STREAMING sweep — the declarative restricted
#: engine's only free parameters, so every cell has a full SQL oracle
_SWEEP_STREAM_GRID: dict[str, tuple[float, float]] = {
    "fee_tax": (FEE, TAX),
    "fee0_tax0": (0.0, 0.0),
    "fee_only": (FEE, 0.0),
    "tax_only": (0.0, TAX),
}


def q_mtm_sweep_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the strategy-grid sweep (VERDICT r5 item 9;
    config-BLOCKED since r7): each symbol is ONE state-store key whose
    state row carries all 4 per-config 5-tuples, and the state fn runs
    the 4 machines over a single copy of each micro-batch's bars —
    shuffle volume into the state operator is bars x 1 instead of
    bars x 4 (the streaming application of the batch sweep's blocking;
    value-parity with the exploded form is pytest-pinned).
    Replay==batch is the semantics, so the oracle is the batch
    timeline cross-joined with the config grid (windows partitioned
    by symbol AND config) — the same full-strength check
    mtm_streaming gets."""
    from .sources import signals_from_events, stream_table
    from .streaming import await_or_raise
    from .streaming.mtm_stream import streaming_mtm_sweep_blocked

    sig = signals_from_events(stream_table(spark, sf_dir, "events"))
    sink = f"mtm_sweep_stream_sink_{next(_STREAM_SINK_SEQ)}"
    q = (
        streaming_mtm_sweep_blocked(sig, _SWEEP_STREAM_GRID)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    t = spark.table(sink)
    return t.select(
        "config_id",
        "symbol", "timestamp", "event_id", "close", "buy", "sell",
        "position", "opened", "closed",
        r9(F.col("entry_price")).alias("entry_price"),
        r9(F.col("mtm_ratio")).alias("mtm_ratio"),
        r9(F.col("pnl_ratio")).alias("pnl_ratio"),
    )


_SW = "PARTITION BY symbol, config_id ORDER BY timestamp, event_id"
_SWCUM = f"{_SW} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
_SWEEP_CFG_VALUES = ", ".join(
    f"('{cid}', {fee}, {tax})"
    for cid, (fee, tax) in sorted(_SWEEP_STREAM_GRID.items())
)

MTM_SWEEP_STREAM_SQL = f"""
WITH {_SIGNALS_SQL},
cfg(config_id, fee, tax) AS (VALUES {_SWEEP_CFG_VALUES}),
sx AS (SELECT s.*, c.config_id, c.fee, c.tax FROM signals s CROSS JOIN cfg c),
s1 AS (
  SELECT *, CASE WHEN buy=1 THEN (CASE WHEN close>0 THEN 'B' END)
                 WHEN sell=1 THEN 'S' END AS sig FROM sx
),
s2 AS (
  SELECT *,
    CASE WHEN last_value(sig IGNORE NULLS) OVER ({_SWCUM}) = 'B'
         THEN 1 ELSE 0 END AS position
  FROM s1
),
s3 AS (
  SELECT *,
    COALESCE(lag(position) OVER ({_SW}), 0) AS prev_pos,
    close - lag(close) OVER ({_SW}) AS price_diff
  FROM s2
),
s4 AS (
  SELECT *,
    CASE WHEN position=1 AND prev_pos=0 THEN 1 ELSE 0 END AS opened,
    CASE WHEN position=0 AND prev_pos=1 THEN 1 ELSE 0 END AS closed
  FROM s3
),
s5 AS (
  SELECT *,
    last_value(CASE WHEN opened=1 THEN close END IGNORE NULLS)
      OVER ({_SWCUM}) AS entry_price
  FROM s4
),
s6 AS (
  SELECT *,
    COALESCE(prev_pos * price_diff / lag(entry_price) OVER ({_SW}), 0)
      - fee * (opened + closed)
      - tax * (1 - position) AS mtm_ratio
  FROM s5
),
timeline AS (
  SELECT *, sum(mtm_ratio) OVER ({_SWCUM}) AS pnl_ratio FROM s6
)
SELECT config_id, symbol, timestamp, event_id, close, buy, sell,
       position, opened, closed,
       round(entry_price, {ROUND}) + 0.0 AS entry_price,
       round(mtm_ratio, {ROUND}) + 0.0 AS mtm_ratio,
       round(pnl_ratio, {ROUND}) + 0.0 AS pnl_ratio
FROM timeline
"""


def q_drawdown_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: drawdown DURATION risk metrics on top of the declarative
    timeline — underwater bars (drawdown > 0) and the longest
    consecutive underwater streak per symbol via the islands trick
    (streak id = running count of surfaced bars). Same per-symbol
    partitioning as the timeline, so the whole chain still costs one
    shuffle plus the final aggregate. Underwater is flagged on the
    ROUNDED drawdown so cumsum noise can't flip a boundary bar."""
    from .functions.timeseries import cum_window, symbol_window

    tl = _timeline(spark, sf_dir)
    wcum = cum_window(symbol_window("symbol", _ORDER))
    dd = r9(
        F.greatest(F.lit(0.0), F.max("pnl_ratio").over(wcum)) - F.col("pnl_ratio")
    )
    t = (
        tl.withColumn("_dd", dd)
        .withColumn("_uw", (F.col("_dd") > 0).cast("int"))
        .withColumn("_streak", F.sum(1 - F.col("_uw")).over(wcum))
    )
    stats = t.groupBy("symbol").agg(
        r9(F.max("_dd")).alias("max_drawdown"),
        F.sum("_uw").cast("long").alias("n_underwater_bars"),
    )
    streaks = (
        t.groupBy("symbol", "_streak")
        .agg(F.sum("_uw").alias("run_len"))
        .groupBy("symbol")
        .agg(F.max("run_len").cast("long").alias("max_underwater_streak"))
    )
    return stats.join(streaks, "symbol")


DRAWDOWN_STATS_SQL = f"""
{_TIMELINE_SQL},
d1 AS (
  SELECT *, round(greatest(0.0, max(pnl_ratio) OVER ({_WCUM})) - pnl_ratio, {ROUND}) + 0.0 AS dd
  FROM timeline
),
d2 AS (SELECT *, CASE WHEN dd > 0 THEN 1 ELSE 0 END AS uw FROM d1),
d3 AS (SELECT *, sum(1 - uw) OVER ({_WCUM}) AS streak FROM d2),
per_streak AS (
  SELECT symbol, streak, sum(uw) AS run_len FROM d3 GROUP BY symbol, streak
),
stats AS (
  SELECT symbol, round(max(dd), {ROUND}) + 0.0 AS max_drawdown,
         CAST(sum(uw) AS BIGINT) AS n_underwater_bars
  FROM d3 GROUP BY symbol
),
streaks AS (
  SELECT symbol, CAST(max(run_len) AS BIGINT) AS max_underwater_streak
  FROM per_streak GROUP BY symbol
)
SELECT s.symbol, s.max_drawdown, s.n_underwater_bars, st.max_underwater_streak
FROM stats s JOIN streaks st USING (symbol)
"""


def q_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: resample the tick-level value stream to hourly OHLC bars
    per symbol — one aggregate pass (min_by/max_by give open/close
    without a sort or window; all four legs partial-aggregate
    map-side). (symbol, ts) is unique in the data so the open/close
    pick is deterministic."""
    sig = _signals(spark, sf_dir)
    hour = F.date_trunc("hour", F.col("timestamp"))
    return (
        sig.groupBy("symbol", hour.alias("bar_ts"))
        .agg(
            r9(F.min_by("close", "timestamp")).alias("open"),
            r9(F.max("close")).alias("high"),
            r9(F.min("close")).alias("low"),
            r9(F.max_by("close", "timestamp")).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


RESAMPLE_OHLC_SQL = f"""
WITH {_SIGNALS_SQL}
SELECT symbol, date_trunc('hour', timestamp) AS bar_ts,
       round(arg_min(close, timestamp), {ROUND}) + 0.0 AS open,
       round(max(close), {ROUND}) + 0.0 AS high,
       round(min(close), {ROUND}) + 0.0 AS low,
       round(arg_max(close, timestamp), {ROUND}) + 0.0 AS close,
       count(*) AS n_ticks
FROM signals
GROUP BY symbol, date_trunc('hour', timestamp)
"""


def q_events_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: watermarked tumbling-window aggregation on the event
    stream (streaming/windowed.py). UPDATE mode + availableNow: the
    watermark actually evicts closed-window state (it is inert in
    complete mode — r9), every counter revision lands in the sink,
    and the final counters are recovered at read with
    latest_window_counts. Replay == the plain batch group-by, which
    is the oracle."""
    from .sources import stream_table
    from .streaming import await_or_raise
    from .streaming.windowed import latest_window_counts, windowed_event_counts

    ev = stream_table(spark, sf_dir, "events")
    sink = f"events_window_sink_{next(_STREAM_SINK_SEQ)}"
    q = (
        windowed_event_counts(ev)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    return latest_window_counts(
        spark.table(sink), ["window_start_epoch", "user_id", "event_type"]
    )


EVENTS_STREAM_WINDOW_SQL = """
SELECT CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS window_start_epoch,
       user_id, event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY 1, user_id, event_type
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "mtm_streaming": q_mtm_streaming,
    "events_stream_window": q_events_stream_window,
    "price_movement": q_price_movement,
    "mtm_timeline": q_mtm_timeline,
    "pnl_per_symbol": q_pnl_per_symbol,
    "max_drawdown": q_max_drawdown,
    "sharpe_ratio": q_sharpe_ratio,
    "mtm_summary": q_mtm_summary,
    "trades_extract": q_trades_extract,
    "buy_hold_mtm": q_buy_hold_mtm,
    "mtm_full_engine": q_mtm_full_engine,
    "mtm_full_trades": q_mtm_full_trades,
    "mtm_param_sweep": q_mtm_param_sweep,
    "mtm_sweep_scale": q_mtm_sweep_scale,
    "mtm_sweep_stream": q_mtm_sweep_stream,
    "drawdown_stats": q_drawdown_stats,
    "resample_ohlc": q_resample_ohlc,
}

# streaming replay == batch timeline, so the oracle is shared
ORACLES["mtm_streaming"] = ORACLES["mtm_timeline"]
ORACLES["mtm_sweep_stream"] = MTM_SWEEP_STREAM_SQL
ORACLES["events_stream_window"] = EVENTS_STREAM_WINDOW_SQL
ORACLES["drawdown_stats"] = DRAWDOWN_STATS_SQL
ORACLES["resample_ohlc"] = RESAMPLE_OHLC_SQL

# analytics block (B) — see queries_analytics.py
from .queries_analytics import ANALYTICS_ORACLES, ANALYTICS_QUERIES  # noqa: E402

QUERIES.update(ANALYTICS_QUERIES)
ORACLES.update(ANALYTICS_ORACLES)

# LLM-pipeline block (C) — see queries_pipeline.py
from .queries_pipeline import PIPELINE_ORACLES, PIPELINE_QUERIES  # noqa: E402

QUERIES.update(PIPELINE_QUERIES)
ORACLES.update(PIPELINE_ORACLES)

# The driver's CORRECTNESS harness evaluates only the first 50 entries
# of queries(); every SURVEY §2 operator must sit inside that window.
# These variants stay fully oracle-tested in pytest
# (tests/test_queries_oracle.py runs QUERIES ∪ EXTRA_QUERIES) but are
# excluded from the driver registry:
#   - pnl_per_symbol / max_drawdown / sharpe_ratio: the same metrics
#     are driver-checked as columns of mtm_summary (SURVEY A3-A5);
#   - simhash: the signature computation is driver-checked inside
#     simhash_pairs and dedup_connected (SURVEY C10/C17);
#   - mtm_full_trades / mtm_param_sweep: no SQL oracle exists (full
#     bookkeeper feedback loop); both are parity-tested head-to-head
#     against the reference engine in tests/test_reference_parity.py.
EXTRA_KEYS = (
    "pnl_per_symbol",
    "max_drawdown",
    "sharpe_ratio",
    "mtm_full_trades",
    "mtm_param_sweep",
    "mtm_sweep_scale",
    "mtm_sweep_stream",  # r6: fully oracled; r7 rotation candidate
    "simhash",
)
EXTRA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    k: QUERIES.pop(k) for k in EXTRA_KEYS
}
EXTRA_ORACLES: dict[str, str] = {
    k: ORACLES.pop(k) for k in EXTRA_KEYS if k in ORACLES
}

# C20+ training-data-pipeline operators (SURVEY §2 C-block tail):
# pytest-extras for the same reason — the 50 driver slots are all
# taken by §2 core keys. See queries_pipeline_extras.py.
from .queries_pipeline_extras import (  # noqa: E402
    PIPELINE_EXTRA_ORACLES,
    PIPELINE_EXTRA_QUERIES,
)

EXTRA_QUERIES.update(PIPELINE_EXTRA_QUERIES)
EXTRA_ORACLES.update(PIPELINE_EXTRA_ORACLES)

# B22+ TPC-H classics (same driver-window reason)
from .queries_analytics import (  # noqa: E402
    ANALYTICS_EXTRA_ORACLES,
    ANALYTICS_EXTRA_QUERIES,
)

EXTRA_QUERIES.update(ANALYTICS_EXTRA_QUERIES)
EXTRA_ORACLES.update(ANALYTICS_EXTRA_ORACLES)

# A15-A17 risk/portfolio analytics (same driver-window reason)
from .queries_risk import RISK_EXTRA_ORACLES, RISK_EXTRA_QUERIES  # noqa: E402

EXTRA_QUERIES.update(RISK_EXTRA_QUERIES)
EXTRA_ORACLES.update(RISK_EXTRA_ORACLES)

# round-8 surface: SCD2 history, table profiling, distributed PCA,
# BM25 / hybrid retrieval, boilerplate stripping (same reason)
from .queries_r8 import R8_ORACLES, R8_QUERIES  # noqa: E402
from .queries_r9 import R9_ORACLES, R9_QUERIES  # noqa: E402

EXTRA_QUERIES.update(R8_QUERIES)
EXTRA_ORACLES.update(R8_ORACLES)
EXTRA_QUERIES.update(R9_QUERIES)
EXTRA_ORACLES.update(R9_ORACLES)

# round-10 surface: incremental CC dedup admission (standing-index
# probe made oracle-checkable; same reason)
from .queries_r10 import R10_ORACLES, R10_QUERIES  # noqa: E402

EXTRA_QUERIES.update(R10_QUERIES)
EXTRA_ORACLES.update(R10_ORACLES)

# round-10 second batch: market-basket mining, co-purchase PageRank,
# Markov transitions, median/MAD anomaly screen, Deequ-style DQ audit
from .queries_r10b import R10B_ORACLES, R10B_QUERIES  # noqa: E402

EXTRA_QUERIES.update(R10B_QUERIES)
EXTRA_ORACLES.update(R10B_ORACLES)

# round-11 batch: the five remaining TPC-H heads, adapted to the
# testdata schema (q2/q11/q12/q16/q20) — completes the 22-query suite
from .queries_r11 import R11_ORACLES, R11_QUERIES  # noqa: E402

EXTRA_QUERIES.update(R11_QUERIES)
EXTRA_ORACLES.update(R11_ORACLES)

# round-11 streaming batch: SCD2 maintenance under foreachBatch MERGE,
# FULL OUTER watermarked stream-stream join with two-sided tail flush
from .queries_r11b import R11B_ORACLES, R11B_QUERIES  # noqa: E402

EXTRA_QUERIES.update(R11B_QUERIES)
EXTRA_ORACLES.update(R11B_ORACLES)

# round-12 batch: loader-ready shard packing (C64 shuffle ∘ C24 pack)
from .queries_r12 import R12_ORACLES, R12_QUERIES  # noqa: E402

EXTRA_QUERIES.update(R12_QUERIES)
EXTRA_ORACLES.update(R12_ORACLES)

# round-13 batch: streaming shard packing (the C66 admission twin)
from .queries_r13 import R13_ORACLES, R13_QUERIES  # noqa: E402

EXTRA_QUERIES.update(R13_QUERIES)
EXTRA_ORACLES.update(R13_ORACLES)

# round-14 batch: k-core decomposition over the co-purchase graph
from .queries_r14 import R14_ORACLES, R14_QUERIES  # noqa: E402

EXTRA_QUERIES.update(R14_QUERIES)
EXTRA_ORACLES.update(R14_ORACLES)

# round-14 second batch: the graph family completed — LPA communities,
# local clustering coefficients, Adamic-Adar link prediction
from .queries_r14b import R14B_ORACLES, R14B_QUERIES  # noqa: E402

EXTRA_QUERIES.update(R14B_QUERIES)
EXTRA_ORACLES.update(R14B_ORACLES)

# round-15 batch: co-purchase connected components, the LPA-communities
# stream twin, and the degree-distribution rollup
from .queries_r15 import R15_ORACLES, R15_QUERIES  # noqa: E402

EXTRA_QUERIES.update(R15_QUERIES)
EXTRA_ORACLES.update(R15_ORACLES)

# round-16 batch: incremental components maintenance (contraction
# refresh) + the corpus novelty-saturation curve
from .queries_r16 import R16_ORACLES, R16_QUERIES  # noqa: E402

EXTRA_QUERIES.update(R16_QUERIES)
EXTRA_ORACLES.update(R16_ORACLES)

# round-17 batch: k-truss backbone (the cohesive-subgraph family's
# triangle-cohesion classic), first-class ANN recall eval, and the
# two-window mean-shift changepoint screen
from .queries_r17 import R17_ORACLES, R17_QUERIES  # noqa: E402

EXTRA_QUERIES.update(R17_QUERIES)
EXTRA_ORACLES.update(R17_ORACLES)

# --- round-5 driver-window rotation (VERDICT r4, next-round item 1) ---------
# The driver CORRECTNESS harness only ever sees the first 50 queries();
# everything else is verified by the identical DuckDB harness in pytest.
# To convert "pytest says green" into "driver says green" for queries that
# have never crossed the driver's independent window, long-green
# low-information slots (row-local projections, simple aggregates whose
# shapes are also exercised by other window keys) rotate OUT to the pytest
# registry and never-driver-verified keys rotate IN.  Total pytest coverage
# is unchanged: tests/test_queries_oracle.py runs QUERIES ∪ EXTRA_QUERIES.
ROTATED_OUT_R5 = (
    "price_movement",
    "value_histogram",
    "events_pivot",
    "distinct_users_daily",
    "token_count",
    "doc_fingerprint",
    "text_stats",
    "lang_id",
    "q6_revenue_delta",
    "token_histogram",
)
ROTATED_IN_R5 = (
    "q8_market_share",
    "q21_late_suppliers",
    "events_json_extract",
    "dedup_incremental",
    "multimodal_pixels",
    "risk_metrics",
    "trade_stats",
    "dedup_substring",
    "bpe_apply",
    "dedup_semantic",
)
# --- round-6 rotation (VERDICT r5, next-round item 2) -----------------------
# The 13 r5-new keys had never crossed the driver's independent oracle.
# Ten oracled ones rotate IN (mtm_sweep_scale stays pytest — rows-only by
# design; embedding_outliers and multimodal_stream_decode queue for r7);
# ten long-green slots whose shapes are also covered by remaining window
# keys rotate OUT to the pytest registry.
ROTATED_OUT_R6 = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q10_returned_items",
    "q18_large_orders",
    "rolling_revenue_7d",
    "revenue_rollup",
    "events_funnel",
    "dedup_exact",
    "ann_lsh_buckets",
)
ROTATED_IN_R6 = (
    "events_json_stream",
    "ann_pq_rerank",
    "dedup_incremental_near",
    "multimodal_audio",
    "multimodal_gif",
    "multimodal_resize",
    "multimodal_frames",
    "doc_feature_hashing",
    "corpus_mixture_weights",
    "quality_classifier_scores",
)
# --- round-7 rotation (VERDICT r6, next-round item 2) -----------------------
# Twelve never-driver-verified keys rotate IN: the four r6-new operators,
# the streaming family (stream_join/session/enrich + mtm_sweep_stream),
# and long-standing extras (tech_indicators, contamination_check,
# corpus_filter_pipeline — extended this round, embedding_outliers).
# Twelve long-green slots rotate OUT, including the two rows-only
# approx_* sketches (their driver check was rows-only anyway; their
# tolerance-vs-exact pytest checks are the real gate) — so the window
# trades two no_oracle slots for two fully-oracled ones.
ROTATED_OUT_R7 = (
    "resample_ohlc",
    "top_customers_window",
    "doc_chunks",
    "tf_idf_top_terms",
    "ann_cosine_topk",
    "q5_local_supplier",
    "text_quality",
    "trades_extract",
    "buy_hold_mtm",
    "dedup_ngram_jaccard",
    "approx_price_quantiles",
    "approx_distinct_users_daily",
)
ROTATED_IN_R7 = (
    "mtm_sweep_stream",
    "doc_repetition",
    "doc_winnowing",
    "quality_thresholds_by_lang",
    "tech_indicators",
    "stream_join",
    "stream_session",
    "stream_enrich",
    "corpus_filter_pipeline",
    "contamination_check",
    "embedding_outliers",
    "symbol_correlation",
)
# --- round-8 rotation (VERDICT r7, next-round item 2) -----------------------
# Twelve more keys from the never-driver-verified queue (SURVEY §2
# preamble, oldest first) rotate IN: the round-2 training-pipeline
# extras and the sketch/probabilistic family. mtm_sweep_stream STAYS
# in the window so its r7 negative-zero hash fix is driver-verified.
# Twelve long-green slots rotate OUT: the r1 cohort whose shapes are
# covered by remaining keys (events_sessionize by stream_session,
# events_json_extract by events_json_stream, bpe_apply by the
# incoming bpe_train, multimodal_decode by the five pixel-level
# codec keys) and the r5 cohort green since first exposure.
ROTATED_OUT_R8 = (
    "events_sessionize",
    "asof_join",
    "skew_join_salted",
    "events_error_burst",
    "price_quantiles",
    "q8_market_share",
    "q21_late_suppliers",
    "events_json_extract",
    "risk_metrics",
    "trade_stats",
    "bpe_apply",
    "multimodal_decode",
)
ROTATED_IN_R8 = (
    "stream_dedup",
    "train_val_split",
    "pii_scrub",
    "embedding_quantize",
    "sequence_pack",
    "stratified_sample",
    "ngram_counts",
    "bpe_train",
    "ann_pq_topk",
    "token_cms_topk",
    "doc_perplexity",
    "bloom_prefilter",
)
# --- round-9 rotation (VERDICT r8, next-round item 4) -----------------------
# The never-driver-verified queue heads (SURVEY §2 preamble, oldest
# first) rotate IN: the remaining TPC-H analytics cohort, the
# streaming media decode, and the image-dedup pair family. The entire
# r7 cohort rotates OUT — every one of its 12 keys has been
# driver-green for two consecutive rounds (r7 first exposure, r8
# confirm), including mtm_sweep_stream whose r7 hash fix is now
# driver-verified; their shapes stay covered in-window (streaming by
# stream_dedup/mtm_streaming/events_stream_window/events_json_stream,
# doc quality/dedup by the C-family keys that remain).
ROTATED_OUT_R9 = (
    "mtm_sweep_stream",
    "doc_repetition",
    "doc_winnowing",
    "quality_thresholds_by_lang",
    "tech_indicators",
    "stream_join",
    "stream_session",
    "stream_enrich",
    "corpus_filter_pipeline",
    "contamination_check",
    "embedding_outliers",
    "symbol_correlation",
)
ROTATED_IN_R9 = (
    "upsert_latest",
    "q7_volume_shipping",
    "q13_order_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q19_disjunctive_pushdown",
    "q22_idle_customers",
    "q9_profit_by_nation",
    "multimodal_stream_decode",
    "image_dhash",
    "image_dhash_pairs",
)
# --- round-10 rotation (VERDICT r9, next-round item 1) ----------------------
# Queue heads in, oldest first — this batch finally exposes the r7
# streaming family (CDC upsert via foreachBatch, watermarked outer
# join, dynamic session windows) plus the audio/image dedup extras
# and the r8 profiling pair to the driver's independent harness. The
# whole r8 cohort rotates OUT: every one of its 12 keys has been
# driver-green for two consecutive rounds (r8 first exposure, r9
# confirm); their shapes stay covered in-window (sketches by
# approx-profile-family pytest pins, the training extras by
# classifier_train_lr rotating in).
ROTATED_OUT_R10 = (
    "stream_dedup",
    "train_val_split",
    "pii_scrub",
    "embedding_quantize",
    "sequence_pack",
    "stratified_sample",
    "ngram_counts",
    "bpe_train",
    "ann_pq_topk",
    "token_cms_topk",
    "doc_perplexity",
    "bloom_prefilter",
)
ROTATED_IN_R10 = (
    "image_dedup_connected",
    "audio_fingerprint",
    "audio_fp_pairs",
    "events_variant",
    "stream_upsert",
    "stream_join_outer",
    "stream_session_dynamic",
    "rolling_beta",
    "resample_ffill",
    "classifier_train_lr",
    "scd2_history",
    "table_profile",
)
# --- round-11 rotation (VERDICT r9 item 8: the endgame batch) ---------------
# ALL 22 remaining never-driver-verified oracled keys rotate IN at
# once, clearing the queue — after this round every oracled key in the
# registry has crossed the driver's independent window at least once.
# (approx_table_profile is rows-only by design — its tolerance-vs-exact
# pytest pin is the real gate — so the window carries two declared
# no_oracle slots this round.) Rotate-outs, per the published plan:
# the whole r9 cohort (driver-green r9+r10), the four remaining r5
# cohort keys (green since r5), and the six longest-green r6 keys
# whose shapes stay covered — media by the r10-in image/audio dedup
# keys, incremental dedup by the incoming CC family, streaming by the
# five streaming keys still in-window plus the two incoming streaming
# dedup keys.
ROTATED_OUT_R11 = (
    # r9 cohort, two rounds green
    "upsert_latest",
    "q7_volume_shipping",
    "q13_order_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q19_disjunctive_pushdown",
    "q22_idle_customers",
    "q9_profit_by_nation",
    "multimodal_stream_decode",
    "image_dhash",
    "image_dhash_pairs",
    # r5 cohort, six rounds green
    "dedup_incremental",
    "multimodal_pixels",
    "dedup_substring",
    "dedup_semantic",
    # r6 cohort, five rounds green
    "multimodal_audio",
    "multimodal_gif",
    "multimodal_resize",
    "multimodal_frames",
    "events_json_stream",
    "corpus_mixture_weights",
)
ROTATED_IN_R11 = (
    # r8 registrants
    "embedding_pca_power",
    "bm25_topk",
    "hybrid_search_rrf",
    "boilerplate_segments",
    # r9 registrants
    "approx_table_profile",
    "hybrid_bm25_pq_rrf",
    "doc_char_entropy",
    "token_zipf_fit",
    "dedup_keep_best",
    "retention_cohort",
    "stream_topk_trending",
    # r10 registrants
    "dedup_cc_probe",
    "dedup_cc_refresh",
    "dedup_incremental_near_stream",
    "embedding_pca_topk",
    "text_normalize",
    "dedup_cc_probe_stream",
    "basket_pairs",
    "copurchase_pagerank",
    "user_transition_matrix",
    "events_anomaly_mad",
    "dq_audit",
)
# R12: the 11 r11-new keys PLUS r12's own corpus_pack_shards take
# their driver exposure — the never-driver-verified queue is empty
# again. Rotate-outs follow VERDICT r11 item 1: the three CC live
# chains go out first (~58 s of the sf0.01 sim window — the heaviest
# keys in it, and each has a standing-index probe twin still pinned
# in pytest), then nine two-round-green r10-cohort keys, preferring
# the heavy streaming ones whose SHAPES the incoming keys supersede
# (scd2_stream covers scd2_history + the upsert-sink machinery;
# stream_join_full_outer covers stream_join_outer's sentinel-flush
# recipe; audio_fp_pairs' banded-pair shape stays covered by the
# in-window audio_fingerprint + the image_dhash_pairs pytest twin).
ROTATED_OUT_R12 = (
    # r11 cohort CC live chains, driver-green r11
    "dedup_cc_probe",
    "dedup_cc_refresh",
    "dedup_cc_probe_stream",
    # r10 cohort, driver-green r10+r11
    "stream_upsert",
    "stream_join_outer",
    "stream_session_dynamic",
    "scd2_history",
    "table_profile",
    "classifier_train_lr",
    "rolling_beta",
    "resample_ffill",
    "audio_fp_pairs",
)
ROTATED_IN_R12 = (
    # r11 registrants — the entire never-driver-verified queue
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q12_late_priority",
    "q16_supplier_counts",
    "q20_excess_suppliers",
    "corpus_shuffle_shards",
    "corpus_weighted_sample",
    "scd2_stream",
    "stream_join_full_outer",
    "user_rfm_segments",
    "events_seasonality",
    # r12's own registrant takes its exposure the same round (the r11
    # endgame precedent) — integer/string outputs only, hash-safe by
    # construction; the never-driver-verified queue is EMPTY again
    "corpus_pack_shards",
)
ROTATED_OUT_R13 = (
    # two-round-green r11-rotation cohort (driver-green r11 + r12);
    # every rotated-out shape keeps an in-window or pytest twin:
    # pca_topk → embedding_pca_power (in-window) + pytest oracle,
    # keep_best/pagerank/basket → the simhash/CC and agg families
    # still in-window + their own pytest oracles
    "embedding_pca_topk",
    "copurchase_pagerank",
    "dedup_keep_best",
    "basket_pairs",
    "token_zipf_fit",
    "doc_char_entropy",
    "boilerplate_segments",
    "retention_cohort",
    "user_transition_matrix",
    "events_anomaly_mad",
    "dq_audit",
)
ROTATED_IN_R13 = (
    # second-pass refresh (VERDICT r12 item 4): the r5–r8 cohort whose
    # only driver exposure is now ≥4 rounds old
    "contamination_check",
    "corpus_filter_pipeline",
    "dedup_substring",
    "dedup_semantic",
    "tech_indicators",
    "stream_join",
    "stream_session",
    "mtm_sweep_stream",
    # r13's own registrants take their exposure the same round (the
    # standing pattern; integer/string/rounded-double outputs only)
    "corpus_pack_shards_stream",
    "multimodal_mpeg1",
    "copurchase_triangles",
)
ROTATED_OUT_R14 = (
    # two-round-green r12-rotation cohort (driver-green r12 + r13);
    # every rotated-out shape keeps an in-window or pytest twin: the
    # TPC-H heads keep q1/q3/q5-style siblings plus their own pytest
    # oracles, the corpus shuffle/sample/pack family keeps
    # corpus_pack_shards_stream (in-window r13–r14) which hash-matches
    # the batch C66 oracle, and the streaming pair keeps scd2's + full
    # outer's pytest equality pins
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q12_late_priority",
    "q16_supplier_counts",
    "q20_excess_suppliers",
    "corpus_shuffle_shards",
    "corpus_weighted_sample",
    "scd2_stream",
    "stream_join_full_outer",
    "user_rfm_segments",
    "events_seasonality",
    "corpus_pack_shards",
    # three-round-green r11-rotation holdover (driver-green r11-r13),
    # making the slot for the r14 registrant below
    "doc_feature_hashing",
)
ROTATED_IN_R14 = (
    # second-pass refresh, r9 cohort (SURVEY §7 round-14 plan): last
    # driver exposure r10, ≥4 rounds old
    "upsert_latest",
    "q7_volume_shipping",
    "q9_profit_by_nation",
    "q13_order_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q19_disjunctive_pushdown",
    "q22_idle_customers",
    "multimodal_stream_decode",
    "image_dhash",
    "image_dhash_pairs",
    # r14's own registrant takes its exposure the same round (the
    # standing pattern; BIGINT outputs only — hash-safe by
    # construction)
    "copurchase_kcore",
)
ROTATED_OUT_R15 = (
    # two-round-green r13-rotation cohort (driver-green r13 + r14),
    # per the SURVEY §7 round-15 plan: the r13 second-pass refresh
    # block plus r13's own registrants. Every rotated-out shape keeps
    # an in-window or pytest twin: the corpus/dedup chains keep their
    # pytest oracles plus the in-window dedup_connected /
    # dedup_minhash_lsh siblings, the streaming pair keeps
    # mtm_streaming / dedup_incremental_near_stream in-window, and
    # copurchase_triangles' kernel stays exercised by the six r15
    # graph rotate-ins that share it (operators/graph.py).
    "contamination_check",
    "corpus_filter_pipeline",
    "dedup_substring",
    "dedup_semantic",
    "tech_indicators",
    "stream_join",
    "stream_session",
    "mtm_sweep_stream",
    "corpus_pack_shards_stream",
    "multimodal_mpeg1",
    "copurchase_triangles",
    # five longest-exposed window keys (driver-green r9/r10 through
    # r14, ≥5 consecutive green rounds) making slots for the 16-key
    # rotate-in; each keeps family coverage: simhash_pairs →
    # dedup_connected (in-window, same simhash band chain),
    # quality_classifier_scores → text_quality/corpus_filter pytest
    # oracles, events_variant → events_json_extract pytest oracle,
    # stream_topk_trending → the in-window streaming family,
    # text_normalize → its own pytest oracle.
    "simhash_pairs",
    "quality_classifier_scores",
    "events_variant",
    "stream_topk_trending",
    "text_normalize",
)
ROTATED_IN_R15 = (
    # the nine-key first-exposure block registered in the r14 second
    # session AFTER the r14 window was fixed (SURVEY §7 item 20); all
    # nine pre-verified hash-green at sf0.001 AND sf0.01 under the
    # vanilla-session harness at the r14 close
    "copurchase_kcore_stream",
    "copurchase_topk_similar",
    "copurchase_communities",
    "copurchase_clustering",
    "copurchase_link_predict",
    "copurchase_graph_profile",
    "minhash_calibration",
    "lang_id_confusion",
    "dedup_cluster_stats",
    # second-pass refresh, stale cohort: last driver exposure ≥4
    # rounds old (bloom_prefilter r10, events_json_stream r10,
    # symbol_correlation r8, stream_dedup r8, train_val_split r10,
    # pii_scrub r10, embedding_quantize r10); all seven re-verified
    # hash-green at sf0.01 at the r14 close
    "bloom_prefilter",
    "events_json_stream",
    "symbol_correlation",
    "stream_dedup",
    "train_val_split",
    "pii_scrub",
    "embedding_quantize",
)
ROTATED_OUT_R16 = (
    # two-round-green r14-rotation cohort (driver-green r14 + r15),
    # per the SURVEY §7 round-16 plan: the r9 second-pass refresh
    # block plus r14's own registrant. Every rotated-out shape keeps
    # an in-window or pytest twin: the TPC-H heads keep q1/q3-style
    # siblings plus their own pytest oracles, the media pair keeps
    # image_dedup_connected (in-window, same dhash band chain), the
    # kcore batch form keeps copurchase_kcore_stream (in-window, same
    # peel kernel) plus its own pytest oracle.
    "upsert_latest",
    "q7_volume_shipping",
    "q9_profit_by_nation",
    "q13_order_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q19_disjunctive_pushdown",
    "q22_idle_customers",
    "multimodal_stream_decode",
    "image_dhash",
    "image_dhash_pairs",
    "copurchase_kcore",
    # four longest-exposed window keys (driver-green since round 1,
    # 14 consecutive green rounds — the longest exposure of any
    # non-flagship key) making slots for the 17-key rotate-in; each
    # keeps family coverage: dedup_minhash_lsh → dedup_incremental_near
    # + minhash_calibration (in-window, same band chain) + its pytest
    # oracle, dedup_embedding → dedup_connected (in-window) + pytest,
    # ann_ivf_topk/trained → ann_pq_rerank + hybrid_bm25_pq_rrf
    # (in-window, same centroid/ADC machinery) + their pytest oracles.
    # The six flagship MTM/stream anchors (mtm_* / events_stream_window
    # / drawdown_stats) stay pinned — they are the reference-surface
    # heads the driver smoke-checks through entry().
    "dedup_minhash_lsh",
    "dedup_embedding",
    "ann_ivf_topk",
    "ann_ivf_trained",
    # two more slots for the r16 registrants below. dedup_cluster_stats
    # follows the SURVEY §7 budget note verbatim: with dedup_keep_best
    # rotating in, only ONE live simhash+CC chain should sit in-window
    # at a time (both ride the same ~20-40 s chain; cluster_stats is
    # driver-green r15 and keeps its pytest oracle + the in-window
    # dedup_keep_best twin on the same kernel). audio_fingerprint is
    # the next-longest-exposed key (driver-green r10-r15, 6 rounds);
    # the audio family keeps audio_fp_pairs' pytest oracle and the
    # in-window image_dedup_connected on the same banded-media chain.
    "dedup_cluster_stats",
    "audio_fingerprint",
)
ROTATED_IN_R16 = (
    # r16's own registrants take their exposure the same round (the
    # standing pattern; BIGINT + round(x,9)+0.0 outputs only —
    # hash-safe by construction)
    "copurchase_components_refresh",
    "novelty_saturation",
    # the six r15 registrants take their first driver exposure — all
    # pre-verified hash-green at sf0.001 AND sf0.01 under the
    # vanilla-session harness at the r15 close (SURVEY §7 item 21)
    "copurchase_components",
    "copurchase_communities_stream",
    "copurchase_degree_histogram",
    "copurchase_edge_embeddedness",
    "ngram_novelty",
    "ngram_novelty_probe",
    # second-pass refresh, stale r11 cohort: last driver exposure r12,
    # ≥4 rounds old at r16; ALL pre-verified hash-green at sf0.01 via
    # SIM_KEYS at the r15 close (pass=11 fail=0)
    "embedding_pca_topk",
    "copurchase_pagerank",
    "dedup_keep_best",
    "basket_pairs",
    "token_zipf_fit",
    "doc_char_entropy",
    "boilerplate_segments",
    "retention_cohort",
    "user_transition_matrix",
    "events_anomaly_mad",
    "dq_audit",
)
for _out, _in in (
    (ROTATED_OUT_R5, ROTATED_IN_R5),
    (ROTATED_OUT_R6, ROTATED_IN_R6),
    (ROTATED_OUT_R7, ROTATED_IN_R7),
    (ROTATED_OUT_R8, ROTATED_IN_R8),
    (ROTATED_OUT_R9, ROTATED_IN_R9),
    (ROTATED_OUT_R10, ROTATED_IN_R10),
    (ROTATED_OUT_R11, ROTATED_IN_R11),
    (ROTATED_OUT_R12, ROTATED_IN_R12),
    (ROTATED_OUT_R13, ROTATED_IN_R13),
    (ROTATED_OUT_R14, ROTATED_IN_R14),
    (ROTATED_OUT_R15, ROTATED_IN_R15),
    (ROTATED_OUT_R16, ROTATED_IN_R16),
):
    for _k in _out:
        EXTRA_QUERIES[_k] = QUERIES.pop(_k)
        if _k in ORACLES:
            EXTRA_ORACLES[_k] = ORACLES.pop(_k)
    for _k in _in:
        QUERIES[_k] = EXTRA_QUERIES.pop(_k)
        if _k in EXTRA_ORACLES:
            ORACLES[_k] = EXTRA_ORACLES.pop(_k)

# Rotation-proof merged view for tests and tooling: every registered
# query regardless of which side of the driver window it sits on.
ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    **QUERIES,
    **EXTRA_QUERIES,
}
ALL_ORACLES: dict[str, str] = {**ORACLES, **EXTRA_ORACLES}
