"""Driver-facing query registry: Spark implementation + DuckDB oracle.

Each entry in ``ALL_QUERIES`` is a callable (spark, sf_dir) ->
DataFrame; ``ALL_ORACLES`` holds the equivalent DuckDB SQL over the
same parquet tables (pre-registered views). ``QUERIES`` / ``ORACLES``
are the driver's view: the keys of ``DRIVER_WINDOW``, in its order.
Column names/types are kept in lock-step — floats are rounded to 9
decimals on BOTH sides so the order-insensitive value-hash comparison
is robust to engine-level summation-order differences (measured
<= 6e-14 on cumsums).

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
from .queries_analytics import ANALYTICS_ORACLES, ANALYTICS_QUERIES
from .queries_pipeline import PIPELINE_ORACLES, PIPELINE_QUERIES
from .queries_pipeline_extras import (
    PIPELINE_EXTRAS_ORACLES,
    PIPELINE_EXTRAS_QUERIES,
)
from .queries_r8 import R8_ORACLES, R8_QUERIES
from .queries_r9 import R9_ORACLES, R9_QUERIES
from .queries_r10 import R10_ORACLES, R10_QUERIES
from .queries_r10b import R10B_ORACLES, R10B_QUERIES
from .queries_r11 import R11_ORACLES, R11_QUERIES
from .queries_r11b import R11B_ORACLES, R11B_QUERIES
from .queries_r12 import R12_ORACLES, R12_QUERIES
from .queries_r13 import R13_ORACLES, R13_QUERIES
from .queries_r14 import R14_ORACLES, R14_QUERIES
from .queries_r14b import R14B_ORACLES, R14B_QUERIES
from .queries_r15 import R15_ORACLES, R15_QUERIES
from .queries_r16 import R16_ORACLES, R16_QUERIES
from .queries_r17 import R17_ORACLES, R17_QUERIES
from .queries_risk import RISK_ORACLES, RISK_QUERIES


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

MTM_ORACLES: dict[str, str] = {
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


MTM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
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
MTM_ORACLES["mtm_streaming"] = MTM_ORACLES["mtm_timeline"]
MTM_ORACLES["mtm_sweep_stream"] = MTM_SWEEP_STREAM_SQL
MTM_ORACLES["events_stream_window"] = EVENTS_STREAM_WINDOW_SQL
MTM_ORACLES["drawdown_stats"] = DRAWDOWN_STATS_SQL
MTM_ORACLES["resample_ohlc"] = RESAMPLE_OHLC_SQL

# Every registered query, whichever side of the driver window it sits
# on; tests/test_queries_oracle.py checks each one against its oracle.
ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ALL_ORACLES: dict[str, str] = {}
for _queries, _oracles in (
    (MTM_QUERIES, MTM_ORACLES),
    (ANALYTICS_QUERIES, ANALYTICS_ORACLES),
    (PIPELINE_QUERIES, PIPELINE_ORACLES),
    (PIPELINE_EXTRAS_QUERIES, PIPELINE_EXTRAS_ORACLES),
    (RISK_QUERIES, RISK_ORACLES),
    (R8_QUERIES, R8_ORACLES),
    (R9_QUERIES, R9_ORACLES),
    (R10_QUERIES, R10_ORACLES),
    (R10B_QUERIES, R10B_ORACLES),
    (R11_QUERIES, R11_ORACLES),
    (R11B_QUERIES, R11B_ORACLES),
    (R12_QUERIES, R12_ORACLES),
    (R13_QUERIES, R13_ORACLES),
    (R14_QUERIES, R14_ORACLES),
    (R14B_QUERIES, R14B_ORACLES),
    (R15_QUERIES, R15_ORACLES),
    (R16_QUERIES, R16_ORACLES),
    (R17_QUERIES, R17_ORACLES),
):
    ALL_QUERIES.update(_queries)
    ALL_ORACLES.update(_oracles)

# The driver's CORRECTNESS harness evaluates only the first 50 entries
# of queries(), in this order; pytest verifies every key the same way.
# Rotating a key in or out of the driver's view means editing this
# tuple. Some keys stay off-window by design:
#   - pnl_per_symbol / max_drawdown / sharpe_ratio: the same metrics
#     are driver-checked as columns of mtm_summary (SURVEY A3-A5);
#   - simhash: driver-checked inside simhash_pairs and dedup_connected;
#   - mtm_full_trades / mtm_param_sweep / mtm_sweep_scale: no SQL
#     oracle (full bookkeeper feedback loop); parity-tested against
#     the reference and single-config runs instead.
# Two window keys are rows-only by design: mtm_full_engine (same loop)
# and approx_table_profile (its tolerance-vs-exact pin is the gate).
DRIVER_WINDOW = (
    "mtm_streaming",
    "events_stream_window",
    "mtm_timeline",
    "mtm_summary",
    "mtm_full_engine",
    "drawdown_stats",
    "dedup_connected",
    "ann_pq_rerank",
    "dedup_incremental_near",
    "image_dedup_connected",
    "embedding_pca_power",
    "bm25_topk",
    "hybrid_search_rrf",
    "approx_table_profile",
    "hybrid_bm25_pq_rrf",
    "dedup_incremental_near_stream",
    "copurchase_kcore_stream",
    "copurchase_topk_similar",
    "copurchase_communities",
    "copurchase_clustering",
    "copurchase_link_predict",
    "copurchase_graph_profile",
    "minhash_calibration",
    "lang_id_confusion",
    "bloom_prefilter",
    "events_json_stream",
    "symbol_correlation",
    "stream_dedup",
    "train_val_split",
    "pii_scrub",
    "embedding_quantize",
    "copurchase_components_refresh",
    "novelty_saturation",
    "copurchase_components",
    "copurchase_communities_stream",
    "copurchase_degree_histogram",
    "copurchase_edge_embeddedness",
    "ngram_novelty",
    "ngram_novelty_probe",
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
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    k: ALL_QUERIES[k] for k in DRIVER_WINDOW
}
ORACLES: dict[str, str] = {
    k: ALL_ORACLES[k] for k in DRIVER_WINDOW if k in ALL_ORACLES
}
