"""Risk / portfolio analytics beyond the reference Mtm_Result surface
(SURVEY §2 A15-A17).

The reference stops at pnl / max_drawdown / sharpe (models.py:203,
runner_mtm.py:118-204). These operators extend the same declarative
timeline with the rest of the standard risk stack a backtesting user
expects, each DuckDB-oracled through the identical pytest harness as
every registered query (which of them the driver sees is set by
``DRIVER_WINDOW`` in queries.py).

- A15 ``risk_metrics`` — per-symbol Sortino ratio (downside
  deviation), Calmar ratio (annualized return / max drawdown),
  annualized volatility, historical VaR (5th pct of per-bar mtm) and
  rank-based CVaR / expected shortfall (mean of the worst
  ceil(5% · n) bars — an integer cutoff, so no float boundary can
  disagree between engines). Scale shape: one groupBy(symbol)
  aggregate over the window timeline plus one broadcast-joined
  conditional re-aggregate for CVaR; everything partitions by symbol.
- A16 ``trade_stats`` — per-symbol win rate, profit factor, average
  win/loss, best/worst trade and mean holding time over the CLOSED
  trade archive (extract_trades islands). One aggregate over a
  trades-sized relation (orders of magnitude smaller than bars).
- A17 ``tech_indicators`` — per-bar technical indicator frame:
  SMA(20), Bollinger bands (population std), Cutler's RSI(14)
  (SMA-based gains/losses), 10-bar rate-of-change, 20-bar return
  volatility, and truncated EMA(12)/EMA(26)/MACD. All row-frame
  window aggregates inside whole-stage codegen except the EMA fold,
  which is a bounded collect-over-frame + ``F.aggregate`` left fold
  over at most EMA_CAP=60 elements (the un-truncated recursion needs
  unbounded history per row — the 60-bar cut bounds memory and both
  engines fold the identical element sequence, so results are
  bit-identical). Incomplete leading windows emit NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .models import MIN_NUMERIC_VALUE, PROFIT_SLIPPAGE
from .functions.rounding import ROUND, r9
from .mtm_shared import (
    _ORDER,
    _SIGNALS_SQL,
    _TIMELINE_SQL,
    _W,
    _WCUM,
    _timeline,
)

ANNUAL_HOURS = 365.0 * 24.0
VAR_Q = 0.05
EMA_CAP = 60


# --------------------------------------------------------------------------
# A15 risk_metrics
# --------------------------------------------------------------------------

def risk_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sortino / Calmar / annualized volatility / VaR / CVaR per symbol.

    Sortino follows the reference sharpe convention (slippage-adjusted
    per-bar mtm, hours-normalized mean, sqrt(8760) annualization,
    reference trade_reward.py:423-450) with the denominator swapped
    for downside deviation; the -1e50 sentinel mirrors the
    zero-denominator convention. CVaR is rank-based (mean of the worst
    ceil(5% n) bars) so the cutoff is an integer — immune to 1-ulp
    quantile-interpolation differences between engines.
    """
    from .functions.timeseries import running_max_drawdown, symbol_window

    tl = _timeline(spark, sf_dir)
    w = symbol_window("symbol", _ORDER)
    enriched = tl.withColumn(
        "_dd", running_max_drawdown(F.col("pnl_ratio"), w)
    ).withColumn("_slip", F.col("mtm_ratio") - F.lit(PROFIT_SLIPPAGE))

    hours = (
        (F.unix_millis(F.max("timestamp")) - F.unix_millis(F.min("timestamp")))
        / F.lit(1000.0)
        / F.lit(3600.0)
    )
    downside = F.sqrt(F.avg(F.pow(F.least(F.col("_slip"), F.lit(0.0)), F.lit(2.0))))
    per = enriched.groupBy("symbol").agg(
        F.sum("mtm_ratio").alias("_pnl"),
        F.max("_dd").alias("_mdd"),
        F.sum("_slip").alias("_slipsum"),
        downside.alias("_down"),
        hours.alias("_hours"),
        F.stddev_pop("mtm_ratio").alias("_vol"),
        F.percentile(F.col("mtm_ratio"), F.lit(VAR_Q)).alias("_var"),
    )

    # rank-based CVaR: integer cutoff k = ceil(q*n) of the ascending
    # mtm order (ties broken on the bar order for determinism)
    wr = Window.partitionBy("symbol").orderBy("mtm_ratio", *_ORDER)
    wn = Window.partitionBy("symbol")
    ranked = tl.select(
        "symbol",
        "mtm_ratio",
        F.row_number().over(wr).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    cvar = (
        ranked.filter(F.col("_rn") <= F.ceil(F.lit(VAR_Q) * F.col("_n")))
        .groupBy("symbol")
        .agg(F.avg("mtm_ratio").alias("_cvar"))
    )

    ann = F.sqrt(F.lit(ANNUAL_HOURS))
    sortino = F.when(F.col("_down") == 0, F.lit(MIN_NUMERIC_VALUE)).otherwise(
        F.col("_slipsum") / F.col("_hours") / F.col("_down") * ann
    )
    calmar = F.when(F.col("_mdd") == 0, F.lit(None).cast("double")).otherwise(
        F.col("_pnl") / F.col("_hours") * F.lit(ANNUAL_HOURS) / F.col("_mdd")
    )
    return (
        per.join(F.broadcast(cvar), "symbol")
        .select(
            "symbol",
            r9(sortino).alias("sortino_ratio"),
            r9(calmar).alias("calmar_ratio"),
            r9(F.col("_vol") * ann).alias("ann_volatility"),
            r9(F.col("_mdd")).alias("max_drawdown"),
            r9(F.col("_var")).alias("var_95"),
            r9(F.col("_cvar")).alias("cvar_95"),
        )
    )


RISK_METRICS_SQL = f"""
{_TIMELINE_SQL},
dd AS (
  SELECT *,
    greatest(0.0, max(pnl_ratio) OVER ({_WCUM})) - pnl_ratio AS drawdown,
    mtm_ratio - {PROFIT_SLIPPAGE} AS mtm_slip
  FROM timeline
),
per AS (
  SELECT symbol,
    sum(mtm_ratio) AS pnl,
    max(drawdown) AS mdd,
    sum(mtm_slip) AS slipsum,
    sqrt(avg(power(least(mtm_slip, 0.0), 2.0))) AS down,
    (epoch_ms(max(timestamp)) - epoch_ms(min(timestamp))) / 1000.0 / 3600.0 AS hours,
    stddev_pop(mtm_ratio) AS vol,
    quantile_cont(mtm_ratio, {VAR_Q}) AS var_95
  FROM dd GROUP BY symbol
),
ranked AS (
  SELECT symbol, mtm_ratio,
    row_number() OVER (PARTITION BY symbol ORDER BY mtm_ratio, timestamp, event_id) AS rn,
    count(*) OVER (PARTITION BY symbol) AS n
  FROM timeline
),
cv AS (
  SELECT symbol, avg(mtm_ratio) AS cvar
  FROM ranked WHERE rn <= ceil({VAR_Q} * n) GROUP BY symbol
)
SELECT p.symbol,
  round(CASE WHEN p.down = 0 THEN {MIN_NUMERIC_VALUE}
             ELSE p.slipsum / p.hours / p.down * sqrt({ANNUAL_HOURS}) END, {ROUND}) + 0.0 AS sortino_ratio,
  round(CASE WHEN p.mdd = 0 THEN NULL
             ELSE p.pnl / p.hours * {ANNUAL_HOURS} / p.mdd END, {ROUND}) + 0.0 AS calmar_ratio,
  round(p.vol * sqrt({ANNUAL_HOURS}), {ROUND}) + 0.0 AS ann_volatility,
  round(p.mdd, {ROUND}) + 0.0 AS max_drawdown,
  round(p.var_95, {ROUND}) + 0.0 AS var_95,
  round(c.cvar, {ROUND}) + 0.0 AS cvar_95
FROM per p JOIN cv c ON p.symbol = c.symbol
"""


# --------------------------------------------------------------------------
# A16 trade_stats
# --------------------------------------------------------------------------

def trade_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Win rate / profit factor / holding-time stats over CLOSED trades."""
    from .operators.mtm import extract_trades

    tr = extract_trades(_timeline(spark, sf_dir)).filter(F.col("is_closed"))
    pnl = F.col("pnl_normalized_gross")
    gross_win = F.sum(F.when(pnl > 0, pnl).otherwise(F.lit(0.0)))
    gross_loss = F.sum(F.when(pnl < 0, -pnl).otherwise(F.lit(0.0)))
    agg = tr.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("long").alias("n_trades"),
        F.avg((pnl > 0).cast("double")).alias("_wr"),
        gross_win.alias("_gw"),
        gross_loss.alias("_gl"),
        F.avg(F.when(pnl > 0, pnl)).alias("_aw"),
        F.avg(F.when(pnl < 0, pnl)).alias("_al"),
        F.max(pnl).alias("_best"),
        F.min(pnl).alias("_worst"),
        F.avg(
            F.unix_millis("exit_datetime") - F.unix_millis("entry_datetime")
        ).alias("_hold"),
    )
    profit_factor = F.when(F.col("_gl") == 0, F.lit(None).cast("double")).otherwise(
        F.col("_gw") / F.col("_gl")
    )
    return agg.select(
        "symbol",
        "n_trades",
        r9(F.col("_wr")).alias("win_rate"),
        r9(profit_factor).alias("profit_factor"),
        r9(F.col("_aw")).alias("avg_win"),
        r9(F.col("_al")).alias("avg_loss"),
        r9(F.col("_best")).alias("best_trade"),
        r9(F.col("_worst")).alias("worst_trade"),
        F.round(F.col("_hold"), 3).alias("avg_holding_ms"),
    )


TRADE_STATS_SQL = f"""
{_TIMELINE_SQL},
tid AS (SELECT *, sum(opened) OVER ({_WCUM}) AS trade_id FROM timeline),
entries AS (
  SELECT symbol, trade_id, timestamp AS entry_datetime, close AS entry_price
  FROM tid WHERE opened = 1
),
exits AS (
  SELECT symbol, trade_id, timestamp AS exit_datetime, close AS exit_price
  FROM tid WHERE closed = 1
),
trades AS (
  SELECT e.symbol,
    (x.exit_price - e.entry_price) / e.entry_price AS pnl,
    epoch_ms(x.exit_datetime) - epoch_ms(e.entry_datetime) AS hold_ms
  FROM entries e JOIN exits x ON e.symbol = x.symbol AND e.trade_id = x.trade_id
)
SELECT symbol,
  CAST(count(*) AS BIGINT) AS n_trades,
  round(avg(CAST(pnl > 0 AS DOUBLE)), {ROUND}) + 0.0 AS win_rate,
  round(CASE WHEN sum(CASE WHEN pnl < 0 THEN -pnl ELSE 0.0 END) = 0 THEN NULL
             ELSE sum(CASE WHEN pnl > 0 THEN pnl ELSE 0.0 END)
                  / sum(CASE WHEN pnl < 0 THEN -pnl ELSE 0.0 END) END, {ROUND}) + 0.0 AS profit_factor,
  round(avg(CASE WHEN pnl > 0 THEN pnl END), {ROUND}) + 0.0 AS avg_win,
  round(avg(CASE WHEN pnl < 0 THEN pnl END), {ROUND}) + 0.0 AS avg_loss,
  round(max(pnl), {ROUND}) + 0.0 AS best_trade,
  round(min(pnl), {ROUND}) + 0.0 AS worst_trade,
  round(avg(hold_ms), 3) AS avg_holding_ms
FROM trades GROUP BY symbol
"""


# --------------------------------------------------------------------------
# A17 tech_indicators
# --------------------------------------------------------------------------

def _ema_fold(arr: F.Column, span: int) -> F.Column:
    """Left fold s = a*x + (1-a)*s over the frame array, seeded with
    the first element (pandas ewm(adjust=False) restricted to the
    EMA_CAP-bar frame). Identical element order and arithmetic on both
    engines -> bit-identical doubles."""
    a = F.lit(2.0) / F.lit(span + 1.0)
    return F.aggregate(
        F.slice(arr, F.lit(2), F.size(arr) - 1),
        F.element_at(arr, 1),
        lambda acc, x: acc * (F.lit(1.0) - a) + x * a,
    )


def tech_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bar technical indicators (SMA/Bollinger/RSI/ROC/vol/EMA/MACD)."""
    from .mtm_shared import _signals

    sig = _signals(spark, sf_dir).select("symbol", "timestamp", "event_id", "close")
    w = Window.partitionBy("symbol").orderBy(*_ORDER)
    f20 = w.rowsBetween(-19, 0)
    f14 = w.rowsBetween(-13, 0)
    fe = w.rowsBetween(-(EMA_CAP - 1), 0)

    diff = F.col("close") - F.lag("close").over(w)
    # try_divide: a zero close yields NULL (= DuckDB's x/0 semantics)
    # instead of an ANSI DIVIDE_BY_ZERO — zeros exist at sf0.1+
    base = sig.withColumn("_diff", diff).withColumn(
        "_ret", F.try_divide(F.col("close"), F.lag("close").over(w)) - 1
    )
    gain = F.when(F.col("_diff").isNull(), F.lit(None).cast("double")).otherwise(
        F.greatest(F.col("_diff"), F.lit(0.0))
    )
    loss = F.when(F.col("_diff").isNull(), F.lit(None).cast("double")).otherwise(
        F.greatest(-F.col("_diff"), F.lit(0.0))
    )
    stage = base.select(
        "symbol",
        "timestamp",
        "event_id",
        "close",
        F.count("close").over(f20).alias("_n20"),
        F.avg("close").over(f20).alias("_sma"),
        F.stddev_pop("close").over(f20).alias("_sd"),
        F.count("_diff").over(f14).alias("_nd"),
        F.avg(gain).over(f14).alias("_ag"),
        F.avg(loss).over(f14).alias("_al"),
        F.count("_ret").over(f20).alias("_nr"),
        F.stddev_pop("_ret").over(f20).alias("_vol"),
        (F.try_divide(F.col("close"), F.lag("close", 10).over(w)) - 1).alias(
            "_roc"
        ),
        F.collect_list("close").over(fe).alias("_arr"),
    )
    full20 = F.col("_n20") == 20
    rsi = F.when(F.col("_al") == 0, F.lit(100.0)).otherwise(
        F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + F.col("_ag") / F.col("_al"))
    )
    ema12 = _ema_fold(F.col("_arr"), 12)
    ema26 = _ema_fold(F.col("_arr"), 26)
    return stage.select(
        "symbol",
        "timestamp",
        "event_id",
        "close",
        r9(F.when(full20, F.col("_sma"))).alias("sma_20"),
        r9(F.when(full20, F.col("_sma") + 2 * F.col("_sd"))).alias("bb_upper"),
        r9(F.when(full20, F.col("_sma") - 2 * F.col("_sd"))).alias("bb_lower"),
        r9(F.when(F.col("_nd") == 14, rsi)).alias("rsi_14"),
        r9(F.col("_roc")).alias("roc_10"),
        r9(F.when(F.col("_nr") == 20, F.col("_vol"))).alias("vol_20"),
        r9(ema12).alias("ema_12"),
        r9(ema26).alias("ema_26"),
        r9(ema12 - ema26).alias("macd"),
    )


def _ema_sql(span: int) -> str:
    return (
        f"list_reduce(arr, (acc, x) -> acc * (1.0 - 2.0 / {span + 1}.0)"
        f" + x * (2.0 / {span + 1}.0))"
    )


TECH_INDICATORS_SQL = f"""
WITH {_SIGNALS_SQL},
b AS (
  SELECT symbol, timestamp, event_id, close,
    close - lag(close) OVER w AS diff,
    close / lag(close) OVER w - 1 AS ret,
    close / lag(close, 10) OVER w - 1 AS roc,
    count(close) OVER f20 AS n20,
    avg(close) OVER f20 AS sma,
    stddev_pop(close) OVER f20 AS sd,
    list(CAST(close AS DOUBLE)) OVER fe AS arr
  FROM signals
  WINDOW w AS ({_W}),
         f20 AS ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         fe AS ({_W} ROWS BETWEEN {EMA_CAP - 1} PRECEDING AND CURRENT ROW)
),
c AS (
  SELECT *,
    CASE WHEN diff IS NULL THEN NULL ELSE greatest(diff, 0.0) END AS g,
    CASE WHEN diff IS NULL THEN NULL ELSE greatest(-diff, 0.0) END AS l
  FROM b
),
d AS (
  SELECT *,
    count(diff) OVER f14 AS nd,
    avg(g) OVER f14 AS ag,
    avg(l) OVER f14 AS al,
    count(ret) OVER f20b AS nr,
    stddev_pop(ret) OVER f20b AS vol,
    {_ema_sql(12)} AS ema12,
    {_ema_sql(26)} AS ema26
  FROM c
  WINDOW f14 AS ({_W} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
         f20b AS ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, timestamp, event_id, close,
  round(CASE WHEN n20 = 20 THEN sma END, {ROUND}) + 0.0 AS sma_20,
  round(CASE WHEN n20 = 20 THEN sma + 2 * sd END, {ROUND}) + 0.0 AS bb_upper,
  round(CASE WHEN n20 = 20 THEN sma - 2 * sd END, {ROUND}) + 0.0 AS bb_lower,
  round(CASE WHEN nd = 14 THEN
          CASE WHEN al = 0 THEN 100.0
               ELSE 100.0 - 100.0 / (1.0 + ag / al) END
        END, {ROUND}) + 0.0 AS rsi_14,
  round(roc, {ROUND}) + 0.0 AS roc_10,
  round(CASE WHEN nr = 20 THEN vol END, {ROUND}) + 0.0 AS vol_20,
  round(ema12, {ROUND}) + 0.0 AS ema_12,
  round(ema26, {ROUND}) + 0.0 AS ema_26,
  round(ema12 - ema26, {ROUND}) + 0.0 AS macd
FROM d
"""


# --------------------------------------------------------------------------
# A18b rolling_beta
# --------------------------------------------------------------------------

BETA_WINDOW = 20  # trading days in the rolling covariance window


def rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol rolling market beta — the portfolio-risk classic the
    A15 stack stops short of: daily closes (per-symbol/day average),
    daily returns, the EQUAL-WEIGHT market return across symbols per
    day, then beta = covar_pop(ret, mret) / var_pop(mret) and the
    rolling correlation over a BETA_WINDOW-day ROWS frame. Only full
    windows emit (n = BETA_WINDOW), and var > 0 guards the division.

    Scale shape: one (symbol, day) aggregate, one day-keyed aggregate
    bounded by #days, one join back, one per-symbol window — all
    partition-friendly; nothing global except the #days-bounded
    market relation. corr is scale-invariant to the sample/population
    distinction so both engines agree; covar/var are explicit _pop."""
    from .sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("symbol"),
        F.to_date("ts").alias("day"),
        "value",
    )
    daily = ev.groupBy("symbol", "day").agg(F.avg("value").alias("close"))
    wlag = Window.partitionBy("symbol").orderBy("day")
    r = daily.withColumn(
        "ret", F.col("close") / F.lag("close").over(wlag) - 1
    ).filter(F.col("ret").isNotNull())
    m = r.groupBy("day").agg(F.avg("ret").alias("mret"))
    j = r.join(m, "day")
    wb = (
        Window.partitionBy("symbol")
        .orderBy("day")
        .rowsBetween(-(BETA_WINDOW - 1), 0)
    )
    out = j.select(
        F.col("symbol").cast("long").alias("symbol"),
        F.col("day").cast("string").alias("day"),
        (F.covar_pop("ret", "mret").over(wb) / F.var_pop("mret").over(wb)).alias(
            "_beta"
        ),
        F.corr("ret", "mret").over(wb).alias("_corr"),
        F.count(F.lit(1)).over(wb).alias("_n"),
        F.var_pop("mret").over(wb).alias("_varm"),
    )
    return out.filter(
        (F.col("_n") == BETA_WINDOW) & (F.col("_varm") > 0)
    ).select(
        "symbol",
        "day",
        r9(F.col("_beta")).alias("beta"),
        r9(F.col("_corr")).alias("beta_corr"),
    )


ROLLING_BETA_SQL = f"""
WITH daily AS (
  SELECT user_id AS symbol, CAST(ts AS DATE) AS day, avg(value) AS close
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT symbol, day,
         close / lag(close) OVER (PARTITION BY symbol ORDER BY day) - 1 AS ret
  FROM daily
),
rr AS (SELECT * FROM r WHERE ret IS NOT NULL),
m AS (SELECT day, avg(ret) AS mret FROM rr GROUP BY day),
j AS (SELECT rr.symbol, rr.day, rr.ret, m.mret FROM rr JOIN m USING (day)),
wagg AS (
  SELECT symbol, day,
    covar_pop(ret, mret) OVER w AS cov,
    var_pop(mret) OVER w AS varm,
    corr(ret, mret) OVER w AS c,
    count(*) OVER w AS n
  FROM j
  WINDOW w AS (PARTITION BY symbol ORDER BY day
               ROWS BETWEEN {BETA_WINDOW - 1} PRECEDING AND CURRENT ROW)
)
SELECT CAST(symbol AS BIGINT) AS symbol, CAST(day AS VARCHAR) AS day,
       round(cov / varm, {ROUND}) + 0.0 AS beta, round(c, {ROUND}) + 0.0 AS beta_corr
FROM wagg WHERE n = {BETA_WINDOW} AND varm > 0
"""


# --------------------------------------------------------------------------
# A26 resample_ffill
# --------------------------------------------------------------------------


def resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with forward fill — the other half of
    A13's OHLC downsample: ticks land irregularly, but indicators /
    joins / models want ONE row per (symbol, hour) with the
    last-known close carried through silent hours and an is_observed
    flag so downstream code can tell data from fill. Per-symbol grid
    = sequence(first hour, last hour) exploded (row-local, bounded by
    the span); observed hourly closes reduce via the deterministic
    two-step tiebreak (max ts in hour, then max value at that ts);
    the carry-forward is one last-ignore-nulls window per symbol. No
    leading nulls: each symbol's grid starts at its first observed
    hour."""
    from .sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("symbol"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
        "ts",
        "value",
    )
    mx = ev.groupBy("symbol", "h").agg(F.max("ts").alias("_mts"))
    obs = (
        ev.join(mx, ["symbol", "h"])
        .filter(F.col("ts") == F.col("_mts"))
        .groupBy("symbol", "h")
        .agg(F.max("value").alias("obs_close"))
    )
    span = ev.groupBy("symbol").agg(
        F.min("h").alias("_a"), F.max("h").alias("_b")
    )
    grid = span.select(
        "symbol",
        F.explode(
            F.sequence(F.col("_a"), F.col("_b"), F.expr("interval 1 hour"))
        ).alias("h"),
    )
    j = grid.join(obs, ["symbol", "h"], "left")
    w = (
        Window.partitionBy("symbol")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        F.col("symbol").cast("long").alias("symbol"),
        F.col("h").alias("ts_hour"),
        r9(F.last("obs_close", ignorenulls=True).over(w)).alias("close"),
        F.col("obs_close").isNotNull().alias("is_observed"),
    )


RESAMPLE_FFILL_SQL = f"""
WITH e AS (
  SELECT user_id AS symbol, date_trunc('hour', ts) AS h, ts, value
  FROM events
),
mx AS (SELECT symbol, h, max(ts) AS mts FROM e GROUP BY 1, 2),
obs AS (
  SELECT e.symbol, e.h, max(e.value) AS obs_close
  FROM e JOIN mx ON mx.symbol = e.symbol AND mx.h = e.h AND e.ts = mx.mts
  GROUP BY e.symbol, e.h
),
span AS (SELECT symbol, min(h) AS a, max(h) AS b FROM e GROUP BY symbol),
grid AS (
  SELECT span.symbol, g.h
  FROM span, UNNEST(generate_series(a, b, INTERVAL 1 HOUR)) AS g(h)
),
j AS (
  SELECT grid.symbol, grid.h, obs.obs_close
  FROM grid LEFT JOIN obs USING (symbol, h)
)
SELECT CAST(symbol AS BIGINT) AS symbol, h AS ts_hour,
       round(last_value(obs_close IGNORE NULLS) OVER (
         PARTITION BY symbol ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), {ROUND}) + 0.0 AS close,
       obs_close IS NOT NULL AS is_observed
FROM j
"""


RISK_QUERIES = {
    "risk_metrics": risk_metrics,
    "trade_stats": trade_stats,
    "tech_indicators": tech_indicators,
    "rolling_beta": rolling_beta,
    "resample_ffill": resample_ffill,
}

RISK_ORACLES = {
    "risk_metrics": RISK_METRICS_SQL,
    "trade_stats": TRADE_STATS_SQL,
    "tech_indicators": TECH_INDICATORS_SQL,
    "rolling_beta": ROLLING_BETA_SQL,
    "resample_ffill": RESAMPLE_FFILL_SQL,
}
