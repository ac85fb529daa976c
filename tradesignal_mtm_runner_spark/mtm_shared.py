"""Shared MTM query building blocks: Spark-side helpers + DuckDB
oracle SQL fragments for the declarative signal->timeline pipeline.

Extracted from queries.py so sibling query modules (queries.py,
queries_risk.py) can compose the same timeline CTE without a circular
import. Semantics mirror the reference engine (runner_mtm.py:71,
trade_reward.py:81-168); see operators/mtm.py for the Spark plan.

MTM query constants: fee_rate=0.001, laid_back_tax=0.0001 — chosen to
exercise the fee/tax terms (reference trade_reward.py:144-166).
Floats are rounded with functions/rounding.r9 on BOTH engines so the
order-insensitive value-hash comparison is robust to engine-level
summation-order differences (measured <= 6e-14 on cumsums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PnlCalcConfig
from .operators.mtm import signal_mtm_timeline
from .sources import load_table, signals_from_events

FEE = 0.001
TAX = 0.0001

_ORDER = ["timestamp", "event_id"]


def _signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return signals_from_events(load_table(spark, sf_dir, "events"))


def _cfg() -> PnlCalcConfig:
    return PnlCalcConfig(
        roi={0: float("inf")}, stoploss=float("-inf"), fee_rate=FEE, laid_back_tax=TAX
    )


def _timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return signal_mtm_timeline(_signals(spark, sf_dir), _cfg(), order_cols=_ORDER)


# --------------------------------------------------------------------------
# DuckDB oracle SQL (shared pipeline fragment)
# --------------------------------------------------------------------------

_SIGNALS_SQL = """
signals AS (
  SELECT CAST(user_id AS VARCHAR) AS symbol,
         ts AS timestamp,
         event_id,
         value AS close,
         CAST(event_type = 'purchase' AS INT) AS buy,
         CAST(event_type = 'click' AS INT) AS sell
  FROM events
)"""

_W = "PARTITION BY symbol ORDER BY timestamp, event_id"
_WCUM = f"{_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

_TIMELINE_SQL = f"""
WITH {_SIGNALS_SQL},
s1 AS (
  -- opens gated on close > 0 (see operators/mtm.py: entry price
  -- divides); buy=1 consumes the bar even when gated to HOLD
  SELECT *, CASE WHEN buy=1 THEN (CASE WHEN close>0 THEN 'B' END) WHEN sell=1 THEN 'S' END AS sig FROM signals
),
s2 AS (
  SELECT *,
    CASE WHEN last_value(sig IGNORE NULLS) OVER ({_WCUM}) = 'B' THEN 1 ELSE 0 END AS position
  FROM s1
),
s3 AS (
  SELECT *,
    COALESCE(lag(position) OVER ({_W}), 0) AS prev_pos,
    close - lag(close) OVER ({_W}) AS price_diff
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
    last_value(CASE WHEN opened=1 THEN close END IGNORE NULLS) OVER ({_WCUM}) AS entry_price
  FROM s4
),
s6 AS (
  SELECT *,
    COALESCE(prev_pos * price_diff / lag(entry_price) OVER ({_W}), 0)
      - {FEE} * (opened + closed)
      - {TAX} * (1 - position) AS mtm_ratio
  FROM s5
),
timeline AS (
  SELECT *, sum(mtm_ratio) OVER ({_WCUM}) AS pnl_ratio FROM s6
)"""
