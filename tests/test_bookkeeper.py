"""Ported reference test expectations (reference: tests/test_trade_reward_*.py,
tests/test_trade_fee.py, tests/test_trade_reward_laid_back_tax.py) against
the numpy state machine that backs the applyInPandas engine.

Fixtures mirror reference tests/conftest.py: hourly bars, ascending /
descending / flat markets.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from tradesignal_mtm_runner_spark.config import PnlCalcConfig
from tradesignal_mtm_runner_spark.models import InventoryMode
from tradesignal_mtm_runner_spark.operators.bookkeeper import (
    _LONG,
    _SHORT,
    simulate_symbol,
)

DIM = 1000
STEP = 100
TOL = 0.1
HOUR = 3600.0


def mkt(kind: str, dim: int = DIM, step: int = STEP):
    ts = np.arange(dim, dtype=np.float64) * HOUR
    if kind == "asc":
        close = np.arange(dim, dtype=np.float64) * step + 1000
    elif kind == "desc":
        close = (dim - 1 - np.arange(dim, dtype=np.float64)) * step + 1000
    else:
        close = np.full(dim, 1000.0)
    return ts, close


def signals(dim: int, buys=(), sells=()):
    buy = np.zeros(dim, dtype=np.int64)
    sell = np.zeros(dim, dtype=np.int64)
    buy[list(buys)] = 1
    sell[list(sells)] = 1
    return buy, sell


def default_cfg(**kw) -> PnlCalcConfig:
    base = dict(roi={0: math.inf}, stoploss=float("-inf"), laid_back_tax=0.0)
    base.update(kw)
    return PnlCalcConfig(**base)


def test_long_no_roi_no_stoploss():
    ts, close = mkt("asc")
    buy, sell = signals(DIM, buys=[5])
    mtm, trades = simulate_symbol(ts, close, buy, sell, default_cfg())
    outstanding = [t for t in trades if t.exit_ts is None]
    assert len(outstanding) == 1 and len(trades) == 1
    expected = (close[-1] - close[5]) / close[5]
    assert abs(mtm.sum() - expected) < TOL


def test_short_no_roi_no_stoploss():
    ts, close = mkt("desc")
    buy, sell = signals(DIM, sells=[5])
    cfg = default_cfg(enable_short_position=True)
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    outstanding = [t for t in trades if t.exit_ts is None]
    assert len(outstanding) == 1 and trades[0].direction == _SHORT
    expected = (close[5] - close[-1]) / close[5]
    assert abs(mtm.sum() - expected) < TOL


def test_long_with_roi():
    ts, close = mkt("asc")
    start, end = DIM // 4, DIM // 4 + DIM // 5
    expect_mtm = (close[end] - close[start]) / close[start]
    cfg = default_cfg(roi={0: math.inf, end: expect_mtm})
    buy, sell = signals(DIM, buys=[start])
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    assert len(trades) == 1 and trades[0].exit_ts is not None
    assert trades[0].close_reason == "ROI"
    assert abs(mtm.sum() - expect_mtm) < TOL
    # reference asserts the non-zero mtm bar count == end - start + 1
    assert (np.abs(mtm) > 0).sum() == end - start + 1


def test_short_with_roi():
    ts, close = mkt("desc")
    start, end = DIM // 4, DIM // 4 + DIM // 5
    expect_mtm = (close[start] - close[end]) / close[start]
    cfg = default_cfg(roi={0: math.inf, end: expect_mtm}, enable_short_position=True)
    buy, sell = signals(DIM, sells=[start])
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    assert len(trades) == 1 and trades[0].close_reason == "ROI"
    assert abs(mtm.sum() - expect_mtm) < TOL


def test_long_with_stoploss():
    ts, close = mkt("desc")
    start, end = DIM // 4, DIM // 4 + DIM // 5
    expected_loss = (close[start] - close[end]) / close[start]
    cfg = default_cfg(stoploss=-expected_loss)
    buy, sell = signals(DIM, buys=[start])
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    assert len(trades) == 1 and trades[0].close_reason == "STOP_LOSS"
    assert abs(mtm.sum() - (-expected_loss)) < TOL


def test_short_with_stoploss():
    ts, close = mkt("asc")
    start, end = DIM // 4, DIM // 4 + DIM // 5
    expected_loss = (close[end] - close[start]) / close[start]
    cfg = default_cfg(stoploss=-expected_loss, enable_short_position=True)
    buy, sell = signals(DIM, sells=[start])
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    assert len(trades) == 1 and trades[0].close_reason == "STOP_LOSS"
    assert abs(mtm.sum() - (-expected_loss)) < TOL


def test_long_with_short_signal_closes_fifo():
    """reference test_tradesignal_long_with_short_positions: two buys,
    one sell -> sell closes the FIRST long (FIFO), no short opened."""
    ts, close = mkt("asc")
    first, second, third = DIM // 5, 2 * DIM // 5, 3 * DIM // 5
    cfg = default_cfg(max_position_per_symbol=10)
    buy, sell = signals(DIM, buys=[first, second], sells=[third])
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    closed = [t for t in trades if t.exit_ts is not None]
    outstanding = [t for t in trades if t.exit_ts is None]
    assert len(closed) == 1 and len(outstanding) == 1
    assert all(t.direction == _LONG for t in trades)
    assert closed[0].entry_ts == ts[first] and closed[0].exit_ts == ts[third]
    assert outstanding[0].entry_ts == ts[second]
    pnl1 = (close[third] - close[first]) / close[first]
    pnl2 = (close[-1] - close[second]) / close[second]
    assert abs(mtm.sum() - (pnl1 + pnl2)) < TOL


def test_fee_flat_no_close():
    ts, close = mkt("flat", dim=100)
    fee = 0.002
    cfg = default_cfg(fee_rate=fee)
    buy, sell = signals(100, buys=[2])
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    assert mtm.sum() == -fee
    assert len(trades) == 1 and trades[0].exit_ts is None


def test_fee_flat_open_close():
    ts, close = mkt("flat", dim=100)
    fee = 0.002
    cfg = default_cfg(fee_rate=fee)
    buy, sell = signals(100, buys=[20], sells=[80])
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    assert mtm.sum() == -2 * fee
    assert len(trades) == 1 and trades[0].exit_ts is not None


def test_laid_back_tax_no_position():
    tax = 0.1
    ts, close = mkt("flat")
    cfg = default_cfg(laid_back_tax=tax)
    buy, sell = signals(DIM)
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    assert abs(mtm.sum() - (-tax * DIM)) < TOL
    assert not trades


def test_laid_back_tax_with_long_island():
    tax = 0.1
    start, end = DIM // 2, DIM // 2 + DIM // 3
    ts, close = mkt("flat")
    cfg = default_cfg(laid_back_tax=tax)
    buy, sell = signals(DIM, buys=[start], sells=[end])
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    expected = -(DIM - (end - start)) * tax
    assert abs(mtm.sum() - expected) < TOL


def test_max_position_limit():
    ts, close = mkt("asc", dim=50)
    cfg = default_cfg(max_position_per_symbol=2)
    buy, sell = signals(50, buys=[1, 2, 3, 4])
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    assert len(trades) == 2  # 3rd and 4th buy no-ops at max position


def test_buy_while_short_does_not_open_long():
    ts, close = mkt("flat", dim=20)
    cfg = default_cfg(enable_short_position=True)
    buy, sell = signals(20, sells=[2], buys=[5])
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    assert len(trades) == 1
    assert trades[0].direction == _SHORT and trades[0].exit_ts == ts[5]
    assert trades[0].close_reason == "SIGNAL"


def test_non_integer_minute_roi_key():
    """roi {0.5: 0.01, 0: 0.04}: the half-minute tier (30 s) activates
    after 30 s, so a +2% trade closes at the 40 s bar and not at the
    20 s bar. The engine reads RoiHelper's tier table, which pairs each
    offset with its own value."""
    ts = np.array([0.0, 20.0, 40.0, 60.0])
    close = np.array([100.0, 102.0, 102.0, 102.0])
    buy, sell = signals(4, buys=[0])
    cfg = default_cfg(roi={0.5: 0.01, 0: 0.04})
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    assert len(trades) == 1
    assert (trades[0].close_reason, trades[0].exit_ts) == ("ROI", 40.0)


def test_roi_keys_keep_fractional_minutes_in_any_order():
    """PnlCalcConfig keeps a fractional minute key as its float value
    (it used to truncate 0.5 to 0, so the 0.5 tier overwrote or was
    overwritten by tier 0, by dict order). Both orders build the same
    roi and the same run; a negative key and a missing key 0 are still
    errors."""
    a = default_cfg(roi={0.5: 0.01, 0: 0.04})
    b = default_cfg(roi={0: 0.04, 0.5: 0.01})
    assert a.roi == b.roi == {0: 0.04, 0.5: 0.01}
    assert default_cfg(roi={0: 0.04, 30.0: 0.01}).roi == {0: 0.04, 30: 0.01}
    ts = np.array([0.0, 20.0, 40.0, 60.0])
    close = np.array([100.0, 102.0, 102.0, 102.0])
    buy, sell = signals(4, buys=[0])
    (mtm_a, tr_a), (mtm_b, tr_b) = (
        simulate_symbol(ts, close, buy, sell, cfg) for cfg in (a, b)
    )
    assert mtm_a.tobytes() == mtm_b.tobytes()
    assert [(t.exit_ts, t.close_reason) for t in tr_a] == [(40.0, "ROI")]
    assert [(t.exit_ts, t.close_reason) for t in tr_b] == [(40.0, "ROI")]
    with pytest.raises(ValueError, match="roi key must be >= 0"):
        default_cfg(roi={0: 0.04, -0.5: 0.01})
    with pytest.raises(ValueError, match="missing default roi"):
        default_cfg(roi={0.5: 0.01})


def test_roi_tiers_minimum_active():
    """roi {0: 0.04, 20: 0.02}: before 20min close needs pnl>0.04,
    after 20min pnl>0.02 (reference helper.py can_take_profit)."""
    # minute-spaced bars
    dim = 60
    ts = np.arange(dim, dtype=np.float64) * 60.0
    close = np.full(dim, 100.0)
    close[30:] = 103.0  # +3% at bar 30 (age 30 min > 20 min tier)
    cfg = default_cfg(roi={0: 0.04, 20: 0.02})
    buy, sell = signals(dim, buys=[0])
    mtm, trades = simulate_symbol(ts, close, buy, sell, cfg)
    assert trades[0].close_reason == "ROI"
    assert trades[0].exit_ts == ts[30]

    # same jump before the 20-minute tier activates -> no close until it does
    close2 = np.full(dim, 100.0)
    close2[10:] = 103.0
    mtm2, trades2 = simulate_symbol(ts, close2, buy, sell, cfg)
    assert trades2[0].close_reason == "ROI"
    assert trades2[0].exit_ts == ts[20]  # closes when tier becomes active


def test_lifo_and_worst_price_inventory():
    ts, close = mkt("asc", dim=100)
    cfg = default_cfg(max_position_per_symbol=10)
    buy, sell = signals(100, buys=[10, 20], sells=[50])
    _, trades_lifo = simulate_symbol(
        ts, close, buy, sell, cfg, inventory_mode=InventoryMode.LIFO
    )
    closed = [t for t in trades_lifo if t.exit_ts is not None]
    assert closed[0].entry_ts == ts[20]  # last in, first out
    _, trades_wp = simulate_symbol(
        ts, close, buy, sell, cfg, inventory_mode=InventoryMode.WORST_PRICE
    )
    closed_wp = [t for t in trades_wp if t.exit_ts is not None]
    assert closed_wp[0].entry_price == close[20]  # highest entry for longs
