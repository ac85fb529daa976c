"""simulate_symbol against a scalar oracle, Spark-free.

``_oracle`` is the bookkeeper's per-bar loop run one bar at a time:
steps 1-6 of ``operators/bookkeeper.py`` verbatim, with no skip of any
kind (every bar advances by ``i += 1``). ``simulate_symbol`` jumps from
one state-changing bar to the next and fills the bars in between with
numpy; these tests pin that the jump never passes a bar where a trade
would close and that the filled bars carry exactly the scalar loop's
values: the mtm arrays are equal element for element and every trade
(entry bar and time, entry price, direction, exit time and price,
close reason) is equal, in the same order.

The perfbench sweep and runner checks cannot catch a wrong jump: they
call simulate_symbol themselves. The reference head-to-head in
tests/test_reference_parity.py needs the reference checkout and
skips without it. This file needs neither.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import numpy as np
import pytest

from tradesignal_mtm_runner_spark.config import PnlCalcConfig
from tradesignal_mtm_runner_spark.exceptions import (
    MaxPositionPerSymbolExceededException,
    NoShortPositionAllowedException,
)
from tradesignal_mtm_runner_spark.models import InventoryMode
from tradesignal_mtm_runner_spark.operators.bookkeeper import simulate_symbol

# perfbench's modules import each other by bare name
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
from workloads import make_bars, sweep_configs  # noqa: E402

_MODES = (InventoryMode.FIFO, InventoryMode.LIFO, InventoryMode.WORST_PRICE)


def _pick(live: list[list], mode: InventoryMode) -> int:
    # trade = [entry_i, entry_ts, entry_price, direction, exit_ts,
    #          exit_price, close_reason]
    if mode == InventoryMode.FIFO:
        return min(range(len(live)), key=lambda i: live[i][0])
    if mode == InventoryMode.LIFO:
        return max(range(len(live)), key=lambda i: live[i][0])
    if live[0][3] == 1:
        return max(range(len(live)), key=lambda i: live[i][2])
    return min(range(len(live)), key=lambda i: live[i][2])


def _oracle(ts_sec, close, buy, sell, config, inventory_mode=InventoryMode.FIFO,
            strict=False, compat_multi_close_skip=False):
    """The per-bar loop, one bar at a time. Returns (mtm, trades) with
    trades as 7-tuples in simulate_symbol's order (closed in close
    order, then open longs, then open shorts)."""
    n = len(close)
    mtm = np.zeros(n, dtype=np.float64)
    fee = abs(config.fee_rate)
    tax = abs(config.laid_back_tax)
    stop = abs(config.stoploss) if config.has_stoploss else np.inf
    max_pos = config.max_position_per_symbol
    items = sorted((float(k) * 60.0, float(v)) for k, v in config.roi.items())
    roi_off = np.array([k for k, _ in items], dtype=np.float64)
    roi_min = np.minimum.accumulate(np.array([v for _, v in items], dtype=np.float64))
    roi_live = config.has_roi

    longs: list[list] = []
    shorts: list[list] = []
    done: list[list] = []

    def close_trade(live, idx, i, reason):
        tr = live.pop(idx)
        tr[4], tr[5], tr[6] = ts_sec[i], close[i], reason
        done.append(tr)
        return fee

    for i in range(n):
        p = close[i]
        fees = 0.0
        if i > 0 and (longs or shorts):
            diff = close[i] - close[i - 1]
            acc = 0.0
            for tr in longs:
                if tr[0] < i:
                    acc += diff / tr[2]
            for tr in shorts:
                if tr[0] < i:
                    acc -= diff / tr[2]
            mtm[i] = acc
        if roi_live:
            for live, sgn in ((longs, 1.0), (shorts, -1.0)):
                j = 0
                while j < len(live):
                    tr = live[j]
                    pnl = sgn * (p - tr[2]) / tr[2]
                    k = np.searchsorted(roi_off, ts_sec[i] - tr[1], side="right") - 1
                    if k >= 0 and pnl > roi_min[k]:
                        fees += close_trade(live, j, i, "ROI")
                        if compat_multi_close_skip:
                            j += 1
                    else:
                        j += 1
        if stop != np.inf:
            for live, sgn in ((longs, 1.0), (shorts, -1.0)):
                j = 0
                while j < len(live):
                    tr = live[j]
                    pnl = sgn * (p - tr[2]) / tr[2]
                    if pnl < -stop:
                        fees += close_trade(live, j, i, "STOP_LOSS")
                        if compat_multi_close_skip:
                            j += 1
                    else:
                        j += 1
        if buy[i] == 1:
            if len(longs) < max_pos:
                if shorts:
                    fees += close_trade(shorts, _pick(shorts, inventory_mode), i, "SIGNAL")
                elif p > 0:
                    longs.append([i, ts_sec[i], p, 1, None, None, None])
                    fees += fee
            elif strict:
                raise MaxPositionPerSymbolExceededException(
                    f"buy signal at bar {i} with {len(longs)} open longs"
                    f" >= max_position_per_symbol={max_pos}"
                )
        elif sell[i] == 1:
            if len(shorts) < max_pos:
                if longs:
                    fees += close_trade(longs, _pick(longs, inventory_mode), i, "SIGNAL")
                elif config.enable_short_position and p > 0:
                    shorts.append([i, ts_sec[i], p, -1, None, None, None])
                    fees += fee
                elif strict and not config.enable_short_position:
                    raise NoShortPositionAllowedException(
                        f"sell signal at bar {i} would open a short but"
                        " enable_short_position is False"
                    )
            elif strict:
                raise MaxPositionPerSymbolExceededException(
                    f"sell signal at bar {i} with {len(shorts)} open shorts"
                    f" >= max_position_per_symbol={max_pos}"
                )
        if not longs and not shorts:
            fees += tax
        mtm[i] -= fees

    return mtm, [tuple(tr) for tr in done + longs + shorts]


def _fields(trades) -> list[tuple]:
    return [
        (t.entry_i, t.entry_ts, t.entry_price, t.direction, t.exit_ts,
         t.exit_price, t.close_reason)
        for t in trades
    ]


def _assert_same(args, **kw):
    mtm, trades = simulate_symbol(*args, **kw)
    want_mtm, want_trades = _oracle(*args, **kw)
    assert np.array_equal(mtm, want_mtm)
    assert _fields(trades) == want_trades


# config families: no roi/no stop, roi tiers only, stop only, both,
# and a non-integral minute key (0.5 min = a 30 s tier)
_ROIS = (
    {0: math.inf},
    {0: 0.01},
    {0: 0.03, 30: 0.01},
    {0: 0.05, 60: 0.02},
    {0: 0.04, 0.5: 0.01, 3: 0.005},
)
_STOPS = (float("-inf"), -0.005, -0.02, -0.05)


def _random_case(rng: np.random.Generator):
    n = int(rng.integers(1, 200))
    # 30 s / 60 s bars with duplicate timestamps mixed in
    ts = 1.7e9 + np.cumsum(rng.choice([0.0, 30.0, 60.0, 60.0, 60.0], n))
    vol = rng.choice([0.002, 0.01, 0.03])
    close = 100.0 * np.exp(np.cumsum(rng.normal(0.0, vol, n)))
    if rng.random() < 0.5:
        close = np.round(close, 2)
    if rng.random() < 0.2:
        close[rng.random(n) < 0.05] = 0.0
    dens = rng.choice([0.0, 0.02, 0.1, 0.3, 0.7])
    buy = (rng.random(n) < dens).astype(np.int64)
    sell = (rng.random(n) < dens).astype(np.int64)
    cfg = PnlCalcConfig(
        roi=dict(_ROIS[rng.integers(len(_ROIS))]),
        stoploss=float(rng.choice(_STOPS)),
        enable_short_position=bool(rng.random() < 0.7),
        max_position_per_symbol=int(rng.integers(1, 4)),
        fee_rate=float(rng.choice([0.0, 0.001])),
        laid_back_tax=float(rng.choice([0.0, 0.0001])),
    )
    kw = {
        "inventory_mode": _MODES[rng.integers(3)],
        "compat_multi_close_skip": bool(rng.random() < 0.5),
    }
    return (ts, close, buy, sell, cfg), kw


def test_random_cases_match_the_scalar_loop():
    rng = np.random.default_rng(20261019)
    for _ in range(2000):
        args, kw = _random_case(rng)
        _assert_same(args, **kw)


def test_strict_raises_what_the_scalar_loop_raises():
    rng = np.random.default_rng(7331)
    raised = 0
    for _ in range(1500):
        args, kw = _random_case(rng)
        try:
            want = _oracle(*args, strict=True, **kw)
        except (MaxPositionPerSymbolExceededException,
                NoShortPositionAllowedException) as exc:
            raised += 1
            with pytest.raises(type(exc)) as got:
                simulate_symbol(*args, strict=True, **kw)
            assert str(got.value) == str(exc)
            continue
        mtm, trades = simulate_symbol(*args, strict=True, **kw)
        assert np.array_equal(mtm, want[0])
        assert _fields(trades) == want[1]
    assert raised > 500  # both outcomes are exercised


def test_sweep_grid_universe_matches_the_scalar_loop():
    """Every (symbol, config) run of the benchmark's 32-config grid
    (perfbench's sweep_configs) over its bar generator's 16 seeded
    symbols x 512 one-minute bars, signals on 1% of the bars as in the
    benchmark's sweep, plus a denser 10% universe."""
    grid = list(sweep_configs().values())
    for density in (0.01, 0.1):
        bars = make_bars(np.random.default_rng(401), 16, 512, density)
        for _, g in bars.groupby("symbol", sort=False):
            ts = g["timestamp"].to_numpy().astype("datetime64[us]").astype(np.int64) / 1e6
            close = g["close"].to_numpy(dtype=np.float64)
            buy = g["buy"].to_numpy(dtype=np.int64)
            sell = g["sell"].to_numpy(dtype=np.int64)
            for cfg in grid:
                _assert_same((ts, close, buy, sell, cfg))
