"""The strategy-grid sweep must equal running each config separately —
same engine, one pass, per-(symbol, config block) cells — and every
bookkeeper output follows the plan's bar order: (timestamp, event_id)
whatever the input order or partitioning."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from tradesignal_mtm_runner_spark.config import PnlCalcConfig
from tradesignal_mtm_runner_spark.operators.bookkeeper import (
    _LONG,
    run_mtm_bookkeeper,
    run_mtm_param_sweep_blocked,
    simulate_symbol,
    summarize_timeline,
)

CONFIGS = {
    "base": PnlCalcConfig(roi={0: math.inf}, stoploss=float("-inf")),
    "roi": PnlCalcConfig(roi={0: 0.05, 60: 0.02}, stoploss=float("-inf"), fee_rate=0.001),
    "shorts": PnlCalcConfig(
        roi={0: math.inf}, stoploss=-0.03, enable_short_position=True, fee_rate=0.001
    ),
}


@pytest.fixture(scope="module")
def signals(spark):
    rng = np.random.default_rng(7)
    frames = []
    for sym in ["AAA", "BBB", "CCC"]:
        n = 240
        idx = pd.date_range("2024-01-01", periods=n, freq="h")
        close = 1000 * np.cumprod(1 + rng.normal(0, 0.01, n))
        buy = (rng.random(n) < 0.08).astype(int)
        sell = (rng.random(n) < 0.08).astype(int)
        frames.append(
            pd.DataFrame(
                {"symbol": sym, "timestamp": idx, "close": close, "buy": buy, "sell": sell}
            )
        )
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))


def test_sweep_matches_individual_runs(signals):
    sweep = summarize_timeline(
        run_mtm_param_sweep_blocked(signals, CONFIGS),
        group_cols=["symbol", "config_id"],
    ).toPandas().set_index(["symbol", "config_id"]).sort_index()

    assert len(sweep) == 3 * len(CONFIGS)
    for cid, cfg in CONFIGS.items():
        single = (
            summarize_timeline(run_mtm_bookkeeper(signals, cfg, output="timeline"))
            .toPandas()
            .set_index("symbol")
            .sort_index()
        )
        for sym in single.index:
            for col in ["pnl", "max_drawdown", "sharpe_ratio"]:
                assert sweep.loc[(sym, cid), col] == pytest.approx(
                    single.loc[sym, col], rel=1e-12, abs=1e-12
                ), (sym, cid, col)


def test_sweep_timeline_tagged(signals):
    tl = run_mtm_param_sweep_blocked(signals, CONFIGS, block_size=2).toPandas()
    assert set(tl["config_id"]) == set(CONFIGS)
    per_cell = tl.groupby(["symbol", "config_id"]).size()
    assert (per_cell == 240).all()


def test_blocked_sweep_matches_per_config_sweep(signals):
    """Every block size gives each config the timeline of its own
    run_mtm_bookkeeper run, bit for bit — block boundaries mid-grid
    included (3 configs, block=2 -> blocks of 2 and 1)."""
    key = ["symbol", "timestamp"]
    for block_size in (1, 2, 8):
        tl = run_mtm_param_sweep_blocked(signals, CONFIGS, block_size=block_size)
        got = tl.toPandas()
        for cid, cfg in CONFIGS.items():
            want = run_mtm_bookkeeper(signals, cfg).toPandas()
            one = got[got["config_id"] == cid].drop(columns="config_id")
            pd.testing.assert_frame_equal(
                one.sort_values(key).reset_index(drop=True),
                want.sort_values(key).reset_index(drop=True),
                check_exact=True,
            )


def _shuffled_tied_bars(spark):
    """3 symbols x 150 bars where every timestamp carries two bars
    (event_ids 2t and 2t+1, different closes and signals), rows
    shuffled and spread round-robin over 5 input partitions."""
    rng = np.random.default_rng(11)
    frames = []
    for sym in ["AAA", "BBB", "CCC"]:
        n = 150
        ts = np.repeat(pd.date_range("2024-03-01", periods=n // 2, freq="15min"), 2)
        frames.append(
            pd.DataFrame(
                {
                    "symbol": sym,
                    "timestamp": ts,
                    "event_id": np.arange(n, dtype=np.int64),
                    "close": 100 * np.cumprod(1 + rng.normal(0, 0.01, n)),
                    "buy": (rng.random(n) < 0.12).astype(np.int32),
                    "sell": (rng.random(n) < 0.12).astype(np.int32),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    pdf = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
    return pdf, spark.createDataFrame(pdf).repartition(5)


def _reference(bars: pd.DataFrame, cfg: PnlCalcConfig):
    """simulate_symbol over one symbol's bars sorted by (timestamp,
    event_id): the timeline columns and the trade tuples."""
    b = bars.sort_values(["timestamp", "event_id"]).reset_index(drop=True)
    ts_sec = b["timestamp"].to_numpy().astype("datetime64[us]").astype(np.int64) / 1e6
    mtm, trades = simulate_symbol(
        ts_sec, b["close"].to_numpy(), b["buy"].to_numpy(np.int64),
        b["sell"].to_numpy(np.int64), cfg,
    )
    timeline = pd.DataFrame(
        {
            "timestamp": b["timestamp"].astype("datetime64[us]"),
            "close": b["close"],
            "buy": b["buy"],
            "sell": b["sell"],
            "mtm_ratio": mtm,
            "pnl_ratio": np.cumsum(mtm),
        }
    )
    return timeline, [
        ("LONG" if t.direction == _LONG else "SHORT", t.entry_price,
         t.exit_price, t.close_reason)
        for t in trades
    ]


def test_bar_order_is_the_plans_sort(spark):
    """Rows arrive shuffled over several input partitions with
    same-timestamp ties. run_mtm_bookkeeper (timeline and trades) and
    the blocked sweep at block sizes 1, 2 and 8 must each equal
    simulate_symbol on the (timestamp, event_id)-sorted bars exactly,
    rows in that order (a cell's rows leave the plan in bar order)."""
    pdf, sig = _shuffled_tied_bars(spark)
    cols = ["timestamp", "close", "buy", "sell", "mtm_ratio", "pnl_ratio"]

    def rows(df, **match):
        for c, v in match.items():
            df = df[df[c] == v]
        out = df[cols].reset_index(drop=True)
        out["timestamp"] = out["timestamp"].astype("datetime64[us]")
        return out

    refs = {
        (sym, cid): _reference(pdf[pdf["symbol"] == sym], cfg)
        for sym in ("AAA", "BBB", "CCC")
        for cid, cfg in CONFIGS.items()
    }
    for cid, cfg in CONFIGS.items():
        tl = run_mtm_bookkeeper(sig, cfg).toPandas()
        tr = run_mtm_bookkeeper(sig, cfg, output="trades").toPandas()
        for sym in ("AAA", "BBB", "CCC"):
            want_tl, want_tr = refs[(sym, cid)]
            pd.testing.assert_frame_equal(
                rows(tl, symbol=sym), want_tl, check_exact=True, check_dtype=False
            )
            got_tr = tr[tr["symbol"] == sym]
            assert [
                (d, p, None if pd.isna(x) else x, r)
                for d, p, x, r in zip(
                    got_tr["direction"], got_tr["entry_price"],
                    got_tr["exit_price"], got_tr["close_reason"],
                )
            ] == want_tr, (cid, sym)
    for block_size in (1, 2, 8):
        sweep = run_mtm_param_sweep_blocked(sig, CONFIGS, block_size).toPandas()
        for (sym, cid), (want_tl, _) in refs.items():
            pd.testing.assert_frame_equal(
                rows(sweep, symbol=sym, config_id=cid), want_tl,
                check_exact=True, check_dtype=False,
            )
