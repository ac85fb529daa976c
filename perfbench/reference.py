"""Spark-free references the benchmark checks the engine's outputs against.

Every function here is plain numpy / Python over the same generated
inputs the engine sees, so a mismatch means the engine (or the plan
around it) produced a wrong answer, never that the reference drifted
with the code under test. The one engine import is ``simulate_symbol``,
the bookkeeper's Spark-free state machine: the sweep and runner checks
compare what Spark assembles around it (shuffle, grouping, sort,
summary) against calling it directly.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

#: engine constants (reference models.py): the per-bar slippage the
#: sharpe ratio subtracts and the "no variance" sharpe sentinel
PROFIT_SLIPPAGE = 0.000001
MIN_NUMERIC_VALUE = -1e50


def ts_seconds(ts: pd.Series | np.ndarray) -> np.ndarray:
    """Float seconds since the epoch, the unit simulate_symbol takes."""
    return np.asarray(ts).astype("datetime64[us]").astype(np.int64) / 1e6


def timeline_summary(ts_sec: np.ndarray, mtm: np.ndarray) -> dict[str, float]:
    """pnl / max_drawdown / sharpe of one per-bar mtm series, with the
    definitions of ``operators.bookkeeper.summarize_timeline``."""
    pnl_ratio = np.cumsum(mtm)
    drawdown = np.maximum(0.0, np.maximum.accumulate(pnl_ratio)) - pnl_ratio
    slip = mtm - PROFIT_SLIPPAGE
    hours = (ts_sec[-1] - ts_sec[0]) / 3600.0
    # a constant series (a symbol that never traded) has exactly zero
    # deviation; np.std can leave a ~1e-20 rounding residue there
    if np.ptp(slip) == 0:
        sharpe = MIN_NUMERIC_VALUE
    else:
        sharpe = float(slip.sum()) / hours / float(np.std(slip)) * math.sqrt(365.0 * 24.0)
    return {
        "pnl": float(mtm.sum()),
        "max_drawdown": float(drawdown.max()),
        "sharpe_ratio": sharpe,
    }


def simulate(bars: pd.DataFrame, config) -> tuple[np.ndarray, list]:
    """simulate_symbol over one symbol's bars in (timestamp, event_id)
    order — the order every engine path sorts into."""
    from tradesignal_mtm_runner_spark.operators.bookkeeper import simulate_symbol

    bars = bars.sort_values(["timestamp", "event_id"])
    return simulate_symbol(
        ts_seconds(bars["timestamp"]),
        bars["close"].to_numpy(dtype=np.float64),
        bars["buy"].to_numpy(dtype=np.int64),
        bars["sell"].to_numpy(dtype=np.int64),
        config,
    )


def calc_expectation(bars: pd.DataFrame, config) -> dict:
    """What ``HyperOptPnlCalculatorAdapter(TradeMtmRunner(cfg))
    .calculate`` must return for one symbol: its pnl (after the
    adapter's do-nothing guard) and the four trade-list sizes."""
    mtm, trades = simulate(bars, config)
    pnl = float(mtm.sum())
    if abs(pnl) < 1e-12:
        pnl = MIN_NUMERIC_VALUE
    sizes = {"long_archive": 0, "short_archive": 0,
             "long_outstanding": 0, "short_outstanding": 0}
    for tr in trades:
        side = "long" if tr.direction == 1 else "short"
        state = "archive" if tr.exit_ts is not None else "outstanding"
        sizes[f"{side}_{state}"] += 1
    return {"pnl": pnl, **sizes}


def stream_final_pnl(bars: pd.DataFrame, fee: float, tax: float) -> dict[str, float]:
    """Final pnl_ratio per symbol of the long-only, one-position MTM
    with the given fee and tax: the recurrence
    ``operators.mtm.signal_mtm_timeline`` computes with windows, here
    bar by bar."""
    fee, tax = abs(fee), abs(tax)
    out = {}
    for symbol, g in bars.sort_values(["timestamp", "event_id"]).groupby("symbol"):
        pos, entry, prev_close, pnl = 0, 0.0, None, 0.0
        for close, buy, sell in zip(g["close"], g["buy"], g["sell"]):
            prev_pos = pos
            if buy == 1:
                if close > 0:
                    pos = 1
            elif sell == 1:
                pos = 0
            opened = int(pos == 1 and prev_pos == 0)
            closed = int(pos == 0 and prev_pos == 1)
            gross = (close - prev_close) / entry if prev_pos and prev_close is not None else 0.0
            if opened:
                entry = float(close)
            pnl += gross - fee * (opened + closed) - tax * (1 - pos)
            prev_close = float(close)
        out[symbol] = pnl
    return out


def component_labels(edges: pd.DataFrame) -> dict[int, int]:
    """Connected components by union-find: node -> minimum node id of
    its component (the label min-label propagation converges to)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges["part_a"].tolist(), edges["part_b"].tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the smaller id as root, so the root is the label
            parent[max(ra, rb)] = min(ra, rb)
    return {node: find(node) for node in parent}


def _r9(x: np.ndarray) -> np.ndarray:
    return np.round(x, 9) + 0.0


def pagerank(edges: pd.DataFrame, damp: float, tol: float = 1e-7,
             max_iters: int = 100) -> tuple[dict[int, float], int]:
    """Power iteration with the rules of
    ``operators.graph.pagerank_scores_converged``: weighted transition
    w / wdeg(src) over both edge directions, ranks rounded to 9 dp
    every round, stop when the L1 delta drops below max(tol, n * 1e-9).
    Returns the ranks and the number of rounds run."""
    a = edges["part_a"].to_numpy()
    b = edges["part_b"].to_numpy()
    w = edges["pair_cnt"].to_numpy(dtype=np.float64)
    nodes = np.unique(np.concatenate([a, b]))
    src = np.searchsorted(nodes, np.concatenate([a, b]))
    dst = np.searchsorted(nodes, np.concatenate([b, a]))
    ww = np.concatenate([w, w])
    wdeg = np.bincount(src, weights=ww, minlength=len(nodes))
    p = ww / wdeg[src]
    n = len(nodes)
    tol = max(tol, n * 1e-9)
    ranks = _r9(np.full(n, 1.0 / n))
    for rounds in range(1, max_iters + 1):
        mass = np.bincount(dst, weights=ranks[src] * p, minlength=n)
        new = _r9((1.0 - damp) / n + damp * mass)
        delta = float(np.abs(new - ranks).sum())
        ranks = new
        if delta < tol:
            return dict(zip(nodes.tolist(), ranks.tolist())), rounds
    raise RuntimeError("reference pagerank did not converge")
