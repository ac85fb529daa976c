"""Full MTM bookkeeping engine — the general-configuration path.

Re-implements the reference's per-bar bookkeeping loop (reference:
src/tradesignal_mtm_runner/trade_reward.py:81-168, runner_mtm.py:118)
for ALL configurations: ROI take-profit tiers, stoploss, short
positions, max_position_per_symbol > 1, FIFO/LIFO/WORST_PRICE
inventory.

Price-dependent closes (ROI/stoploss) feed back into position state,
so the process is inherently sequential WITHIN a symbol — no window
algebra can express it. ``simulate_symbol`` is that sequential core
(one numpy state machine per symbol and config); everything else is
ONE plan and ONE cell function around it:

  plan  Exchange(hash on the cell key) -> Sort(cell key, timestamp,
        event_id) -> one MapInPandas that streams each partition and
        hands every complete cell to the cell function. The sort is the
        bar-order contract: cells are never re-sorted in pandas.
  cell  the bars of one symbol (run_mtm_bookkeeper) or of one
        (symbol, config block) (run_mtm_param_sweep_blocked), turned
        into numpy once; simulate_symbol runs once per config of the
        cell, and one frame per cell carries every config's timeline
        (or, for a single run, its trade lists).

The blocked sweep replicates bars once per block of k configs, so the
shuffle carries bars x ceil(C/k) rows and symbols x ceil(C/k) cells run
in parallel: the state-parallel vs data-parallel split.

Per-bar semantics replicated exactly (order matters):
  1. mtm(t) = sum over open trades entered strictly before t of
     ±(close[t]-close[t-1]) / entry_price
  2. ROI close, longs then shorts: close when normalized pnl exceeds
     the MINIMUM roi threshold whose minute-offset <= holding age
     (reference helper.py:37-67: max(pnl - thresholds) > 0)
  3. stoploss close, longs then shorts: pnl < -|stoploss|
  4. signal: BUY -> at-max-long? no-op; else close oldest short if
     any (no simultaneous open!), else open long. SELL symmetric;
     short opens gated by enable_short_position. Fee |fee_rate| per
     open/close.
  5. laid_back_tax charged when no position remains open.
  6. mtm_history[t] = mtm(t) - fees(t)

One advance rule: steps 1-6 run only on bars that can change state.
From each such bar the loop jumps to the next one: the next signal
bar, or the first bar where an open trade's ROI or stoploss condition
(steps 2-3's own expressions, evaluated with numpy over the segment,
trade by trade) holds. The bars in between only accrue mtm, filled
per trade in the scalar loop's order (-tax when flat), so every value
equals a bar-at-a-time run (pinned by tests/test_simulate_oracle.py).
The scan pays for itself only on long signal-free stretches: when
fewer than ``_SCAN_MIN_BARS`` of them lie ahead and a trade is open
with ROI or stoploss live, the next bar is taken as the event bar.
So sparse signals (about 1 bar in 100 in the research sweep) gain,
and dense ones (about 4 bars in 10 for the events-derived signals)
run bar by bar as before.

Known deviations from the reference (documented, intentional):

1. Multi-close skip: the reference mutates its live-position list
   while iterating it (trade_reward.py:198,236 + list.remove in the
   close helper), which silently SKIPS the element after each close
   when two trades are eligible in the same bar. We close every
   eligible trade by default. The skip DOES bite with
   max_position_per_symbol > 1 under dense signals (found by the
   hypothesis head-to-head); ``compat_multi_close_skip=True``
   reproduces the reference's behavior bar-for-bar for drop-in users
   who need bit-parity (property-tested against the reference).
2. LIFO inventory: the reference's ProxyTrade.__lt__ FIFO/LIFO
   branches compare a trade to ITSELF (models.py:178-186), so its
   heap pop degenerates to list insertion order — reference "LIFO" is
   effectively FIFO. Our LIFO is true last-in-first-out. Head-to-head
   reference parity therefore holds for FIFO and WORST_PRICE only;
   with inventory_mode=LIFO and max_position_per_symbol > 1 the trade
   archives can legitimately differ from the reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PnlCalcConfig
from ..helper import RoiHelper
from ..models import InventoryMode

_LONG, _SHORT = 1, -1

# shortest signal-free stretch worth a numpy scan for ROI/stoploss hits:
# on shorter ones (dense signals) the scan's per-trade numpy calls cost
# more than running the scalar steps on each bar
_SCAN_MIN_BARS = 8

TIMELINE_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("buy", T.IntegerType(), True),
        T.StructField("sell", T.IntegerType(), True),
        T.StructField("mtm_ratio", T.DoubleType(), True),
        T.StructField("pnl_ratio", T.DoubleType(), True),
    ]
)

#: closed + outstanding trades (reference ProxyTrade, models.py:42)
TRADES_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("direction", T.StringType(), False),
        T.StructField("entry_datetime", T.TimestampType(), False),
        T.StructField("entry_price", T.DoubleType(), False),
        T.StructField("exit_datetime", T.TimestampType(), True),
        T.StructField("exit_price", T.DoubleType(), True),
        T.StructField("is_closed", T.BooleanType(), False),
        T.StructField("close_reason", T.StringType(), True),
        T.StructField("pnl_normalized", T.DoubleType(), True),
    ]
)


class _Trade:
    __slots__ = ("entry_i", "entry_ts", "entry_price", "direction",
                 "exit_ts", "exit_price", "close_reason")

    def __init__(self, entry_i: int, entry_ts: float, entry_price: float, direction: int):
        self.entry_i = entry_i
        self.entry_ts = entry_ts
        self.entry_price = entry_price
        self.direction = direction
        self.exit_ts = None
        self.exit_price = None
        self.close_reason = None


def _pick_to_close(live: list[_Trade], mode: InventoryMode) -> int:
    """Index of the trade to close on an opposing signal.

    FIFO = earliest entry; LIFO = latest; WORST_PRICE = highest entry
    for longs / lowest for shorts (reference models.py:158-186).
    """
    if mode == InventoryMode.FIFO:
        return min(range(len(live)), key=lambda i: live[i].entry_i)
    if mode == InventoryMode.LIFO:
        return max(range(len(live)), key=lambda i: live[i].entry_i)
    # WORST_PRICE
    if live[0].direction == _LONG:
        return max(range(len(live)), key=lambda i: live[i].entry_price)
    return min(range(len(live)), key=lambda i: live[i].entry_price)


def simulate_symbol(
    ts_sec: np.ndarray,
    close: np.ndarray,
    buy: np.ndarray,
    sell: np.ndarray,
    config: PnlCalcConfig,
    inventory_mode: InventoryMode = InventoryMode.FIFO,
    strict: bool = False,
    compat_multi_close_skip: bool = False,
) -> tuple[np.ndarray, list[_Trade]]:
    """Single-symbol state machine. ts_sec: float seconds since epoch,
    MUST be sorted ascending. Returns (mtm per bar, all trades).

    strict=False (default) keeps the reference's silent-skip semantics
    for disallowed opens; strict=True raises the reference's public
    exception types instead (see exceptions.py).
    compat_multi_close_skip=True replicates the reference's
    mutate-while-iterating skip in the roi/stoploss close sweeps (see
    module docstring, deviation 1)."""
    n = len(close)
    mtm = np.zeros(n, dtype=np.float64)
    fee = abs(config.fee_rate)
    tax = abs(config.laid_back_tax)
    stop = abs(config.stoploss) if config.has_stoploss else np.inf
    max_pos = config.max_position_per_symbol

    # active minimum roi threshold = roi_min[rightmost roi_off <= age]
    roi_off, roi_min = RoiHelper(config.roi).tier_table
    roi_live = config.has_roi
    closes_live = roi_live or stop != np.inf

    longs: list[_Trade] = []
    shorts: list[_Trade] = []
    done: list[_Trade] = []

    def close_trade(live: list[_Trade], idx: int, i: int, reason: str) -> float:
        tr = live.pop(idx)
        tr.exit_ts = ts_sec[i]
        tr.exit_price = close[i]
        tr.close_reason = reason
        done.append(tr)
        return fee

    # the bars where a signal can change position state; the advance
    # block at the end of the loop jumps between these and the bars
    # where an open trade's ROI or stoploss condition holds
    sig = np.flatnonzero((buy == 1) | (sell == 1)).tolist()
    s = 0  # sig[s] is the first signal bar after the current bar

    i = 0
    while i < n:
        p = close[i]
        fees = 0.0
        # 1. mtm over trades opened strictly before this bar
        if i > 0 and (longs or shorts):
            diff = close[i] - close[i - 1]
            acc = 0.0
            for tr in longs:
                if tr.entry_i < i:
                    acc += diff / tr.entry_price
            for tr in shorts:
                if tr.entry_i < i:
                    acc -= diff / tr.entry_price
            mtm[i] = acc
        # 2. ROI close (longs then shorts)
        if roi_live:
            for live, sgn in ((longs, 1.0), (shorts, -1.0)):
                j = 0
                while j < len(live):
                    tr = live[j]
                    pnl = sgn * (p - tr.entry_price) / tr.entry_price
                    k = np.searchsorted(roi_off, ts_sec[i] - tr.entry_ts, side="right") - 1
                    if k >= 0 and pnl > roi_min[k]:
                        fees += close_trade(live, j, i, "ROI")
                        # compat: the reference's for-loop index still
                        # advances after the remove, skipping the
                        # element that shifted into this slot
                        if compat_multi_close_skip:
                            j += 1
                    else:
                        j += 1
        # 3. stoploss close (longs then shorts)
        if stop != np.inf:
            for live, sgn in ((longs, 1.0), (shorts, -1.0)):
                j = 0
                while j < len(live):
                    tr = live[j]
                    pnl = sgn * (p - tr.entry_price) / tr.entry_price
                    if pnl < -stop:
                        fees += close_trade(live, j, i, "STOP_LOSS")
                        if compat_multi_close_skip:
                            j += 1
                    else:
                        j += 1
        # 4. signal (buy wins when both set — reference runner_mtm.py:156)
        # opens are gated on p > 0: normalized mtm divides by the entry
        # price, so a zero-price open is degenerate (treated as HOLD);
        # closes remain valid at any price.
        if buy[i] == 1:
            if len(longs) < max_pos:
                if shorts:
                    fees += close_trade(shorts, _pick_to_close(shorts, inventory_mode), i, "SIGNAL")
                elif p > 0:
                    longs.append(_Trade(i, ts_sec[i], p, _LONG))
                    fees += fee
            elif strict:
                from ..exceptions import MaxPositionPerSymbolExceededException

                raise MaxPositionPerSymbolExceededException(
                    f"buy signal at bar {i} with {len(longs)} open longs"
                    f" >= max_position_per_symbol={max_pos}"
                )
        elif sell[i] == 1:
            if len(shorts) < max_pos:
                if longs:
                    fees += close_trade(longs, _pick_to_close(longs, inventory_mode), i, "SIGNAL")
                elif config.enable_short_position and p > 0:
                    shorts.append(_Trade(i, ts_sec[i], p, _SHORT))
                    fees += fee
                elif strict and not config.enable_short_position:
                    from ..exceptions import NoShortPositionAllowedException

                    raise NoShortPositionAllowedException(
                        f"sell signal at bar {i} would open a short but"
                        " enable_short_position is False"
                    )
            elif strict:
                from ..exceptions import MaxPositionPerSymbolExceededException

                raise MaxPositionPerSymbolExceededException(
                    f"sell signal at bar {i} with {len(shorts)} open shorts"
                    f" >= max_position_per_symbol={max_pos}"
                )
        # 5. laid back tax
        if not longs and not shorts:
            fees += tax
        # 6.
        mtm[i] -= fees
        # advance to the next bar that can change state (the module
        # docstring's one advance rule); the bars before it only accrue
        # mtm, summed per trade in step 1's order so the values are
        # bit-identical to running them one by one
        while s < len(sig) and sig[s] <= i:
            s += 1
        nxt = sig[s] if s < len(sig) else n
        if (longs or shorts) and closes_live:
            if nxt - i - 1 < _SCAN_MIN_BARS:
                nxt = i + 1
            else:
                for live, sgn in ((longs, 1.0), (shorts, -1.0)):
                    for tr in live:
                        # each hit shortens the segment the next trade scans
                        pnl = sgn * (close[i + 1 : nxt] - tr.entry_price) / tr.entry_price
                        hit = pnl < -stop
                        if roi_live:
                            age = ts_sec[i + 1 : nxt] - tr.entry_ts
                            tier = np.searchsorted(roi_off, age, side="right") - 1
                            hit |= (tier >= 0) & (pnl > roi_min[tier])
                        first = np.flatnonzero(hit)
                        if len(first):
                            nxt = i + 1 + int(first[0])
        if nxt > i + 1 and not longs and not shorts:
            mtm[i + 1 : nxt] = -tax
        elif nxt > i + 1:
            seg = np.diff(close[i:nxt])
            acc = np.zeros(len(seg), dtype=np.float64)
            for tr in longs:
                acc += seg / tr.entry_price
            for tr in shorts:
                acc -= seg / tr.entry_price
            mtm[i + 1 : nxt] = acc
        i = nxt

    return mtm, done + longs + shorts


SWEEP_TIMELINE_SCHEMA = T.StructType(
    [T.StructField("config_id", T.StringType(), False)] + TIMELINE_SCHEMA.fields
)

_BAR_COLS = ("symbol", "timestamp", "event_id", "close", "buy", "sell")


def _trades_frame(symbol, trades: list[_Trade], fee: float) -> pd.DataFrame:
    """One symbol's trade archive + outstanding trades. pnl_normalized
    includes the entry and exit fee like the reference's ProxyTrade.pnl
    (models.py:117-131, fee on entry price)."""
    rows = []
    for tr in trades:
        closed = tr.exit_ts is not None
        sgn = 1.0 if tr.direction == _LONG else -1.0
        pnl = None
        if closed:
            pnl = (sgn * (tr.exit_price - tr.entry_price) / tr.entry_price) - 2 * fee
        rows.append(
            {
                "symbol": symbol,
                "direction": "LONG" if tr.direction == _LONG else "SHORT",
                "entry_datetime": np.datetime64(int(round(tr.entry_ts * 1e6)), "us"),
                "entry_price": tr.entry_price,
                "exit_datetime": np.datetime64(int(round(tr.exit_ts * 1e6)), "us") if closed else None,
                "exit_price": tr.exit_price if closed else None,
                "is_closed": closed,
                "close_reason": tr.close_reason,
                "pnl_normalized": pnl,
            }
        )
    return pd.DataFrame(rows, columns=[f.name for f in TRADES_SCHEMA.fields])


def _make_cell_fn(
    blocks: list[list[tuple[str | None, PnlCalcConfig]]],
    inventory_mode: InventoryMode,
    output: str,
    strict: bool,
    compat_multi_close_skip: bool,
):
    """The one cell function. ``cell((symbol[, block]), pdf)`` turns
    the cell's bars into numpy ONCE, runs simulate_symbol for each
    (config_id, config) of its block, and builds one frame: the bar
    columns tiled once per config and pnl_ratio as the row-wise cumsum
    of the k x n mtm matrix. The bars arrive in plan order; the cell
    never re-sorts them. A config_id of None is the single-config run:
    no config_id column, and output="trades" gives its trade lists."""

    def cell(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        runs = blocks[int(key[1])] if len(key) > 1 else blocks[0]
        ts = pdf["timestamp"].to_numpy()
        ts_sec = ts.astype("datetime64[us]").astype(np.int64) / 1e6
        close = pdf["close"].to_numpy(dtype=np.float64)
        buy = pdf["buy"].to_numpy(dtype=np.int64)
        sell = pdf["sell"].to_numpy(dtype=np.int64)
        sims = [
            simulate_symbol(
                ts_sec, close, buy, sell, cfg, inventory_mode, strict=strict,
                compat_multi_close_skip=compat_multi_close_skip,
            )
            for _, cfg in runs
        ]
        if output == "trades":
            return _trades_frame(key[0], sims[0][1], abs(runs[0][1].fee_rate))
        k = len(runs)
        mtm = np.stack([m for m, _ in sims])
        ids = [cid for cid, _ in runs]
        tagged = {} if ids[0] is None else {"config_id": np.repeat(ids, len(ts))}
        return pd.DataFrame(
            {
                **tagged,
                "symbol": key[0],
                "timestamp": np.tile(ts, k),
                "close": np.tile(close, k),
                "buy": np.tile(buy.astype(np.int32), k),
                "sell": np.tile(sell.astype(np.int32), k),
                "mtm_ratio": mtm.ravel(),
                "pnl_ratio": np.cumsum(mtm, axis=1).ravel(),
            }
        )

    return cell


def _batched_group_stream(key_cols: list[str], group_fn):
    """mapInPandas generator that re-chunks a (key-sorted, key-hash-
    partitioned) batch stream into COMPLETE key groups and applies
    ``group_fn(key_tuple, pdf)`` per group, rows in stream order.

    Why not groupBy().applyInPandas: that path pays per-GROUP plan and
    Arrow overhead (~2 ms/group measured), which dominates when groups
    are small and numerous — 1500 symbol groups cost ~3 s of pure
    overhead for 0.3 s of engine work at sf0.1. Streaming whole
    partitions and splitting on key boundaries in pandas keeps the
    task count = partition count while preserving exactly-one-call-
    per-group semantics. Rows of the partition's current LAST key are
    buffered until the next batch proves the group complete."""

    def groups(pdf: pd.DataFrame):
        for key, g in pdf.groupby(key_cols, sort=False):
            yield group_fn(key, g)

    def fn(batches):
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if not len(pdf):
                continue
            keys = pdf[key_cols]
            tail = (keys == keys.iloc[-1]).all(axis=1).to_numpy()
            pending = pdf[tail]
            yield from groups(pdf[~tail])
        if pending is not None:
            yield from groups(pending)

    return fn


def _cell_plan(
    signals: DataFrame, n_blocks: int | None, cell, schema: T.StructType
) -> DataFrame:
    """The one bookkeeper plan: Exchange(hash on the cell key) ->
    Sort(cell key, timestamp[, event_id]) -> ONE MapInPandas that hands
    each complete cell to ``cell``. The in-partition sort is the
    bar-order contract. A sweep (n_blocks set) replicates each bar once
    per config block as ``_blk``, so its cell is (symbol, block); a
    single run's cell is the symbol."""
    cols = [c for c in _BAR_COLS if c in signals.columns]
    bars = signals.select(*cols)
    keys = ["symbol"]
    if n_blocks is not None:
        bars = bars.withColumn(
            "_blk", F.explode(F.array(*[F.lit(b) for b in range(n_blocks)]))
        )
        keys.append("_blk")
    # explicit partition count: AQE's byte-based coalescing would fold
    # this Python-CPU-bound stage into ~2 tasks (the engine costs CPU
    # per row, not bytes); a user-specified count is exempt from
    # coalescing and keeps every core busy
    n_part = int(signals.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    order = [c for c in ("timestamp", "event_id") if c in cols]
    return (
        bars.repartition(n_part, *keys)
        .sortWithinPartitions(*keys, *order)
        .mapInPandas(_batched_group_stream(keys, cell), schema=schema)
    )


def run_mtm_bookkeeper(
    signals: DataFrame,
    config: PnlCalcConfig | None = None,
    inventory_mode: InventoryMode = InventoryMode.FIFO,
    output: str = "timeline",
    strict: bool = False,
    compat_multi_close_skip: bool = False,
) -> DataFrame:
    """Distributed full-engine MTM run: the one plan with one cell per
    symbol.

    signals: DataFrame(symbol, timestamp[, event_id], close, buy, sell);
    bars run in (timestamp, event_id) order whatever the input order.
    output: "timeline" (per-bar mtm/pnl) or "trades" (archive +
    outstanding, reference Mtm_Result trade lists).
    strict: raise the reference's public exception types on disallowed
    opens instead of the reference engine's silent skip (the raise
    happens inside the executor task; TradeMtmRunner re-raises the
    typed original driver-side via exceptions.reraise_typed).
    """
    config = config or PnlCalcConfig.get_default()
    if output not in ("timeline", "trades"):
        from ..exceptions import UnSupportedException

        raise UnSupportedException("output must be 'timeline' or 'trades'")
    cell = _make_cell_fn(
        [[(None, config)]], inventory_mode, output, strict,
        compat_multi_close_skip,
    )
    schema = TIMELINE_SCHEMA if output == "timeline" else TRADES_SCHEMA
    return _cell_plan(signals, None, cell, schema)


def run_mtm_param_sweep_blocked(
    signals: DataFrame,
    configs: dict[str, PnlCalcConfig],
    block_size: int = 8,
    inventory_mode: InventoryMode = InventoryMode.FIFO,
) -> DataFrame:
    """Strategy-grid sweep: every (symbol, config) timeline of the grid,
    tagged with config_id, in one pass of the one plan.

    The sorted config ids are cut into blocks of ``block_size``. Bars
    are replicated once per BLOCK through the shuffle (volume bars x
    ceil(C/k)), and each (symbol, block) cell runs its k state machines
    over one numpy copy of the bars. Parallelism is symbols x ceil(C/k)
    cells: pick k so that grid/k still saturates the cluster (k=8 at
    C=32 keeps 4 blocks per symbol). block_size=1 is the per-config
    form. Values equal per-config run_mtm_bookkeeper runs (pinned in
    tests/test_param_sweep.py). Feed to summarize_timeline(...,
    group_cols=["symbol", "config_id"]) for the grid summary."""
    ids = sorted(configs)
    blocks = [
        [(cid, configs[cid]) for cid in ids[i : i + block_size]]
        for i in range(0, len(ids), block_size)
    ]
    cell = _make_cell_fn(blocks, inventory_mode, "timeline", False, False)
    return _cell_plan(signals, len(blocks), cell, SWEEP_TIMELINE_SCHEMA)


def summarize_timeline(
    timeline: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-group pnl / max_drawdown / sharpe from any MTM timeline
    (works for the declarative, bookkeeper, and sweep engines)."""
    from ..functions.timeseries import running_max_drawdown, symbol_window
    from ..models import MIN_NUMERIC_VALUE, PROFIT_SLIPPAGE

    group_cols = group_cols or ["symbol"]
    w = symbol_window(group_cols, ["timestamp"])
    dd = running_max_drawdown(F.col("pnl_ratio"), w)
    enriched = timeline.withColumn("_dd", dd).withColumn(
        "_slip", F.col("mtm_ratio") - F.lit(PROFIT_SLIPPAGE)
    )
    hours = (
        (F.unix_millis(F.max("timestamp")) - F.unix_millis(F.min("timestamp")))
        / F.lit(1000.0)
        / F.lit(3600.0)
    )
    std = F.stddev_pop("_slip")
    sharpe = F.when(std == 0, F.lit(MIN_NUMERIC_VALUE)).otherwise(
        F.sum("_slip") / hours / std * F.sqrt(F.lit(365.0 * 24.0))
    )
    return enriched.groupBy(*group_cols).agg(
        F.sum("mtm_ratio").alias("pnl"),
        F.max("_dd").alias("max_drawdown"),
        sharpe.alias("sharpe_ratio"),
        F.unix_millis(F.min("timestamp")).alias("mkt_start_epoch"),
        F.unix_millis(F.max("timestamp")).alias("mkt_end_epoch"),
    )
