"""Incremental signal-MTM over Structured Streaming (SURVEY §2 A10).

Re-expresses ``operators.mtm.signal_mtm_timeline`` (the feedback-free
long-only / max_position=1 configuration — reference
trade_reward.py:81-168 restricted) as a stateful streaming operator:
``groupBy(symbol).applyInPandasWithState`` with ONE state function.

- One machine (``_run_machine``) per config carries a 5-tuple
  (position, entry_price, prev_close, pnl_cum, has_prev) across
  micro-batches, so state scales with #symbols x #configs, not #bars.
- ``streaming_mtm_timeline`` runs one machine per symbol key
  (``STATE_SCHEMA``). ``streaming_mtm_sweep_blocked`` runs the whole
  fee/tax grid per symbol key over ONE copy of the batch's bars, its C
  5-tuples flattened into one state row (``_blocked_state_schema``).
  Both layouts are the checkpoint format: a restarted query reads them
  back field for field.
- Bars are processed in (timestamp, event_id) order within each
  micro-batch: applyInPandasWithState promises no row order, so the
  state function sorts. Cross-batch order is the stream's append order
  (file source: one file per trigger). Late/out-of-order bars across
  batches are out of scope — the batch engine is the replay/repair
  path.

Batch parity is pytest-enforced: replaying the same bars through N
micro-batches, a restart included, reproduces the batch engine
bar-for-bar (tests/test_streaming.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import PnlCalcConfig

OUTPUT_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("timestamp", TimestampType()),
        StructField("event_id", LongType()),
        StructField("close", DoubleType()),
        StructField("buy", IntegerType()),
        StructField("sell", IntegerType()),
        StructField("position", IntegerType()),
        StructField("opened", IntegerType()),
        StructField("closed", IntegerType()),
        StructField("entry_price", DoubleType()),
        StructField("mtm_ratio", DoubleType()),
        StructField("pnl_ratio", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("position", IntegerType()),
        StructField("entry_price", DoubleType()),
        StructField("prev_close", DoubleType()),
        StructField("pnl_cum", DoubleType()),
        StructField("has_prev", IntegerType()),
    ]
)


def _run_machine(
    symbol, bars: pd.DataFrame, fee: float, tax: float, st: tuple
) -> tuple[dict, tuple]:
    """One single-config state machine over one micro-batch's sorted
    bars: returns (output columns dict, updated 5-tuple state)."""
    pos, entry, prev_close, pnl_cum, has_prev = st
    out = {c.name: [] for c in OUTPUT_SCHEMA.fields}
    for ts, event_id, close, buy, sell in zip(
        bars["timestamp"], bars["event_id"], bars["close"], bars["buy"], bars["sell"]
    ):
        prev_pos = pos
        # signal resolution — buy wins and CONSUMES the bar even
        # when the close<=0 price gate makes it a HOLD (same
        # nesting as operators/mtm.py and bookkeeper.py step 4)
        if buy == 1:
            if close > 0:
                pos = 1
        elif sell == 1:
            pos = 0
        opened = int(pos == 1 and prev_pos == 0)
        closed = int(pos == 0 and prev_pos == 1)
        # mtm step 1 runs before closes: the closing bar still
        # accrues against the PREVIOUS entry/close
        if prev_pos and has_prev and prev_close is not None and entry:
            gross = (close - prev_close) / entry
        else:
            gross = 0.0
        if opened:
            entry = float(close)
        mtm = gross - fee * (opened + closed) - tax * (1 - pos)
        pnl_cum += mtm
        out["symbol"].append(symbol)
        out["timestamp"].append(ts)
        out["event_id"].append(event_id)
        out["close"].append(close)
        out["buy"].append(buy)
        out["sell"].append(sell)
        out["position"].append(pos)
        out["opened"].append(opened)
        out["closed"].append(closed)
        out["entry_price"].append(entry)
        out["mtm_ratio"].append(mtm)
        out["pnl_ratio"].append(pnl_cum)
        prev_close = float(close)
        has_prev = 1
    return out, (pos, entry, prev_close, pnl_cum, has_prev)


def _make_state_fn(
    fee_tax: list[tuple[float, float]], ids: list[str] | None = None
):
    """The one state function: machine i runs with fee_tax[i] over the
    key's micro-batch bars, sorted by (timestamp, event_id), and keeps
    its 5-tuple at slots 5i..5i+4 of the state row. ``ids`` tags
    machine i's rows with config_id ids[i]; None emits the single
    machine's rows untagged."""
    params = [(abs(float(fee)), abs(float(tax))) for fee, tax in fee_tax]
    n = len(params)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        flat = list(state.get) if state.exists else [0, None, None, 0.0, 0] * n
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            state.update(tuple(flat))
            return
        bars = pd.concat(chunks, ignore_index=True).sort_values(
            ["timestamp", "event_id"], kind="stable"
        )
        outs = []
        for i, (fee, tax) in enumerate(params):
            st = tuple(flat[5 * i : 5 * i + 5])
            out, flat[5 * i : 5 * i + 5] = _run_machine(key[0], bars, fee, tax, st)
            pdf = pd.DataFrame(out)
            if ids is not None:
                pdf.insert(0, "config_id", ids[i])
            outs.append(pdf)
        state.update(tuple(flat))
        yield pd.concat(outs, ignore_index=True)

    return fn


def streaming_mtm_timeline(
    signals: DataFrame, config: PnlCalcConfig | None = None
) -> DataFrame:
    """Stateful per-bar MTM over a streaming signal frame
    (symbol, timestamp, event_id, close, buy, sell).

    ``event_id`` is the deterministic same-timestamp tiebreak. Frames
    from the 5-column SIGNAL_COLUMNS contract (signal_stream's default
    schema, the CSV/JSONL loaders) don't carry one — synthesize a
    constant so the sort degrades to timestamp-only, exactly the
    reference's pandas ordering."""
    config = config or PnlCalcConfig.get_default()
    if "event_id" not in signals.columns:
        signals = signals.withColumn("event_id", F.lit(0).cast("long"))
    return signals.groupBy("symbol").applyInPandasWithState(
        _make_state_fn([(config.fee_rate, config.laid_back_tax)]),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SWEEP_OUTPUT_SCHEMA = StructType(
    [StructField("config_id", StringType())] + OUTPUT_SCHEMA.fields
)


def _blocked_state_schema(n: int) -> StructType:
    """The C-config blocked state: C independent 5-tuples flattened
    into one state row (position_i, entry_price_i, prev_close_i,
    pnl_cum_i, has_prev_i per config slot i in sorted-config order)."""
    fields = []
    for i in range(n):
        fields += [
            StructField(f"position_{i}", IntegerType()),
            StructField(f"entry_price_{i}", DoubleType()),
            StructField(f"prev_close_{i}", DoubleType()),
            StructField(f"pnl_cum_{i}", DoubleType()),
            StructField(f"has_prev_{i}", IntegerType()),
        ]
    return StructType(fields)


def streaming_mtm_sweep_blocked(
    signals: DataFrame, fee_tax: dict[str, tuple[float, float]]
) -> DataFrame:
    """Strategy-grid MTM over a STREAM: every (symbol, config) timeline
    of the fee/tax grid, tagged with config_id. Bars are not replicated:
    each symbol is ONE state-store key whose state row carries all C
    per-config 5-tuples, and the state function runs the C machines
    over a single copy of the micro-batch's bars. Shuffle volume into
    the state operator is bars x 1 and the state-store key count is
    #symbols. The streaming twin of run_mtm_param_sweep_blocked with the
    whole grid in one block."""
    ids = sorted(fee_tax)
    return signals.groupBy("symbol").applyInPandasWithState(
        _make_state_fn([fee_tax[c] for c in ids], ids),
        outputStructType=SWEEP_OUTPUT_SCHEMA,
        stateStructType=_blocked_state_schema(len(ids)),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
