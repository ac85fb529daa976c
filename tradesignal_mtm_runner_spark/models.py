"""Enums and constants.

Mirrors the reference's domain model (reference:
src/tradesignal_mtm_runner/models.py). Trades and results are ROWS in
distributed DataFrames, not Python objects; their Spark schemas live
with the engine that writes them (operators/bookkeeper.py).
"""

from __future__ import annotations

from enum import Enum

MAX_NUMERIC_VALUE: float = 1e50
MIN_NUMERIC_VALUE: float = -1e50

# per-bar slippage used by the sharpe calc (reference trade_reward.py:57)
PROFIT_SLIPPAGE: float = 0.000001


class LongShort(str, Enum):
    LONG = "LONG"
    SHORT = "SHORT"


class BuySellAction(str, Enum):
    BUY = "B"
    SELL = "S"
    HOLD = "H"


class CloseReason(str, Enum):
    SIGNAL = "SIGNAL"
    STOP_LOSS = "STOP_LOSS"
    ROI = "ROI"


class InventoryMode(str, Enum):
    LIFO = "L"
    FIFO = "F"
    WORST_PRICE = "W"

