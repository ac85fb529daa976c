"""Pnl calculation config.

Semantics mirror the reference ``PnlCalcConfig`` (reference:
src/tradesignal_mtm_runner/config.py:5) but as a plain dataclass —
no pydantic dependency; validation happens in ``__post_init__``.

roi: {minutes_offset: normalized_pnl_threshold}. All thresholds whose
offset is <= the trade's holding age are active; the position is
closed (take-profit) as soon as the normalized pnl exceeds ANY active
threshold.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


@dataclass
class PnlCalcConfig:
    roi: dict[float, float] = field(default_factory=dict)
    stoploss: float = float("-inf")
    fixed_stake_unit_amount: float = 100.0
    enable_short_position: bool = False
    max_position_per_symbol: int = 1
    fee_rate: float = 0.0
    laid_back_tax: float = 0.0001

    def __post_init__(self) -> None:
        if not isinstance(self.max_position_per_symbol, int) or (
            self.max_position_per_symbol <= 0
        ):
            raise ValueError("max_position_per_symbol must be a positive int")
        if not self.fixed_stake_unit_amount > 0:
            raise ValueError("fixed stake unit amount must be > 0")
        if not self.stoploss < 0:
            raise ValueError("stoploss must be negative")
        if not self.roi:
            raise ValueError("roi must be non-empty")
        normalized: dict[float, float] = {}
        for k, v in self.roi.items():
            # a fractional minute key such as 0.5 (30 s) keeps its value
            fk = float(k)
            if not fk >= 0:  # also rejects NaN
                raise ValueError("roi key must be >= 0")
            if not (isinstance(v, (int, float)) and v >= 0):
                raise ValueError("roi value must be >= 0")
            normalized[fk] = float(v)
        if 0 not in normalized:
            raise ValueError("missing default roi (key 0)")
        self.roi = normalized

    @classmethod
    def get_default(cls) -> "PnlCalcConfig":
        return cls(roi={0: math.inf}, stoploss=float("-inf"), laid_back_tax=0.0)

    @property
    def has_roi(self) -> bool:
        """True when any roi tier can actually trigger a take-profit."""
        return any(math.isfinite(v) for v in self.roi.values())

    @property
    def has_stoploss(self) -> bool:
        return math.isfinite(self.stoploss)
