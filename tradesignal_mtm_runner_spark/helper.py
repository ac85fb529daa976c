"""ROI take-profit helper — public API parity with the reference
(reference: src/tradesignal_mtm_runner/helper.py:8 ROI_Helper).

The reference backs this with a custom BTree-indexed list
(data_struct.py); a sorted numpy array + searchsorted gives the same
O(log R) active-tier lookup with no custom data structure, and the
prefix-min trick turns "pnl exceeds ANY active threshold" into one
comparison (pnl > min(active thresholds)). The bookkeeper engine
(``operators.bookkeeper.simulate_symbol``) reads the same table through
``tier_table``; this class is also the standalone, user-facing form.
"""

from __future__ import annotations

from datetime import datetime

import numpy as np


class RoiHelper:
    """Time-tiered take-profit: roi = {minutes_offset: pnl_threshold}.

    A tier is ACTIVE once the trade's holding age reaches its offset;
    the position take-profits when normalized pnl exceeds any active
    threshold."""

    def __init__(self, roi_dict: dict[int, float]) -> None:
        # pair each offset with its own value directly — reconstructing
        # the dict key from seconds would KeyError / mismap for
        # non-integer minute keys like {0.5: 0.01}, which the reference
        # ROI_Helper accepts (it multiplies keys by 60 as-is)
        items = sorted((float(k) * 60.0, float(v)) for k, v in roi_dict.items())
        self._roi_seconds = np.array([k for k, _ in items], dtype=np.float64)
        thresholds = np.array([v for _, v in items], dtype=np.float64)
        self._thresholds = thresholds
        self._prefix_min = np.minimum.accumulate(thresholds)

    @property
    def tier_table(self) -> tuple[np.ndarray, np.ndarray]:
        """(offsets_s, prefix_min): tier offsets in seconds, ascending,
        and the running minimum of their thresholds. At holding age a
        the active minimum threshold is prefix_min[k] for the rightmost
        k with offsets_s[k] <= a (no active tier when there is none)."""
        return self._roi_seconds, self._prefix_min

    def _age_seconds(self, entry_date: datetime, current_date: datetime) -> float:
        return (current_date - entry_date).total_seconds()

    def get_all_take_profit_pnl(
        self, entry_date: datetime, current_date: datetime
    ) -> list[float]:
        """All thresholds whose offset <= holding age (reference
        helper.py:16)."""
        age = self._age_seconds(entry_date, current_date)
        k = int(np.searchsorted(self._roi_seconds, age, side="right"))
        return self._thresholds[:k].tolist()

    def can_take_profit(
        self, entry_date: datetime, current_date: datetime, normalized_pnl: float
    ) -> bool:
        """True when pnl exceeds ANY active threshold == pnl > the
        prefix-min of active thresholds (reference helper.py:36)."""
        age = self._age_seconds(entry_date, current_date)
        k = int(np.searchsorted(self._roi_seconds, age, side="right")) - 1
        return k >= 0 and normalized_pnl > float(self._prefix_min[k])


def convert_datetime_to_ms(dt: datetime) -> int:
    """Epoch milliseconds (reference utility.py:3)."""
    return int(dt.timestamp() * 1000)


def convert_ms_to_datetime(ms: int) -> datetime:
    """Inverse of convert_datetime_to_ms (reference utility.py:6)."""
    return datetime.fromtimestamp(ms / 1000)
