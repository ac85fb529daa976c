"""Cross-engine float rounding shared by operators and queries.

Floats are rounded to ROUND=9 decimals in both Spark and the paired
DuckDB oracle, so engine summation-order differences (~1e-14) never
reach an output hash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ROUND = 9


def r9(c) -> Column:
    """``round(c, 9) + 0.0``. The ``+ 0.0`` canonicalizes IEEE -0.0 to
    +0.0 after rounding (NULL/NaN unaffected). The sign of zero is
    invisible to numeric comparison but not to a hash of the
    output's representation: the declarative oracle's
    ``prev_pos * price_diff`` emits -0.0 where a Python state machine's
    ``gross = 0.0`` branch emits +0.0. Every paired DuckDB oracle
    applies the same ``round(x, 9) + 0.0``."""
    return F.round(c, ROUND) + F.lit(0.0)
