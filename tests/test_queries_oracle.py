"""Every declared query must match its DuckDB oracle at sf0.001 —
the same harness the driver runs at sf0.01 (CORRECTNESS gate)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE, assert_frames_match
from tradesignal_mtm_runner_spark.queries import (
    ALL_ORACLES as ORACLES,
    ALL_QUERIES as QUERIES,
    DRIVER_WINDOW,
)


def test_driver_registry_fits_correctness_window():
    # the driver evaluates only the first 50 queries() entries
    assert len(entrymod.queries()) <= 50


def test_every_query_has_oracle_or_is_declared():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    if name not in ORACLES:
        df = QUERIES[name](spark, SF_SMOKE).toPandas()
        assert len(df) >= 0  # rows-only check
        return
    got = QUERIES[name](spark, SF_SMOKE).toPandas()
    want = duck.execute(ORACLES[name]).df()
    assert_frames_match(got, want, name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "pnl" in df.columns


def test_driver_window():
    """queries() is exactly DRIVER_WINDOW, in order, and oracle_sql()
    is its oracled subset; only the two declared rows-only keys in the
    window lack an oracle."""
    keys = list(entrymod.queries())
    assert keys == list(DRIVER_WINDOW)
    assert len(set(keys)) == len(keys) == 50
    assert set(keys) <= set(QUERIES)
    assert {k for k in keys if k not in ORACLES} == {
        "approx_table_profile",
        "mtm_full_engine",
    }
    assert entrymod.oracle_sql() == {
        k: ORACLES[k] for k in DRIVER_WINDOW if k in ORACLES
    }
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize(
    "name", ["mtm_sweep_stream", "mtm_streaming", "mtm_timeline"]
)
def test_no_negative_zero_in_either_engine(name, spark, duck):
    """Pin the r7 driver-hash regression class: the driver hashes the
    VALUE REPRESENTATION, so IEEE -0.0 vs +0.0 is a mismatch even
    though every numeric comparison calls them equal. The declarative
    oracle's `prev_pos * price_diff` emits -0.0 exactly where a Python
    state machine's `gross = 0.0` branch emits +0.0 — visible only in
    zero-fee/zero-tax grid cells (mtm_sweep_stream's fee0_tax0 /
    fee_only configs). Both engines must canonicalize after rounding
    (`round(x, 9) + 0.0`, mtm_shared.r9 / the oracle SELECTs), so
    NEITHER output may contain a negative zero anywhere."""
    import numpy as np

    def neg_zero_cells(df, side):
        bad = {}
        for col in df.columns:
            vals = df[col]
            if vals.dtype.kind != "f":
                continue
            arr = vals.to_numpy()
            n = int((np.signbit(arr) & (arr == 0.0)).sum())
            if n:
                bad[col] = n
        assert not bad, f"{name}/{side}: negative zeros {bad}"

    got = QUERIES[name](spark, SF_SMOKE).toPandas()
    want = duck.execute(ORACLES[name]).df()
    neg_zero_cells(got, "spark")
    neg_zero_cells(want, "oracle")
    # and the zero-fee cells genuinely exercise the class: the sweep
    # must contain exact zeros in mtm_ratio (else this pin is vacuous)
    if name == "mtm_sweep_stream":
        assert (got["mtm_ratio"].to_numpy() == 0.0).any()
