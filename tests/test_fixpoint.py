"""Pins for the shared round loop (operators/graph.fixpoint) and the
batch-sized stage width: the refresh paths size their mini-CC with
explicit repartitions and never write the session's
``spark.sql.shuffle.partitions`` (concurrent queries share one
session), and the width changes no output."""

from __future__ import annotations

import pytest
from pyspark.sql.conf import RuntimeConfig

from tests.conftest import assert_frames_match
from tests.test_r10 import _bridge_docs


@pytest.fixture
def conf_writes(monkeypatch):
    writes: list[str] = []
    orig = RuntimeConfig.set

    def spy(self, key, value):
        writes.append(key)
        return orig(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    return writes


def test_refresh_paths_never_write_shuffle_partitions(spark, conf_writes):
    from tradesignal_mtm_runner_spark.operators.graph import (
        component_labels_converged,
        components_refresh,
    )
    from tradesignal_mtm_runner_spark.queries_r10 import cc_refresh_frame

    base = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "part_a long, part_b long"
    )
    delta = spark.createDataFrame([(3, 10), (20, 21)], "part_a long, part_b long")
    got = {
        r["part"]: r["component"]
        for r in components_refresh(
            component_labels_converged(base), delta
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 20: 20, 21: 20}
    assert cc_refresh_frame(_bridge_docs(spark)).count() == 3
    assert "spark.sql.shuffle.partitions" not in conf_writes


def test_stage_width_changes_no_output(spark):
    from tradesignal_mtm_runner_spark.operators.dedup import connected_canonical
    from tradesignal_mtm_runner_spark.operators.graph import (
        component_labels_converged,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)] + [(20, 21), (21, 30)],
        "part_a long, part_b long",
    )
    assert_frames_match(
        component_labels_converged(edges, parts=1).toPandas(),
        component_labels_converged(edges).toPandas(),
        "cc_parts1_vs_none",
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 12)], "doc_id long")
    pairs = edges.selectExpr("part_a AS id_a", "part_b AS id_b")
    assert_frames_match(
        connected_canonical(ids, pairs, iters=3, parts=1).toPandas(),
        connected_canonical(ids, pairs, iters=3).toPandas(),
        "canonical_parts1_vs_none",
    )


def test_fixpoint_modes_and_fail_loud(spark):
    """Fixed mode runs exactly ``rounds`` steps; converged mode stops
    at the first round the probe accepts; exhaustion raises, named
    after the calling kernel."""
    from pyspark.sql import functions as F

    from tradesignal_mtm_runner_spark.operators.graph import fixpoint

    start = spark.createDataFrame([(0,)], "x long")

    def step(df):
        return df.select(F.least(F.col("x") + 1, F.lit(3)).alias("x"))

    def value(df):
        return df.collect()[0]["x"]

    assert value(fixpoint("k", start, step, rounds=2)) == 2
    assert value(fixpoint("k", start, step, rounds=0)) == 0
    same = lambda prev, new: value(prev) == value(new)  # noqa: E731
    assert value(fixpoint("k", start, step, done=same)) == 3
    with pytest.raises(RuntimeError, match="my_kernel: no fixpoint within 2"):
        fixpoint("my_kernel", start, step, max_rounds=2, done=same)
