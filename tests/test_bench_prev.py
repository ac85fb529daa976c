"""bench.py round-over-round guard: the vs_prev_detail summary may only
compare against a previous detail file measured at the same core
count. A file without ``cpus`` has an unknown core count and is
skipped, not taken as the current one."""

from __future__ import annotations

import json
import os

from bench import _vs_prev_detail


def _write(repo, rnd, payload):
    os.makedirs(os.path.join(repo, "docs"), exist_ok=True)
    with open(os.path.join(repo, "docs", f"BENCH_local_r{rnd:02d}.json"), "w") as fh:
        json.dump(payload, fh)


def test_missing_cpus_is_skipped_and_matching_cpus_is_chosen(tmp_path):
    repo = str(tmp_path)
    _write(repo, 9, {"queries": {"a": 1.0, "b": 4.0}})  # no cpus: unknown
    _write(repo, 8, {"cpus": 8, "queries": {"a": 1.0, "b": 4.0}})
    _write(repo, 7, {"cpus": 4, "queries": {"a": 2.0, "b": 2.0}})
    got = _vs_prev_detail(10, 4, {"a": 1.0, "b": 2.0}, repo=repo)
    assert got["prev_round"] == 7
    assert got["n_common"] == 2
    assert got["geomean_speedup"] == round(2.0 ** 0.5, 3)
    assert (got["n_regressed_gt10pct"], got["n_improved_gt10pct"]) == (0, 1)


def test_no_matching_core_count_gives_none(tmp_path):
    repo = str(tmp_path)
    _write(repo, 9, {"queries": {"a": 1.0}})
    _write(repo, 8, {"cpus": 8, "queries": {"a": 1.0}})
    assert _vs_prev_detail(10, 4, {"a": 1.0}, repo=repo) is None
