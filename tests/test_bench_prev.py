"""bench.py round-over-round guard: the vs_prev_detail summary may only
compare against a previous detail file measured at the same core
count. A file without ``cpus`` has an unknown core count and is
skipped, not taken as the current one. A non-default core count
writes and reads its own ``_c{cpus}`` detail slots, and a detail file
that records another core count is never overwritten. The host factor
is taken only against an artifact that timed the same anchor
kernel."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

from bench import (
    _REPO,
    ANCHOR_KERNEL,
    DEFAULT_CPUS,
    _detail_slot,
    _prev_anchor,
    _vs_prev_detail,
    _write_detail,
)


def _write(repo, rnd, payload, cpus=DEFAULT_CPUS):
    os.makedirs(os.path.join(repo, "docs"), exist_ok=True)
    with open(os.path.join(repo, _detail_slot(rnd, cpus)), "w") as fh:
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


def test_detail_slot_tags_non_default_core_counts():
    assert _detail_slot(18, DEFAULT_CPUS) == "docs/BENCH_local_r18.json"
    assert _detail_slot(18, 8) == "docs/BENCH_local_r18_c8.json"
    assert _detail_slot(5, 4, "_sf1") == "docs/BENCH_local_r05_sf1_c4.json"


def test_non_default_cores_walk_back_through_their_own_slots(tmp_path):
    repo = str(tmp_path)
    # the newest headline slot holds a default-core run: never compared
    # with a 4-core run; the 4-core run of the round before is
    _write(repo, 9, {"cpus": DEFAULT_CPUS, "queries": {"a": 9.0}})
    _write(repo, 8, {"cpus": 4, "queries": {"a": 2.0}}, cpus=4)
    _write(repo, 8, {"cpus": DEFAULT_CPUS, "queries": {"a": 7.0}})
    got = _vs_prev_detail(10, 4, {"a": 1.0}, repo=repo)
    assert (got["prev_round"], got["geomean_speedup"]) == (8, 2.0)
    # a mislabelled _c slot (wrong recorded cpus) is skipped too
    _write(repo, 9, {"cpus": 8, "queries": {"a": 5.0}}, cpus=4)
    assert _vs_prev_detail(10, 4, {"a": 1.0}, repo=repo)["prev_round"] == 8
    # the default core count reads only the headline slots
    got = _vs_prev_detail(10, DEFAULT_CPUS, {"a": 1.0}, repo=repo)
    assert (got["prev_round"], got["geomean_speedup"]) == (9, 9.0)


def _artifact(repo, rnd, parsed):
    with open(os.path.join(repo, f"BENCH_r{rnd:02d}.json"), "w") as fh:
        json.dump({"n": rnd, "parsed": parsed, "tail": json.dumps(parsed)}, fh)


def test_host_factor_needs_the_same_anchor_kernel(tmp_path):
    repo = str(tmp_path)
    # every artifact before the tag timed the per-bar kernel: no factor
    _artifact(repo, 17, {"anchor_bookkeeper_500k": 3.689,
                         "queries": {"bookkeeper_500k_bars": 3.689}})
    assert _prev_anchor(repo) is None
    _artifact(repo, 18, {"anchor_bookkeeper_500k": 0.3, "anchor_kernel": ANCHOR_KERNEL})
    _artifact(repo, 19, {"anchor_bookkeeper_500k": 0.1, "anchor_kernel": "other"})
    _artifact(repo, 20, None)  # an unparsed artifact is skipped too
    assert _prev_anchor(repo) == (18, 0.3)


def test_detail_file_of_another_core_count_is_kept(tmp_path):
    repo = str(tmp_path)
    rel = _detail_slot(18, DEFAULT_CPUS)
    _write(repo, 18, {"cpus": 8, "queries": {"a": 1.0}})
    with pytest.raises(FileExistsError, match="cpus=8"):
        _write_detail(rel, {"cpus": DEFAULT_CPUS, "queries": {"a": 2.0}}, repo=repo)
    with open(os.path.join(repo, rel)) as fh:
        assert json.load(fh)["cpus"] == 8
    # the same core count (a rerun of the round) overwrites
    _write_detail(rel, {"cpus": 8, "queries": {"a": 3.0}}, repo=repo)
    with open(os.path.join(repo, rel)) as fh:
        assert json.load(fh)["queries"] == {"a": 3.0}


def test_round_18_headline_slot_is_free(tmp_path):
    """The 8-core run that bench wrote as round 18 sits in its own
    ``_c8`` slot: the next default-core bench (round 18) can write its
    headline detail file, and an 8-core bench of round 19 still finds
    the 8-core run to compare against."""
    repo = str(tmp_path)
    os.makedirs(os.path.join(repo, "docs"))
    for path in glob.glob(os.path.join(_REPO, "docs", "BENCH_local_r*.json")):
        shutil.copy(path, os.path.join(repo, "docs"))
    _write_detail(
        _detail_slot(18, DEFAULT_CPUS),
        {"cpus": DEFAULT_CPUS, "queries": {"a": 1.0}},
        repo=repo,
    )
    with open(os.path.join(repo, _detail_slot(18, 8))) as fh:
        held = json.load(fh)
    assert held["cpus"] == 8
    got = _vs_prev_detail(19, 8, held["queries"], repo=repo)
    assert (got["prev_round"], got["geomean_speedup"]) == (18, 1.0)
