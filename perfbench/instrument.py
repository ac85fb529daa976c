"""Instrumentation read from outside the engine: process memory from
``/proc``, job counts from Spark's ``statusTracker``, and per-task
metrics from the uncompressed event log.

The benchmark tags every public call it makes with a job group
(``SparkContext.setJobGroup``); streaming queries tag their own jobs
with the query's run id. Everything here groups by that tag, so the
engine itself carries no benchmark code.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from collections import defaultdict
from dataclasses import dataclass, field


def _children() -> dict[int, list[int]]:
    """parent pid -> child pids, from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                text = f.read()
        except OSError:  # the process ended between glob and open
            continue
        # the command name is parenthesised and may contain spaces
        fields = text[text.rindex(")") + 2 :].split()
        children[int(fields[1])].append(int(stat.split("/")[2]))
    return children


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid`` (the driver JVM this
    process launched and the Python workers the JVM forks)."""
    children = _children()
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size of one process: its resident pages, each
    shared page split among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended
        pass
    return 0


def _tree_pss_kb(root_pid: int) -> int:
    """Memory of ``root_pid`` and all its descendants, as the sum of
    their proportional set sizes. Summed resident sizes would count the
    JVM twice whenever it forks a short-lived child, since the child
    shares all of the JVM's pages until it execs."""
    return _pss_kb(root_pid) + sum(_pss_kb(p) for p in descendants(root_pid))


class RssSampler:
    """Samples the process tree's memory (summed PSS) on a thread and
    keeps the peak. Use as a context manager around the measured region."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_kb = 0

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(pid))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def job_count(spark, group: str) -> int:
    """Jobs Spark ran under one job group, from the live status store."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@dataclass
class GroupStats:
    """Everything the event log says about one job group."""

    jobs: int = 0
    job_spans: list[tuple[int, int]] = field(default_factory=list)
    stages: dict[int, dict] = field(default_factory=dict)

    def in_job_ms(self) -> float:
        """Wall time covered by at least one running job."""
        total, end = 0, None
        for s, e in sorted(self.job_spans):
            if end is None or s > end:
                total += e - s
                end = e
            elif e > end:
                total += e - end
                end = e
        return float(total)

    def total(self, key: str, stages=None) -> float:
        return float(sum(st[key] for sid, st in self.stages.items()
                         if stages is None or sid in stages))

    def python_stages(self) -> list[int]:
        return sorted(sid for sid, st in self.stages.items() if st["py_run_ms"] > 0)


_ACCUMS = {
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_b",
    "scan time": "scan_ms",
}


def _new_stage() -> dict:
    return {
        "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
        "shuffle_write_b": 0, "shuffle_write_rows": 0,
        "py_run_ms": 0, "py_sent_b": 0, "scan_ms": 0,
        "submitted": None, "completed": None,
    }


def read_event_log(log_dir: str, app_id: str) -> dict[str, GroupStats]:
    """Parse the app's uncompressed event log into per-job-group stats.

    Stages and tasks are attributed to the group of the job that ran
    them; a stage Spark skipped (its shuffle output was reused) has no
    task events and so counts nowhere."""
    files = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    job_group[ev["Job ID"]] = g
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    groups[g].jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(ev["Job ID"])
                    if g is not None:
                        groups[g].job_spans.append(
                            (job_start[ev["Job ID"]], ev["Completion Time"]))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"])
                    if g is not None and info["Stage ID"] in groups[g].stages:
                        st = groups[g].stages[info["Stage ID"]]
                        st["submitted"] = info.get("Submission Time")
                        st["completed"] = info.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    st = groups[g].stages.setdefault(ev["Stage ID"], _new_stage())
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    st["shuffle_write_rows"] += sw.get("Shuffle Records Written", 0)
                    for acc in ev["Task Info"].get("Accumulables", ()):
                        key = _ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            st[key] += int(acc.get("Update") or 0)
    return groups


def merge(stats: list[GroupStats]) -> GroupStats:
    """One GroupStats over several groups (e.g. every call of a run)."""
    out = GroupStats()
    for s in stats:
        out.jobs += s.jobs
        out.job_spans.extend(s.job_spans)
        out.stages.update(s.stages)
    return out


def stage_wall_ms(st: dict) -> float:
    if st["submitted"] is None or st["completed"] is None:
        return 0.0
    return float(st["completed"] - st["submitted"])
