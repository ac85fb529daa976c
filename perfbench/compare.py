"""Compare two sets of benchmark runs, per workload and metric.

    python3 perfbench/compare.py BASE.log [BASE2.log ...] -- NEW.log [NEW2.log ...]

Each log holds the standard output of one or more runs of run.py (a
``perfbench info`` line followed by the result line). Prints, for every
workload and metric both sides report, the median of each side and
the ratio new/base. Refuses (exit 2) when the two sides were measured
at different core counts or with different Spark versions: such
figures are not comparable.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def load(paths: list[str]) -> tuple[dict, set]:
    """{(workload, trace): {metric: [values]}} and the set of hosts."""
    values: dict = defaultdict(lambda: defaultdict(list))
    hosts = set()
    for path in paths:
        info = None
        with open(path) as f:
            for line in f:
                if line.startswith("perfbench info "):
                    info = json.loads(line[len("perfbench info "):])
                elif line.startswith("{") and info is not None:
                    result = json.loads(line)
                    h = info["host"]
                    hosts.add((h["nproc"], h["SPARK_GRAFT_CPUS"], h["spark"]))
                    key = (info["workload"], info["trace"])
                    for name, m in result["metrics"].items():
                        values[key][name].append(m["value"])
                    info = None
    return values, hosts


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, base_hosts = load(argv[:cut])
    new, new_hosts = load(argv[cut + 1:])
    if len(base_hosts | new_hosts) != 1:
        print("perfbench compare: refusing to compare runs taken on different "
              f"hosts (nproc, SPARK_GRAFT_CPUS, spark): {sorted(base_hosts | new_hosts)}",
              file=sys.stderr)
        return 2
    for key in sorted(base.keys() & new.keys()):
        for name in sorted(base[key].keys() & new[key].keys()):
            b = statistics.median(base[key][name])
            n = statistics.median(new[key][name])
            ratio = n / b if b else float("nan")
            print(f"{key[0]:16s} trace={key[1]} {name:34s} "
                  f"base={b:.6g} new={n:.6g} new/base={ratio:.4f} "
                  f"(runs {len(base[key][name])}/{len(new[key][name])})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
