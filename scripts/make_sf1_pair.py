"""Assemble the same-session sf0.1/sf1 anchor pair artifact
docs/BENCH_sf1_r{ROUND}.json from two bench detail files produced
back-to-back in one session window.

Run: python scripts/make_sf1_pair.py ROUND [note]

after, in the same window:
  SPARK_GRAFT_SF_DIR=<sf0.1 dir> python bench.py  -> docs/BENCH_local_r{ROUND}.json
  SPARK_GRAFT_SF_DIR=<sf1 dir>   python bench.py  -> docs/BENCH_local_r{ROUND}_sf1.json
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    if len(sys.argv) < 2 or not sys.argv[1].isdigit():
        sys.exit(__doc__)
    rnd = int(sys.argv[1])
    note = sys.argv[2] if len(sys.argv) > 2 else ""
    a = json.load(open(os.path.join(REPO, f"docs/BENCH_local_r{rnd}.json")))
    b = json.load(open(os.path.join(REPO, f"docs/BENCH_local_r{rnd}_sf1.json")))
    qa, qb = a["queries"], b["queries"]
    ratio = {
        k: round(qb[k] / qa[k], 2)
        for k in sorted(qb)
        if k in qa and qa[k] and qb[k]
    }
    med = round(
        statistics.median(
            v for k, v in ratio.items() if k != "bookkeeper_500k_bars"
        ),
        2,
    )
    out = {
        "round": rnd,
        "note": note,
        "median_ratio_10x": med,
        "ratio_10x": ratio,
        "sf0_1": a,
        "sf1": b,
    }
    dest = os.path.join(REPO, f"docs/BENCH_sf1_r{rnd}.json")
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {dest}; median 10x ratio = {med} over {len(ratio)} keys")


if __name__ == "__main__":
    main()
