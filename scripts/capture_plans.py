"""Capture .explain("formatted") snapshots of registered queries, one
file per query: OUT_DIR/<query>_<tag>.txt.

Run: python scripts/capture_plans.py OUT_DIR before|after QUERY [QUERY ...]

Queries come from the full registry (ALL_QUERIES) and run
at $SPARK_GRAFT_SF_DIR (the same sf0.1 default as bench.py) on local[8].
Capture "before" at the parent commit and "after" at the change, into
a directory of your choosing, and diff the pairs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from tradesignal_mtm_runner_spark.cache_registry import release_caches
    from tradesignal_mtm_runner_spark.queries import ALL_QUERIES as registry
    from tradesignal_mtm_runner_spark.session import get_spark

    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark(app_name="capture_plans", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = registry[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        release_caches()
        print(f"captured {name}_{tag}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
