"""Per-key A/B probe harness (optimization rounds): time a handful of
bench keys with EXACTLY the bench methodology — fresh get_spark
session, noop sink, best-of-N — and print one JSON line. Used for
single-change isolation between full-bench pairs.

Run: python scripts/probe_keys.py key [key ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, PROBE_PASSES (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    passes = int(os.environ.get("PROBE_PASSES", "3"))

    from tradesignal_mtm_runner_spark.cache_registry import release_caches
    from tradesignal_mtm_runner_spark.queries import ALL_QUERIES as registry
    from tradesignal_mtm_runner_spark.session import get_spark

    spark = get_spark(app_name="probe_keys", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    # optional conf overrides for A/B probes: PROBE_CONF="k=v,k=v"
    for kv in filter(None, os.environ.get("PROBE_CONF", "").split(",")):
        k, _, v = kv.partition("=")
        spark.conf.set(k.strip(), v.strip())
    spark.range(1000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {}
    for _ in range(passes):
        for name in names:
            fn = registry[name]
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
        release_caches()
        spark.catalog.clearCache()
    print(json.dumps({"cpus": int(cpus), "sf_dir": sf_dir, **timings}))
    spark.stop()


if __name__ == "__main__":
    main()
