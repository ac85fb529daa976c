"""Benchmark of the MTM engine: one workload per process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see workloads.py):
sweep_grid, hyperopt_calls, stream_replay, graph_fixpoint.
BENCHMARK.json lists the three measured on every change; every run
pays about 20 s of JVM launch and warm-up, so hyperopt_calls, the only
one of the four that exercises the ``runner`` layer, runs on demand.
A run

1. sets up once, cold, and times it as ``setup_s``: launch the JVM and
   start a Spark session (``session.get_spark`` at ``local[nproc]``),
   generate the seeded inputs and warm up by running the workload's
   own path once on tiny inputs;
2. runs the workload's operation in a closed loop for ``--seconds``
   (and at least the workload's minimum number of operations),
   sampling the process tree's memory;
3. checks every operation's output against a reference;
4. prints a ``perfbench info`` line (run arguments, host, engine
   versions, the Spark-free ``bookkeeper.simulate_s`` host anchor and
   the workload's named metrics) and, last, the result JSON.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns the
uncompressed event log on, tags every call with a job group and
reports the per-layer metrics next to its own end-to-end figures
(``traced.*``); their gap to an untraced run of the same seed is the
tracing overhead. The names and units of both sets come from
BENCHMARK.json.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root and is removed at exit. Results taken at different
core counts are not comparable; compare.py refuses to compare them.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tradesignal_mtm_runner_spark"


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure(work: str, traced: bool) -> None:
    """Environment for the JVM and the Python workers, set before
    pyspark launches the JVM: core count, a heap sized to the host,
    the package on the workers' import path, and every scratch path
    inside the work directory."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host_cpus()))
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{min(1024, host_memory_mb() // 4)}m")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM (the launcher too): temp files in the work directory,
    # and no hsperfdata file, which HotSpot always writes to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_jvm() -> None:
    """Stop the JVM pyspark launched and wait until it and the Python
    workers it forked have exited."""
    import instrument
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = instrument.descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{pid}") for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError(f"perfbench: processes still running: {started}")
        time.sleep(0.05)


def run(args, work: str) -> tuple[dict, list, dict, dict]:
    import instrument
    import workloads as wls
    from tradesignal_mtm_runner_spark.session import get_spark

    wl = wls.WORKLOADS[args.workload](args.seed, work, bool(args.trace))
    # the Spark-free host anchor runs first, while nothing else of ours
    # holds a core
    anchor = wls.simulate_anchor()
    phases = {}
    # set-up, timed once and cold: launch the JVM and start the session,
    # generate the inputs, then warm up: run the workload's own path
    # once on tiny inputs so its one-off costs (the first jobs' JIT and
    # class loading, Python workers importing the engine, plan caches)
    # land here and not in the timed loop
    t_run = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    wl.generate()
    t2 = time.perf_counter()
    wl.warm_up(spark)
    t3 = time.perf_counter()
    setup = {"start": t1 - t_run, "gen": t2 - t1, "warm": t3 - t2}
    phases["setup"] = t3 - t_run
    with instrument.RssSampler() as rss:
        ops = wl.measure(spark, args.seconds)
    phases["measure"] = time.perf_counter() - t_run - sum(phases.values())
    wl.check(spark, ops)
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes the event log
    phases["check"] = time.perf_counter() - t_run - sum(phases.values())

    e2e = {
        "setup_s": phases["setup"],
        "op_p50_ms": wl.op_latency_ms(ops),
        "work_per_s": wl.work_per_s(ops),
        "peak_rss_mb": rss.peak_mb,
    }
    layers = {}
    if args.trace:
        groups = instrument.read_event_log(os.path.join(work, "eventlog"), app_id)
        layers = {f"traced.{k}": v for k, v in e2e.items()}
        layers.update({
            "session.start_s": setup["start"],
            "session.warmup_s": setup["warm"],
            "bench.input_gen_s": setup["gen"],
            "bookkeeper.simulate_s": anchor,
        })
        layers.update(wl.layer_metrics(ops, groups))
    named = {k: {"value": v, "unit": u} for k, (v, u) in wl.named_metrics(ops).items()}
    named["setup_s"] = {"value": e2e["setup_s"], "unit": "s"}
    named["peak_rss_mb"] = {"value": e2e["peak_rss_mb"], "unit": "MB"}
    failed = sum(not o.ok for o in ops)
    named["ops_failed_ratio"] = {"value": failed / len(ops), "unit": "failed/attempted"}
    phases["report"] = time.perf_counter() - t_run - sum(phases.values())
    phases["setup_parts"] = setup
    phases["op_walls"] = [o.wall_s for o in ops]
    info = {"anchor": anchor, "named": named, "phases_s": phases,
            "errors": sorted({o.info["error"] for o in ops if "error" in o.info})}
    return e2e, ops, layers, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    configure(work, bool(args.trace))
    try:
        e2e, ops, layers, info = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass

    import numpy
    import pandas
    import pyarrow
    import pyspark

    failed = sum(not o.ok for o in ops)
    print("perfbench info " + json.dumps({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host": {
            "nproc": host_cpus(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "driver_memory": os.environ["SPARK_DRIVER_MEM"],
            "memory_mb": host_memory_mb(),
            "python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__, "numpy": numpy.__version__,
        },
        "bookkeeper.simulate_s": info["anchor"],
        "metrics": info["named"],
        "phases_s": info["phases_s"],
        "errors": info["errors"],
    }))
    values = layers if args.trace else e2e
    units = metric_units("per_layer" if args.trace else "end_to_end")
    undeclared = sorted(values.keys() - units.keys())
    if undeclared:
        print(f"perfbench: metrics missing from BENCHMARK.json: {undeclared}", file=sys.stderr)
        return 1
    # every traced run reports every per-layer metric; a layer the
    # workload does not run reads 0
    values = {k: values.get(k, 0.0) for k in units}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
