"""The four benchmark workloads.

Each workload generates its inputs from the run's seed, drives the
engine only through its public functions, times one operation at a
time in a closed loop (the next operation starts when the previous one
returned), and checks every output against a reference after the timed
loop. A workload reports:

- ``ops``: one record per timed operation (wall time, units of work,
  pass/fail);
- ``named_metrics``: the user-facing figures under their own names;
- ``layer_metrics``: the per-layer figures, from the event log, the
  status tracker and ``StreamingQueryProgress`` (traced runs only).
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import reference as ref
import instrument as tr

EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
SIGNAL_SCHEMA = "symbol string, timestamp timestamp, event_id long, close double, buy int, sell int"


@dataclass
class Op:
    """One timed operation: a sweep, a calculate() call, a micro-batch
    or a fixpoint kernel pair."""

    group: str
    wall_s: float
    work: float
    ok: bool = True
    info: dict = field(default_factory=dict)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def make_bars(rng: np.random.Generator, n_symbols: int, n_bars: int,
              density: float = 0.01, first_bar: int = 0,
              start_close: np.ndarray | None = None) -> pd.DataFrame:
    """One-minute bars for ``n_symbols`` symbols: a geometric random
    walk close and buy/sell signals that each fire on density/2 of the
    bars (never both on one bar). Rows are in (timestamp, symbol)
    order; ``event_id`` is unique across the whole generated history."""
    if start_close is None:
        start_close = rng.uniform(20.0, 200.0, n_symbols)
    steps = rng.normal(0.0, 1e-3, (n_bars, n_symbols))
    close = start_close * np.exp(np.cumsum(steps, axis=0))
    u = rng.random((n_bars, n_symbols))
    minutes = np.arange(first_bar, first_bar + n_bars)
    return pd.DataFrame({
        "symbol": np.tile([f"S{k:04d}" for k in range(n_symbols)], n_bars),
        "timestamp": np.repeat(EPOCH + minutes.astype("timedelta64[m]"), n_symbols),
        "event_id": (minutes[:, None] * n_symbols + np.arange(n_symbols)).ravel().astype(np.int64),
        "close": close.ravel(),
        "buy": (u < density / 2).ravel().astype(np.int32),
        "sell": ((u >= density / 2) & (u < density)).ravel().astype(np.int32),
    })


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Parquet with UTC-adjusted microsecond timestamps, which Spark
    reads as its plain TIMESTAMP type."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type):
            table = table.set_column(i, pa.field(f.name, pa.timestamp("us", tz="UTC")),
                                     table.column(i).cast(pa.timestamp("us", tz="UTC")))
    pq.write_table(table, path)


def sweep_configs() -> dict:
    """The 32-cell research grid: 4 ROI tiers x 4 stoplosses x 2 fees,
    shorts on, up to 3 positions per symbol."""
    from tradesignal_mtm_runner_spark.config import PnlCalcConfig

    rois = [{0: 0.004}, {0: 0.008}, {0: 0.016, 60: 0.008}, {0: 0.03, 120: 0.012}]
    stops = [-0.004, -0.008, -0.016, -0.03]
    fees = [0.0, 0.001]
    return {
        f"roi{r}_sl{s}_fee{f}": PnlCalcConfig(
            roi=roi, stoploss=sl, fee_rate=fee,
            enable_short_position=True, max_position_per_symbol=3,
        )
        for r, roi in enumerate(rois)
        for s, sl in enumerate(stops)
        for f, fee in enumerate(fees)
    }


def simulate_anchor(repeats: int = 3) -> float:
    """``bookkeeper.simulate_s``: Spark-free simulate_symbol over a
    FIXED sample of sweep cells (its own seed, not the run's), the
    compute floor under the sweep and the host anchor every run
    reports. Median of ``repeats`` passes."""
    bars = make_bars(np.random.default_rng(20240101), 2, 2048)
    configs = list(sweep_configs().values())[::4]
    groups = [g for _, g in bars.groupby("symbol")]
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for g in groups:
            for cfg in configs:
                ref.simulate(g, cfg)
        times.append(time.perf_counter() - t0)
    return median(times)


class Workload:
    """Shared closed loop. Subclasses set ``name`` and implement
    ``generate``, ``warm_up``, ``op``, ``check``, ``named_metrics``
    (name -> (value, unit)) and ``layer_metrics`` (name -> value)."""

    name = ""
    min_ops = 3

    def __init__(self, seed: int, work_dir: str, traced: bool) -> None:
        self.seed = seed
        self.work_dir = work_dir
        self.traced = traced

    def generate(self) -> None:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def op(self, spark, i: int) -> Op:
        raise NotImplementedError

    def check(self, spark, ops: list[Op]) -> None:
        """Set ``ok`` on every op; must not raise for a wrong answer."""
        raise NotImplementedError

    def measure(self, spark, seconds: float) -> list[Op]:
        ops: list[Op] = []
        t_end = time.perf_counter() + seconds
        while len(ops) < self.min_ops or time.perf_counter() < t_end:
            i = len(ops)
            try:
                ops.append(self.op(spark, i))
            except Exception as err:  # a failed op is counted, not fatal
                ops.append(Op(f"{self.name}:{i}", 0.0, 0.0, ok=False,
                              info={"error": repr(err)}))
        return ops

    def op_latency_ms(self, ops: list[Op]) -> float:
        return 1000.0 * median(o.wall_s for o in ops if o.ok)

    def work_per_s(self, ops: list[Op]) -> float:
        good = [o for o in ops if o.ok]
        return sum(o.work for o in good) / max(sum(o.wall_s for o in good), 1e-9)

    def _timed(self, spark, group: str, fn):
        """Run ``fn`` under a job group; return (result, wall seconds)."""
        spark.sparkContext.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


class SweepGrid(Workload):
    """Research sweep: run_mtm_param_sweep_blocked(block_size=8) +
    summarize_timeline over the seeded universe, read through sources."""

    name = "sweep_grid"
    n_symbols, n_bars, block_size = 64, 512, 8
    check_cells = 12

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.bars = make_bars(rng, self.n_symbols, self.n_bars)
        self.configs = sweep_configs()
        self.dir = os.path.join(self.work_dir, "sweep")
        os.makedirs(self.dir, exist_ok=True)
        write_parquet(self.bars, os.path.join(self.dir, "signals.parquet"))
        # every symbol, few bars: the warm-up sweep then gives every
        # shuffle partition rows, so each task's Python worker has
        # started and imported the engine before the first timed sweep
        small = make_bars(rng, self.n_symbols, 16)
        self.warm_dir = os.path.join(self.work_dir, "sweep_warm")
        os.makedirs(self.warm_dir, exist_ok=True)
        write_parquet(small, os.path.join(self.warm_dir, "signals.parquet"))

    def _sweep(self, spark, path: str) -> list:
        from tradesignal_mtm_runner_spark import sources
        from tradesignal_mtm_runner_spark.operators.bookkeeper import (
            run_mtm_param_sweep_blocked,
            summarize_timeline,
        )

        signals = sources.load_table(spark, path, "signals")
        timeline = run_mtm_param_sweep_blocked(signals, self.configs, self.block_size)
        # the summary is 1 row per cell, so collecting it costs next to
        # nothing and lets every timed sweep's output be checked
        return summarize_timeline(timeline, ["symbol", "config_id"]).collect()

    def warm_up(self, spark) -> None:
        self._sweep(spark, self.warm_dir)

    def op(self, spark, i: int) -> Op:
        group = f"{self.name}:sweep:{i}"
        rows, wall = self._timed(spark, group, lambda: self._sweep(spark, self.dir))
        cells = len(self.bars) * len(self.configs)
        return Op(group, wall, float(cells), info={"rows": rows})

    def check(self, spark, ops: list[Op]) -> None:
        rng = np.random.default_rng(self.seed + 1)
        symbols = sorted(self.bars["symbol"].unique())
        ids = sorted(self.configs)
        cells = [(symbols[rng.integers(len(symbols))], ids[rng.integers(len(ids))])
                 for _ in range(self.check_cells)]
        expect = {}
        for sym, cid in cells:
            g = self.bars[self.bars["symbol"] == sym].sort_values(["timestamp", "event_id"])
            mtm, _ = ref.simulate(g, self.configs[cid])
            expect[(sym, cid)] = ref.timeline_summary(ref.ts_seconds(g["timestamp"]), mtm)
        for o in ops:
            if not o.ok:
                continue
            got = {(r["symbol"], r["config_id"]): r for r in o.info.pop("rows")}
            o.ok = len(got) == len(symbols) * len(ids) and all(
                (sym, cid) in got
                and abs(got[sym, cid]["pnl"] - e["pnl"]) <= 1e-9
                and abs(got[sym, cid]["max_drawdown"] - e["max_drawdown"]) <= 1e-9
                and np.isclose(got[sym, cid]["sharpe_ratio"], e["sharpe_ratio"],
                               rtol=1e-9, atol=1e-9)
                for (sym, cid), e in expect.items()
            )

    def named_metrics(self, ops: list[Op]) -> dict:
        return {"sweep_cell_bars_per_s": (self.work_per_s(ops), "cell-bars/s")}

    def layer_metrics(self, ops: list[Op], groups) -> dict:
        per_op = []
        for o in ops:
            g = groups.get(o.group)
            if g is None or not g.python_stages():
                continue
            py = g.python_stages()
            pre = [s for s in g.stages if s < py[0]]
            post = [s for s in g.stages if s > py[-1]]
            per_op.append({
                "summary_s": sum(tr.stage_wall_ms(g.stages[s]) for s in post) / 1e3,
                "python_run_s": g.total("py_run_ms") / 1e3,
                "python_sent_mb": g.total("py_sent_b") / 1e6,
                "shuffle_write_mb": g.total("shuffle_write_b") / 1e6,
                "rows_shuffled_per_bar": g.total("shuffle_write_rows", pre) / len(self.bars),
                "tasks": g.total("tasks"),
                "exec_cpu_s": g.total("cpu_ns") / 1e9,
                "gc_s": g.total("gc_ms") / 1e3,
                "outside_job_s": o.wall_s - g.in_job_ms() / 1e3,
                "scan_s": g.total("scan_ms") / 1e3,
            })
        out = {f"bookkeeper.{k}": median(p[k] for p in per_op)
               for k in per_op[0] if k != "scan_s"} if per_op else {}
        out["bookkeeper.sweep_s"] = median(o.wall_s for o in ops if o.ok)
        out["sources.scan_s"] = median(p["scan_s"] for p in per_op)
        return out


class HyperoptCalls(Workload):
    """Optimizer loop: sequential HyperOptPnlCalculatorAdapter(
    TradeMtmRunner(cfg)).calculate() calls on short one-symbol frames,
    cycling through a pool of frames and the sweep's config grid."""

    name = "hyperopt_calls"
    pool, n_bars = 8, 1000

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        bars = make_bars(rng, self.pool, self.n_bars)
        self.frames = [g.reset_index(drop=True) for _, g in bars.groupby("symbol")]
        self.configs = list(sweep_configs().values())

    def _inputs(self, i: int):
        bars = self.frames[i % self.pool]
        idx = pd.DatetimeIndex(bars["timestamp"])
        buy_df = pd.DataFrame({"close": bars["close"].to_numpy(),
                               "buy": bars["buy"].to_numpy()}, index=idx)
        sell_df = pd.DataFrame({"sell": bars["sell"].to_numpy()}, index=idx)
        return bars, buy_df, sell_df, self.configs[(7 * i) % len(self.configs)]

    def _calc(self, spark, i: int, n_bars: int | None = None):
        from tradesignal_mtm_runner_spark.runner import (
            HyperOptPnlCalculatorAdapter,
            TradeMtmRunner,
        )

        bars, buy_df, sell_df, cfg = self._inputs(i)
        calc = HyperOptPnlCalculatorAdapter(TradeMtmRunner(cfg, spark=spark))
        return calc.calculate(bars["symbol"].iloc[0], buy_df.iloc[:n_bars],
                              sell_df.iloc[:n_bars])

    def warm_up(self, spark) -> None:
        self._calc(spark, 0, n_bars=64)

    def op(self, spark, i: int) -> Op:
        group = f"{self.name}:calc:{i}"
        if not self.traced:
            result, wall = self._timed(spark, group, lambda: self._calc(spark, i))
            return Op(group, wall, 1.0, info={"i": i, "result": result})
        # time the runner's own pandas -> Spark conversion: shadow the
        # session's createDataFrame for the duration of the call
        create_df_s = []
        create_df = spark.createDataFrame

        def timed_create_df(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return create_df(*args, **kwargs)
            finally:
                create_df_s.append(time.perf_counter() - t0)

        spark.createDataFrame = timed_create_df
        try:
            result, wall = self._timed(spark, group, lambda: self._calc(spark, i))
        finally:
            del spark.createDataFrame
        return Op(group, wall, 1.0, info={"i": i, "result": result,
                                           "jobs": tr.job_count(spark, group),
                                           "create_df_s": sum(create_df_s)})

    def check(self, spark, ops: list[Op]) -> None:
        for o in ops:
            if not o.ok:
                continue
            bars, _, _, cfg = self._inputs(o.info["i"])
            e = ref.calc_expectation(bars, cfg)
            r = o.info.pop("result")
            o.ok = (
                abs(r.pnl - e["pnl"]) <= 1e-9
                and len(r.long_trades_archive) == e["long_archive"]
                and len(r.short_trades_archive) == e["short_archive"]
                and len(r.long_trades_outstanding) == e["long_outstanding"]
                and len(r.short_trades_outstanding) == e["short_outstanding"]
            )

    def named_metrics(self, ops: list[Op]) -> dict:
        # no calc_p90_ms: a tail needs >= 100 calls per run, a run makes
        # a handful
        return {"calc_p50_ms": (self.op_latency_ms(ops), "ms")}

    def layer_metrics(self, ops: list[Op], groups) -> dict:
        calls = [o for o in ops if o.group in groups]
        if not calls:
            return {}
        n = len(calls)
        stats = tr.merge([groups[o.group] for o in calls])
        return {
            "runner.jobs_per_call": sum(o.info["jobs"] for o in calls) / n,
            "runner.stages_per_call": len(stats.stages) / n,
            "runner.tasks_per_call": stats.total("tasks") / n,
            "runner.in_job_ms_per_call": median(groups[o.group].in_job_ms() for o in calls),
            "runner.outside_job_ms_per_call": median(
                1e3 * o.wall_s - groups[o.group].in_job_ms() for o in calls),
            "runner.create_df_ms": 1e3 * median(o.info["create_df_s"] for o in calls),
            "bookkeeper.runs_per_call": len(stats.python_stages()) / n,
        }


class StreamReplay(Workload):
    """Live path: seeded signal files replayed one file per micro-batch
    (file source, maxFilesPerTrigger=1, availableNow) through
    streaming_mtm_sweep_blocked with the 4-cell fee/tax grid, into a
    memory sink. A replay is repeated, each time from a fresh
    checkpoint, until the run's time is up; each micro-batch is one op."""

    name = "stream_replay"
    replays = 0  # replay counter, names each replay's sink and checkpoint
    n_symbols, bars_per_file, n_files = 16, 64, 10
    fee_tax = {"f0_t0": (0.0, 0.0), "f0_t1": (0.0, 0.0001),
               "f1_t0": (0.001, 0.0), "f1_t1": (0.001, 0.0001)}

    def _write_files(self, rng, directory: str, n_symbols: int, bars_per_file: int,
                     n_files: int) -> pd.DataFrame:
        os.makedirs(directory, exist_ok=True)
        parts, last = [], None
        for k in range(n_files):
            part = make_bars(rng, n_symbols, bars_per_file, first_bar=k * bars_per_file,
                             start_close=last)
            last = part["close"].to_numpy()[-n_symbols:]
            path = os.path.join(directory, f"part-{k:04d}.parquet")
            write_parquet(part, path)
            # the file source orders files by modification time
            os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
            parts.append(part)
        return pd.concat(parts, ignore_index=True)

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.dir = os.path.join(self.work_dir, "stream", "in")
        self.bars = self._write_files(rng, self.dir, self.n_symbols,
                                      self.bars_per_file, self.n_files)
        # warm-up files as large as the measured ones: after a cold
        # start, batches keep speeding up for about a dozen batches, and
        # full-size batches warm the JIT and the Python workers faster
        # than tiny ones
        self.warm_dir = os.path.join(self.work_dir, "stream", "warm")
        self._write_files(rng, self.warm_dir, self.n_symbols, self.bars_per_file, 4)

    def _replay(self, spark, directory: str):
        from tradesignal_mtm_runner_spark.streaming.mtm_stream import (
            streaming_mtm_sweep_blocked,
        )

        self.replays += 1
        name = f"perfbench_stream_{self.replays}"
        t0 = time.perf_counter()
        src = (spark.readStream.schema(SIGNAL_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(directory))
        query = (
            streaming_mtm_sweep_blocked(src, self.fee_tax).writeStream
            .format("memory").queryName(name).outputMode("append")
            .option("checkpointLocation",
                    os.path.join(self.work_dir, "stream", "ckpt", name))
            .trigger(availableNow=True).start()
        )
        query.awaitTermination()
        wall = time.perf_counter() - t0
        return name, query, wall

    def warm_up(self, spark) -> None:
        name, _, _ = self._replay(spark, self.warm_dir)
        spark.catalog.dropTempView(name)

    def measure(self, spark, seconds: float) -> list[Op]:
        ops: list[Op] = []
        t_end = time.perf_counter() + seconds
        while len(ops) < self.min_ops or time.perf_counter() < t_end:
            try:
                name, query, wall = self._replay(spark, self.dir)
                batches = [p for p in query.recentProgress if p.numInputRows > 0]
                final = (spark.table(name).toPandas()
                         .sort_values(["timestamp", "event_id"])
                         .groupby(["symbol", "config_id"])["pnl_ratio"].last())
                spark.catalog.dropTempView(name)
            except Exception as err:  # a failed replay fails all its batches
                ops += [Op(f"{self.name}:replay", 0.0, 0.0, ok=False,
                           info={"error": repr(err)})] * self.n_files
                continue
            # a replay's wall time is shared out over its batches by
            # their own trigger durations, so bars/s covers query start
            total_ms = sum(p.durationMs["triggerExecution"] for p in batches)
            for p in batches:
                ops.append(Op(
                    str(query.runId), wall * p.durationMs["triggerExecution"] / total_ms,
                    float(p.numInputRows),
                    ok=len(batches) == self.n_files,
                    info={"progress": p, "final": final},
                ))
        return ops

    def op_latency_ms(self, ops: list[Op]) -> float:
        return median(o.info["progress"].durationMs["triggerExecution"]
                      for o in ops if o.ok)

    def check(self, spark, ops: list[Op]) -> None:
        expect = {(sym, cid): v
                  for cid, (fee, tax) in self.fee_tax.items()
                  for sym, v in ref.stream_final_pnl(self.bars, fee, tax).items()}
        for o in ops:
            if not o.ok:
                continue
            final = o.info.pop("final")
            o.ok = len(final) == len(expect) and all(
                abs(final.get(k, np.nan) - v) <= 1e-9 for k, v in expect.items())

    def named_metrics(self, ops: list[Op]) -> dict:
        return {
            "stream_bars_per_s": (self.work_per_s(ops), "bars/s"),
            "stream_batch_p50_ms": (self.op_latency_ms(ops), "ms"),
        }

    def layer_metrics(self, ops: list[Op], groups) -> dict:
        prog = [o.info["progress"] for o in ops if o.ok]
        if not prog:
            return {}
        d = lambda key: median(p.durationMs.get(key, 0) for p in prog)  # noqa: E731
        state = [p.stateOperators[0] for p in prog if p.stateOperators]
        runs = {o.group for o in ops if o.ok}
        py_ms = sum(groups[r].total("py_run_ms") for r in runs if r in groups)
        scan_ms = sum(groups[r].total("scan_ms") for r in runs if r in groups)
        return {
            "stream.add_batch_ms": d("addBatch"),
            "stream.query_planning_ms": d("queryPlanning"),
            "stream.get_batch_ms": d("getBatch"),
            "stream.latest_offset_ms": d("latestOffset"),
            "stream.wal_commit_ms": d("walCommit"),
            "stream.commit_offsets_ms": d("commitOffsets"),
            "stream.state_rows": float(state[-1].numRowsTotal) if state else 0.0,
            "stream.state_mb": state[-1].memoryUsedBytes / 1e6 if state else 0.0,
            "stream.state_commit_ms": median(s.commitTimeMs for s in state),
            "stream.python_run_ms": py_ms / len(prog),
            "stream.work_share": median(
                p.durationMs.get("addBatch", 0) / p.durationMs["triggerExecution"]
                for p in prog),
            "sources.scan_s": scan_ms / 1e3 / len(prog),
        }


class GraphFixpoint(Workload):
    """Iterative layer: component_labels_converged and
    pagerank_scores_converged over a seeded random graph whose planted
    path sets the CC round count independently of the edge count. One
    op is one run of each kernel."""

    name = "graph_fixpoint"
    n_nodes, extra_edges, path_len = 2000, 2000, 3
    damp, tol = 0.3, 5e-2
    min_ops = 1  # one op is ~70 Spark jobs

    def _make_graph(self, rng, n_nodes: int, extra: int, path_len: int) -> pd.DataFrame:
        # a star around node 0 plus random chords keeps the cloud one hop
        # from its minimum node; the planted path hangs off the cloud's
        # last node with ids above the cloud's, so min-label propagation
        # needs exactly path_len + 2 rounds whatever the seed
        a = [np.zeros(n_nodes - 1, dtype=np.int64), rng.integers(0, n_nodes, extra)]
        b = [np.arange(1, n_nodes), rng.integers(0, n_nodes, extra)]
        chain = np.arange(n_nodes - 1, n_nodes + path_len)
        a.append(chain[:-1])
        b.append(chain[1:])
        a, b = np.concatenate(a), np.concatenate(b)
        keep = a != b
        lo, hi = np.minimum(a[keep], b[keep]), np.maximum(a[keep], b[keep])
        edges = pd.DataFrame({"part_a": lo, "part_b": hi}).drop_duplicates()
        edges["pair_cnt"] = rng.integers(1, 6, len(edges)).astype(np.int64)
        return edges.reset_index(drop=True)

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.edges = self._make_graph(rng, self.n_nodes, self.extra_edges, self.path_len)
        self.dir = os.path.join(self.work_dir, "graph")
        os.makedirs(self.dir, exist_ok=True)
        write_parquet(self.edges, os.path.join(self.dir, "edges.parquet"))
        self.warm_dir = os.path.join(self.work_dir, "graph_warm")
        os.makedirs(self.warm_dir, exist_ok=True)
        write_parquet(self._make_graph(rng, 3, 0, 0),
                      os.path.join(self.warm_dir, "edges.parquet"))

    def _kernels(self, spark, path: str, tol: float, group: str | None = None):
        from tradesignal_mtm_runner_spark import sources
        from tradesignal_mtm_runner_spark.operators.graph import (
            component_labels_converged,
            node_degrees,
            pagerank_scores_converged,
        )

        edges = sources.load_table(spark, path, "edges")
        cc = lambda: component_labels_converged(edges).collect()  # noqa: E731
        pr = lambda: pagerank_scores_converged(  # noqa: E731
            edges, node_degrees(edges), self.damp, tol).collect()
        if group is None:
            return cc(), pr()
        return (self._timed(spark, f"{group}:cc", cc),
                self._timed(spark, f"{group}:pr", pr))

    def warm_up(self, spark) -> None:
        # a loose tolerance: warming up needs the code paths, not rounds
        self._kernels(spark, self.warm_dir, tol=0.5)

    def op(self, spark, i: int) -> Op:
        group = f"{self.name}:{i}"
        (labels, cc_s), (ranks, pr_s) = self._kernels(spark, self.dir, self.tol, group)
        info = {"labels": labels, "ranks": ranks, "cc_s": cc_s, "pr_s": pr_s}
        if self.traced:
            info["cc_jobs"] = tr.job_count(spark, f"{group}:cc")
            info["pr_jobs"] = tr.job_count(spark, f"{group}:pr")
        return Op(group, cc_s + pr_s, 0.0, info=info)

    def check(self, spark, ops: list[Op]) -> None:
        expect_cc = ref.component_labels(self.edges)
        expect_pr, pr_rounds = ref.pagerank(self.edges, self.damp, self.tol)
        # work = edges x rounds; min-label propagation takes path_len + 2
        # rounds on this graph (see _make_graph), PageRank as many as
        # the reference
        work = float(len(self.edges) * (self.path_len + 2 + pr_rounds))
        for o in ops:
            if not o.ok:
                continue
            o.work = work
            labels = {r["part"]: r["component"] for r in o.info.pop("labels")}
            ranks = {r["p_partkey"]: r["pagerank"] for r in o.info.pop("ranks")}
            o.ok = labels == expect_cc and ranks.keys() == expect_pr.keys() and all(
                abs(ranks[k] - v) <= 1e-7 for k, v in expect_pr.items())

    def named_metrics(self, ops: list[Op]) -> dict:
        good = [o for o in ops if o.ok]
        return {
            "cc_converge_s": (median(o.info["cc_s"] for o in good), "s"),
            "pagerank_converge_s": (median(o.info["pr_s"] for o in good), "s"),
        }

    def layer_metrics(self, ops: list[Op], groups) -> dict:
        good = [o for o in ops if o.ok and f"{o.group}:cc" in groups]
        if not good:
            return {}
        n = len(good)
        both = [(groups[f"{o.group}:cc"], groups[f"{o.group}:pr"]) for o in good]
        stats = tr.merge([g for pair in both for g in pair])
        return {
            "graph.cc_jobs": sum(o.info["cc_jobs"] for o in good) / n,
            "graph.pagerank_jobs": sum(o.info["pr_jobs"] for o in good) / n,
            "graph.cc_ms_per_job": median(1e3 * o.info["cc_s"] / o.info["cc_jobs"]
                                          for o in good),
            "graph.tasks": stats.total("tasks") / n,
            "graph.shuffle_write_mb": stats.total("shuffle_write_b") / 1e6 / n,
            "graph.exec_run_s": stats.total("run_ms") / 1e3 / n,
            "graph.outside_job_s": median(
                o.wall_s - (cc.in_job_ms() + pr.in_job_ms()) / 1e3
                for o, (cc, pr) in zip(good, both)),
            "sources.scan_s": stats.total("scan_ms") / 1e3 / n,
        }


WORKLOADS = {w.name: w for w in (SweepGrid, HyperoptCalls, StreamReplay, GraphFixpoint)}
