"""The measuring process of one benchmark run; run.py starts it and
reads the record it writes. It imports the engine, sets up Spark twice
(see ``SETUPS``), each time in a newly launched driver JVM, runs a cold
pass and then warm passes for the requested seconds in the last
session, and last checks every collected output against its DuckDB
reference.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# full set-ups per run, each in a newly launched JVM (JVM launch, first
# get_spark, warm-up, the workload's set-up build); setup_s reports their
# median. One costs 10-13 s on 4 cores, so more do not fit the run budget
SETUPS = 2
# stop starting passes after this many seconds since spawn, whatever
# --seconds says, so the run always ends inside its 180 s budget
PASS_DEADLINE_S = 120.0
STREAM_TIMEOUT_S = 60


def _now() -> float:
    return time.monotonic()


class Run:
    def __init__(self, args):
        self.args = args
        from tracing import Tracer
        from workloads import WORKLOADS

        self.w = WORKLOADS[args.workload]
        self.fx = args.fixture
        self.tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
        self.rng = random.Random(args.seed)
        self.ops: list[dict] = []
        self.outputs: list[tuple[str, dict | None, str | None]] = []
        self.passes: list[dict] = []
        self.cache_hits: list[float] = []

    # -- set-up --------------------------------------------------------------
    def import_engine(self) -> None:
        sys.path.insert(0, ROOT)
        with self.tracer.span("session", "import"):
            from quantitative_database_and_visualization_platform_spark import session
            from quantitative_database_and_visualization_platform_spark.factors.panel import bars_table
            from quantitative_database_and_visualization_platform_spark.plans import QUERIES
            from quantitative_database_and_visualization_platform_spark.plans.pipeline_queries import (
                _ivf_chain,
                _ngram_pairs,
                _shingles_table,
            )
            from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table
            from quantitative_database_and_visualization_platform_spark import streaming

        self.session, self.QUERIES, self.bars_table = session, QUERIES, bars_table
        self.load_table, self.streaming = load_table, streaming

        def shingles(spark, fx):
            # the three shingle leaves the dedup consumers read (bench.py's
            # _build:shingles)
            _shingles_table(spark, fx, k=3, distinct=True)
            _shingles_table(spark, fx, k=3, distinct=False)
            _shingles_table(spark, fx, k=5, distinct=True)

        self.builds = {"shingles": shingles, "ngram_pairs": _ngram_pairs, "ivf": _ivf_chain}

    def set_up(self) -> dict:
        """One full set-up: launch a driver JVM through the first
        ``get_spark``, run the warm-up query and the workload's set-up
        build. Returns the sample's parts in seconds."""
        from workloads import WARMUP_QUERY

        with self.tracer.span("session", "setup"):
            a = _now()
            with self.tracer.span("session", "get_spark"):
                self.spark = self.session.get_spark("perfbench")
            b = _now()
            with self.tracer.span("session", "warmup"):
                self.QUERIES[WARMUP_QUERY](self.spark, self.fx).write.format("noop").mode("overwrite").save()
                self.session.release_managed()
            c = _now()
            if self.w.setup_bars:
                with self.tracer.span("factors", "bars_table"):
                    self.bars_table(self.spark, self.fx)
            d = _now()
        return {"start_s": b - a, "warmup_s": c - b, "build_s": d - c, "total_s": d - a}

    # -- operations ----------------------------------------------------------
    def run_query(self, name: str, p: int) -> None:
        from tracing import query_phases

        rec = {"op": name, "pass": p}
        table = None
        with self.tracer.span("op", name, pass_=p):
            try:
                a = _now()
                with self.tracer.span("plans", name):
                    df = self.QUERIES[name](self.spark, self.fx)
                b = _now()
                with self.tracer.span("engine", name):
                    table = df.toArrow()
                c = _now()
                rec.update(construct_s=b - a, exec_s=c - b, latency_s=c - a)
                if self.tracer.enabled:
                    rec["phases"] = query_phases(df)
            except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
                rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
            finally:
                self.session.release_managed()
        self.ops.append(rec)
        self.outputs.append((name, None if table is None else {name: table}, rec.get("error")))

    def run_build(self, name: str) -> float:
        with self.tracer.span("pipeline", f"build:{name}"):
            a = _now()
            self.builds[name](self.spark, self.fx)
            return _now() - a

    def run_replay(self, p: int) -> dict | None:
        """One replay of the seeded file split through both streaming
        sinks, run concurrently; returns its streaming stats. Its outputs
        are checked with the rest; it is not one of the timed operations."""
        from pyspark.sql import functions as F

        spark, st = self.spark, self.streaming
        out_dir = os.path.join(self.args.work, f"replay_{p}")
        view = f"perfbench_bars_{p}"
        error = outputs = stream = None
        with self.tracer.span("op", "replay", k=p):
            try:
                a = _now()
                with self.tracer.span("streaming", "start"):
                    raw_schema = spark.read.parquet(self.args.replay_input).schema

                    def source():
                        # built as streaming.stream_events builds its
                        # stream, over the split files instead of the
                        # single events file
                        stream = (
                            spark.readStream.schema(raw_schema)
                            .format("parquet")
                            .option("maxFilesPerTrigger", "1")
                            .load(self.args.replay_input)
                        )
                        if dict(stream.dtypes).get("ts") == "bigint":
                            stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
                        return stream

                    rollup_q = st.start_rollup_sink(source(), os.path.join(out_dir, "store"))
                    bars_q = (
                        st.streaming_minute_bars(source())
                        .writeStream.format("memory")
                        .queryName(view)
                        .outputMode("append")
                        .trigger(availableNow=True)
                        .option("checkpointLocation", os.path.join(out_dir, "bars_ckpt"))
                        .start()
                    )
                with self.tracer.span("streaming", "await"):
                    for q in (rollup_q, bars_q):
                        if not q.awaitTermination(STREAM_TIMEOUT_S):
                            q.stop()
                            raise TimeoutError(f"stream {q.id} did not finish")
                        if q.exception() is not None:
                            raise RuntimeError(str(q.exception()))
                with self.tracer.span("streaming", "read_results"):
                    outputs = {
                        "stream:rollup": st.read_rollup(spark, os.path.join(out_dir, "store")).toArrow(),
                        "stream:bars": spark.sql(
                            f"SELECT user_id, CAST(bar_start AS TIMESTAMP_NTZ) AS bar_start, "
                            f"low, high, n_ticks, volume FROM {view}"
                        ).toArrow(),
                    }
                stream = _stream_stats(rollup_q, bars_q, _now() - a)
            except Exception as exc:  # noqa: BLE001 — a failing replay is counted, not fatal
                error = f"{type(exc).__name__}: {exc}"[:2000]
            finally:
                spark.catalog.dropTempView(view)
                shutil.rmtree(out_dir, ignore_errors=True)
        self.outputs.append(("replay", outputs, error))
        return stream

    # -- timed region --------------------------------------------------------
    def run_pass(self, cold: bool, engine) -> None:
        """Every operation of the workload once, in a new seeded order; a
        cold pass first runs the workload's timed shared builds."""
        p = len(self.passes)
        before = engine.snapshot() if engine else None
        info: dict = {"index": p, "cold": cold}
        with self.tracer.span("pass", f"pass{p}", cold=cold):
            a = _now()
            if cold and self.w.timed_builds:
                info["builds"] = {b: self.run_build(b) for b in self.w.timed_builds}
            order = list(self.w.queries)
            self.rng.shuffle(order)
            for name in order:
                self.run_query(name, p)
            info["wall_s"] = _now() - a
        if engine:
            info["engine"] = engine.delta(before, engine.snapshot(), info["wall_s"])
            if not cold and self.w.timed_builds:
                # a repeat call of each shared build: a session-cache hit
                for b in self.w.timed_builds:
                    self.cache_hits.append(self.run_build(b))
        self.passes.append(info)

    def measure(self, spawn: float) -> list[dict]:
        """``SETUPS`` full set-ups, each in a newly launched JVM; then, in
        the last session, a cold pass, the settling passes, and counted
        warm passes until ``--seconds`` have passed since the first of
        them began and the workload's minimum has run. Returns the set-up
        samples."""
        from tracing import EngineCounters

        samples = []
        for k in range(SETUPS):
            if k:
                _shutdown_jvm(self.spark)
            samples.append(self.set_up())
        engine = EngineCounters(self.spark) if self.tracer.enabled else None
        self.run_pass(True, engine)
        for _ in range(self.w.settle_passes):
            self.run_pass(False, engine)
        t_begin = _now()
        counted = 0
        while _now() - spawn < PASS_DEADLINE_S and (
            counted < self.w.min_warm_passes or _now() - t_begin < self.args.seconds
        ):
            self.run_pass(False, engine)
            counted += 1
        return samples

    def scan_inputs(self) -> float:
        """sources layer: one full scan of every input table through
        ``catalog.load_table``."""
        total = 0.0
        for t in self.w.inputs:
            with self.tracer.span("sources", f"scan:{t}"):
                a = _now()
                self.load_table(self.spark, self.fx, t).write.format("noop").mode("overwrite").save()
                total += _now() - a
        return total


def _shutdown_jvm(spark) -> None:
    """Stop the session and its driver JVM, so the next ``get_spark``
    launches a new one. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _stream_stats(rollup_q, bars_q, wall_s: float) -> dict:
    batches = []
    input_rows = 0
    for q in (rollup_q, bars_q):
        for prog in q.recentProgress:
            d = prog["durationMs"]
            batches.append({k: d.get(k, 0) for k in ("triggerExecution", "addBatch", "walCommit", "queryPlanning")})
        input_rows = max(input_rows, sum(pr["numInputRows"] for pr in q.recentProgress))
    last = bars_q.recentProgress[-1] if bars_q.recentProgress else {}
    state_rows = sum(op.get("numRowsTotal", 0) for op in last.get("stateOperators", []))
    return {"batches": batches, "input_rows": input_rows, "state_rows": state_rows, "wall_s": wall_s}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawn", type=float, required=True, help="parent's time.monotonic() at spawn")
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--replay-input", default=None)
    ap.add_argument("--record", required=True)
    ap.add_argument("--trace-file", default=None)
    args = ap.parse_args()
    sys.path.insert(0, HERE)

    run = Run(args)
    run.import_engine()
    import_s = _now() - args.spawn
    setups = run.measure(args.spawn)
    record = {
        "import_s": import_s,
        "setups": setups,
        "setup_bars": run.w.setup_bars,
        "settle_passes": run.w.settle_passes,
        "ops": run.ops,
        "passes": run.passes,
    }
    if run.tracer.enabled:
        record["scan_s"] = run.scan_inputs()
        record["input_mb"] = sum(
            os.path.getsize(os.path.join(run.fx, f"{t}.parquet")) for t in run.w.inputs
        ) / 1e6
        record["cache_hits_s"] = run.cache_hits
        if run.w.replay:
            from workloads import TRACED_REPLAYS

            streams = [run.run_replay(k) for k in range(TRACED_REPLAYS)]
            record["streams"] = [st for st in streams if st is not None]
    run.spark.stop()

    # correctness: outside every timed interval
    from refs import Checker, load_index

    checker = Checker(load_index())
    for op, outputs, error in run.outputs:
        checker.record(op, outputs, error)
    record.update(attempted=checker.attempted, failed=checker.failed, problems=checker.problems)
    with open(args.record, "w") as fh:
        json.dump(record, fh)
    if args.trace_file:
        run.tracer.write(args.trace_file)


if __name__ == "__main__":
    main()
