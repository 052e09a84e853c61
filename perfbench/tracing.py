"""Traced-run instruments: spans recorded around the benchmark's own calls
into each layer, and ``engine`` counters read from Spark's public status
APIs. Nothing here reaches into the engine's modules.

A span is ``{id, run, layer, name, parent, start, end, attrs}``; spans
stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = self._next
        self._next += 1
        rec = {
            "id": sid,
            "run": self.run_id,
            "layer": layer,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "attrs": attrs,
        }
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


def query_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of the DataFrame's own QueryExecution:
    ``analysis``, ``optimization`` and ``planning``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class EngineCounters:
    """Cumulative Spark counters: codegen (``CodegenMetrics`` compile-time
    histogram count, ``CodeGenerator.compileTime``) and, from the status
    store, jobs and per-stage task metrics."""

    _STAGE_FIELDS = {
        "run_ms": "executorRunTime",
        "gc_ms": "jvmGcTime",
        "shuffle_read": "shuffleReadBytes",
        "shuffle_write": "shuffleWriteBytes",
        "tasks": "numCompleteTasks",
        "failed_tasks": "numFailedTasks",
    }

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        metrics = getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$")
        self._compiles = getattr(metrics, "MODULE$").METRIC_COMPILATION_TIME()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._jsc = sc._jsc.sc()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.cores = sc.defaultParallelism
        # a finished stage never changes again: read it once
        self._stages: dict[str, dict] = {}

    def _stage(self, s) -> dict:
        out = {k: getattr(s, f)() for k, f in self._STAGE_FIELDS.items()}
        out["spill"] = s.memoryBytesSpilled() + s.diskBytesSpilled()
        status = str(s.status())
        out["ran"] = status != "SKIPPED"
        out["done"] = status in ("COMPLETE", "SKIPPED", "FAILED")
        return out

    def snapshot(self) -> dict:
        # status-store updates arrive through the listener bus; let the
        # events of the work just finished land before reading
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        seen = []
        it = store.stageList(None, False, False, self._no_quantiles, None).iterator()
        while it.hasNext():
            s = it.next()
            key = f"{s.stageId()}.{s.attemptId()}"
            if key not in self._stages or not self._stages[key]["done"]:
                self._stages[key] = self._stage(s)
            seen.append(key)
        jobs = set()
        it = store.jobsList(None).iterator()
        while it.hasNext():
            jobs.add(it.next().jobId())
        return {
            "codegen_compiles": self._compiles.getCount(),
            "codegen_ns": self._codegen.compileTime(),
            "jobs": jobs,
            "stages": set(seen),
        }

    def delta(self, a: dict, b: dict, wall_s: float) -> dict:
        new = [self._stages[k] for k in b["stages"] - a["stages"]]
        total = {k: sum(s[k] for s in new) for k in (*self._STAGE_FIELDS, "spill")}
        task_s = total["run_ms"] / 1000.0
        return {
            "codegen_compiles": b["codegen_compiles"] - a["codegen_compiles"],
            "codegen_ms": (b["codegen_ns"] - a["codegen_ns"]) / 1e6,
            "jobs": len(b["jobs"] - a["jobs"]),
            "stages": sum(s["ran"] for s in new),
            "tasks": total["tasks"],
            "failed_tasks": total["failed_tasks"],
            "task_s": task_s,
            "gc_s": total["gc_ms"] / 1000.0,
            "shuffle_read_mb": total["shuffle_read"] / 1e6,
            "shuffle_write_mb": total["shuffle_write"] / 1e6,
            "spill_mb": total["spill"] / 1e6,
            "core_busy": task_s / (wall_s * self.cores) if wall_s > 0 else 0.0,
        }
