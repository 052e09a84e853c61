"""Metric definitions and their computation from one run's record.

``END_TO_END`` and ``PER_LAYER`` list every metric the result line can
carry, with its unit; BENCHMARK.json names the same metrics. A run's
record (written by child.py) holds raw timings only; everything here is
a pure function of it, so the tests can check the arithmetic without
Spark.
"""

from __future__ import annotations

import json
import statistics

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cold_pass_s": "s",
    "query_p50_s": "s",
    "throughput_qps": "1/s",
    "peak_rss_mb": "MB",
}

# reported in the summary lines but not in the result line: failed_frac
# is 0 on a correct run (the result line's "failed" carries it), and a
# p90 needs at least ten samples beyond it, i.e. 100 warm operations
SUMMARY_ONLY = {"failed_frac": "ratio", "query_p90_s": "s"}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "plans.construct_s": "s",
    "plans.construct_p50_ms": "ms",
    "engine.analysis_ms": "ms",
    "engine.optimize_ms": "ms",
    "engine.physical_ms": "ms",
    "engine.codegen_compiles": "count",
    "engine.codegen_ms": "ms",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.task_s": "s",
    "engine.gc_s": "s",
    "engine.shuffle_write_mb": "MB",
    "engine.shuffle_read_mb": "MB",
    "engine.spill_mb": "MB",
    "engine.core_busy": "ratio",
    "engine.failed_tasks": "count",
    "factors.bars_build_s": "s",
    "pipeline.shingles_build_s": "s",
    "pipeline.ngram_pairs_build_s": "s",
    "pipeline.ivf_build_s": "s",
    "pipeline.cache_hit_ms": "ms",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.rows_per_s": "rows/s",
    "streaming.batch_p50_ms": "ms",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _warm(record: dict):
    """The counted warm passes and their successful operations: every
    warm pass after the settling ones."""
    passes = [p for p in record["passes"] if not p["cold"]][record["settle_passes"] :]
    counted = {p["index"] for p in passes}
    ops = [o for o in record["ops"] if o["pass"] in counted and "error" not in o]
    return passes, ops


def _cold(record: dict) -> dict:
    return next(p for p in record["passes"] if p["cold"])


def end_to_end(record: dict) -> dict[str, float]:
    warm_passes, warm_ops = _warm(record)
    warm_wall = sum(p["wall_s"] for p in warm_passes)
    return {
        "setup_s": record["import_s"] + _median(s["total_s"] for s in record["setups"]),
        "wall_s": _median(p["wall_s"] for p in warm_passes),
        "cold_pass_s": _cold(record)["wall_s"],
        "query_p50_s": _median(o["latency_s"] for o in warm_ops),
        "throughput_qps": len(warm_ops) / warm_wall if warm_wall > 0 else 0.0,
        "peak_rss_mb": record["peak_rss_mb"],
    }


def summary_only(record: dict) -> dict[str, float | None]:
    _, warm_ops = _warm(record)
    lat = sorted(o["latency_s"] for o in warm_ops)
    p90 = statistics.quantiles(lat, n=10)[-1] if len(lat) >= 100 else None
    attempted = record["attempted"]
    return {
        "failed_frac": record["failed"] / attempted if attempted else 1.0,
        "query_p90_s": p90,
    }


def per_layer(record: dict) -> dict[str, float]:
    """Per-layer values. Engine and plans counters cover the cold pass
    (the first pass of a fresh session); ``*_p50_*`` and cache hits are
    medians over the warm passes. A layer the workload does not use
    reads 0."""
    out = {name: 0.0 for name in PER_LAYER}
    setups = record["setups"]
    out["session.start_s"] = _median(s["start_s"] for s in setups)
    out["session.warmup_s"] = _median(s["warmup_s"] for s in setups)
    if record.get("setup_bars"):
        out["factors.bars_build_s"] = _median(s["build_s"] for s in setups)
    out["sources.scan_s"] = record.get("scan_s", 0.0)
    out["sources.input_mb"] = record.get("input_mb", 0.0)

    cold = _cold(record)
    cold_ops = [o for o in record["ops"] if o["pass"] == cold["index"] and "error" not in o]
    _, warm_ops = _warm(record)
    out["plans.construct_s"] = sum(o["construct_s"] for o in cold_ops)
    out["plans.construct_p50_ms"] = 1000.0 * _median(o["construct_s"] for o in warm_ops)
    for src, dst in (
        ("analysis", "engine.analysis_ms"),
        ("optimization", "engine.optimize_ms"),
        ("planning", "engine.physical_ms"),
    ):
        out[dst] = sum(o.get("phases", {}).get(src, 0.0) for o in cold_ops)
    for key, val in cold.get("engine", {}).items():
        out[f"engine.{key}"] = val
    out["engine.failed_tasks"] = sum(
        p.get("engine", {}).get("failed_tasks", 0) for p in record["passes"]
    )
    for name, secs in cold.get("builds", {}).items():
        out[f"pipeline.{name}_build_s"] = secs
    out["pipeline.cache_hit_ms"] = 1000.0 * _median(record.get("cache_hits_s", []))

    # the first replay is cold
    replays = record.get("streams", [])[1:]
    if replays:
        batches = [b for r in replays for b in r["batches"]]
        out["streaming.batches"] = _median(len(r["batches"]) for r in replays)
        out["streaming.add_batch_ms"] = _median(b["addBatch"] for b in batches)
        out["streaming.wal_commit_ms"] = _median(b["walCommit"] for b in batches)
        out["streaming.query_planning_ms"] = _median(b["queryPlanning"] for b in batches)
        out["streaming.state_rows"] = _median(r["state_rows"] for r in replays)
        out["streaming.rows_per_s"] = _median(r["input_rows"] / r["wall_s"] for r in replays)
        out["streaming.batch_p50_ms"] = _median(b["triggerExecution"] for b in batches)
    return out


def result_line(record: dict, trace: bool) -> str:
    """The last stdout line: exactly correct/attempted/failed/metrics."""
    values = per_layer(record) if trace else end_to_end(record)
    units = PER_LAYER if trace else END_TO_END
    return json.dumps(
        {
            "correct": record["failed"] == 0 and record["attempted"] > 0,
            "attempted": record["attempted"],
            "failed": record["failed"],
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
    )


def summary_lines(record: dict) -> list[str]:
    """Human-readable lines printed before the result line: every
    end-to-end metric (also in a traced run, for the overhead
    comparison), the summary-only metrics, and the host record."""
    lines = [f"metric {k} = {v!r} {END_TO_END[k]}" for k, v in end_to_end(record).items()]
    for k, v in summary_only(record).items():
        shown = "n/a (fewer than 100 warm operations)" if v is None else repr(v)
        lines.append(f"metric {k} = {shown} {SUMMARY_ONLY[k]}")
    lines.append("host " + json.dumps(record["host"], sort_keys=True))
    return lines
