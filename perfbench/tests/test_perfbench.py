"""Tests of the benchmark's own machinery (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import re
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import metrics  # noqa: E402
import refs  # noqa: E402
from quantitative_database_and_visualization_platform_spark.plans.oracle_check import compare  # noqa: E402


def _table(values=(1.5, None, float("nan"), -0.0), ids=(1, 2, 3, 4)) -> pa.Table:
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "x": pa.array(values, pa.float64()),
            "d": pa.array([dt.date(2024, 1, i) for i in ids], pa.date32()),
        }
    )


def test_digest_agrees_with_compare_on_matching_table():
    a = _table()
    # same multiset of rows in another order: a match for both
    b = a.take([3, 1, 0, 2])
    assert compare(a, b) == []
    assert refs.digest(a) == refs.digest(b)


@pytest.mark.parametrize(
    "changed",
    [
        # one ulp
        _table(values=(math.nextafter(1.5, 2.0), None, float("nan"), -0.0)),
        # NULL <-> NaN swap
        _table(values=(1.5, float("nan"), None, -0.0)),
        # -0.0 -> 0.0
        _table(values=(1.5, None, float("nan"), 0.0)),
        # a dropped row
        _table().slice(0, 3),
    ],
    ids=["one_ulp", "null_nan_swap", "signed_zero", "dropped_row"],
)
def test_digest_flags_what_compare_flags(changed):
    assert compare(changed, _table()) != []
    assert refs.digest(changed) != refs.digest(_table())


def _index(tmp_path, name="q", table=None):
    return {name: refs.write_reference(str(tmp_path), "k1", table if table is not None else _table())}


def test_wrong_output_is_counted_as_failed(tmp_path):
    checker = refs.Checker(_index(tmp_path), str(tmp_path))
    assert checker.record("q", {"q": _table()})
    wrong = _table(values=(1.5, float("nan"), None, -0.0))
    assert not checker.record("q", {"q": wrong})
    assert not checker.record("q", None, error="ValueError: boom")
    assert (checker.attempted, checker.failed) == (3, 2)
    # the diagnostics are compare()'s
    assert any("col x" in p for p in checker.problems)
    record = {"attempted": checker.attempted, "failed": checker.failed, "settle_passes": 0, "ops": [], "passes": []}
    assert metrics.summary_only(record)["failed_frac"] == pytest.approx(2 / 3)


def _record(trace: bool) -> dict:
    # a cold pass, a settling pass, two counted passes
    ops = [
        {"op": f"q{i}", "pass": p, "construct_s": 0.01 * (i + 1), "exec_s": 0.1, "latency_s": 0.1 + 0.01 * i}
        for p in range(4)
        for i in range(4)
    ]
    passes = [{"index": p, "cold": p == 0, "wall_s": (2.0, 1.5, 1.0, 1.0)[p]} for p in range(4)]
    if trace:
        ops[0]["phases"] = {"analysis": 5.0, "optimization": 7.0, "planning": 3.0}
        passes[0]["engine"] = {"jobs": 4, "codegen_compiles": 9, "task_s": 2.0, "failed_tasks": 0}
    return {
        "import_s": 2.0,
        "setups": [{"start_s": s, "warmup_s": 0.5, "build_s": 0.2, "total_s": s + 0.7} for s in (6.0, 5.0)],
        "setup_bars": True,
        "settle_passes": 1,
        "ops": ops,
        "passes": passes,
        "attempted": len(ops),
        "failed": 0,
        "peak_rss_mb": 900.0,
        "host": {"seed": 1},
    }


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_parses_and_names_every_metric_with_its_unit(trace):
    spec = _benchmark_json()["per_layer" if trace else "end_to_end"]
    out = json.loads(metrics.result_line(_record(trace), trace))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] == 16 and out["failed"] == 0
    assert {m["name"]: m["unit"] for m in spec} == {k: v["unit"] for k, v in out["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


def test_summary_lines_name_every_end_to_end_metric_with_its_unit():
    lines = metrics.summary_lines(_record(False))
    parsed = {}
    for line in lines:
        m = re.fullmatch(r"metric (\S+) = (\S+) (\S+)", line)
        if m:
            parsed[m.group(1)] = m.group(3)
    for m in _benchmark_json()["end_to_end"]:
        assert parsed[m["name"]] == m["unit"]
    assert parsed["failed_frac"] == "ratio"


def test_end_to_end_arithmetic():
    e2e = metrics.end_to_end(_record(False))
    # import + median of the two set-ups (6.7, 5.7)
    assert e2e["setup_s"] == pytest.approx(2.0 + 6.2)
    assert e2e["cold_pass_s"] == 2.0
    # pass 1 settles; passes 2 and 3 are counted
    assert e2e["wall_s"] == 1.0
    assert e2e["throughput_qps"] == pytest.approx(8 / 2.0)
    assert e2e["query_p50_s"] == pytest.approx(0.115)


def test_per_layer_reads_the_cold_pass():
    layer = metrics.per_layer(_record(True))
    assert layer["engine.jobs"] == 4 and layer["engine.analysis_ms"] == 5.0
    assert layer["plans.construct_s"] == pytest.approx(0.01 + 0.02 + 0.03 + 0.04)
    assert layer["session.start_s"] == pytest.approx(5.5)


def test_replay_split_is_seeded_and_chronological(tmp_path):
    import pyarrow.parquet as pq

    from run import split_events

    def files(seed, d):
        split_events(refs.FIXTURE_DIR, str(tmp_path / d), seed)
        names = sorted(os.listdir(tmp_path / d))
        return [pq.read_table(tmp_path / d / n) for n in names]

    one, again, other = files(7, "a"), files(7, "b"), files(8, "c")
    ids = [[t.column("event_id").to_pylist() for t in f] for f in (one, again, other)]
    assert ids[0] == ids[1] and ids[0] != ids[2]
    # every event once, files in event-time order, the source's ts type kept
    events = pq.read_table(os.path.join(refs.FIXTURE_DIR, "events.parquet"))
    assert sorted(e for f in ids[0] for e in f) == sorted(events.column("event_id").to_pylist())
    ts = [t.column("ts").to_pylist() for t in one]
    assert all(max(a) <= min(b) for a, b in zip(ts, ts[1:]))
    assert all(t.schema.field("ts").type == events.schema.field("ts").type for t in one)
