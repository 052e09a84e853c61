"""Summarize perfbench/_cache/results.jsonl: per workload and mode
(untraced / traced), the median and quartile spread of every end-to-end
metric, and the tracing overhead (traced median minus untraced median).

    python3 perfbench/report.py [results.jsonl]
"""

from __future__ import annotations

import json
import os
import statistics
import sys

from metrics import END_TO_END

DEFAULT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_cache", "results.jsonl")


def _stats(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main(path: str = DEFAULT) -> None:
    runs: dict[tuple[str, int], list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            runs.setdefault((rec["host"]["workload"], rec["host"]["trace"]), []).append(rec)
    for workload in sorted({w for w, _ in runs}):
        print(f"== {workload}")
        medians = {}
        for trace in (0, 1):
            recs = runs.get((workload, trace), [])
            if not recs:
                continue
            print(f"  trace={trace}: {len(recs)} runs")
            for name, unit in END_TO_END.items():
                med, spread = _stats([r["end_to_end"][name] for r in recs])
                medians[(trace, name)] = med
                print(f"    {name:16s} median {med:12.4f} {unit:4s} iqr/median {spread:.3f}")
        if all((t, n) in medians for t in (0, 1) for n in END_TO_END):
            print("  tracing overhead (traced - untraced median):")
            for name, unit in END_TO_END.items():
                base = medians[(0, name)]
                diff = medians[(1, name)] - base
                share = diff / base if base else 0.0
                print(f"    {name:16s} {diff:+12.4f} {unit:4s} ({share:+.1%})")


if __name__ == "__main__":
    main(*sys.argv[1:])
