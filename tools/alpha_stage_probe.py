"""Stage-level decomposition of the alpha101 cache-build execution (r14).

Runs the exact _alpha_table build (leaf input, AQE-off eager
localCheckpoint) in a UI-enabled session and dumps per-stage wall/exec
times from the UI REST API, plus inter-stage gaps (driver-side planning /
codegen). Measurement-only tool; never used by queries.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

from pyspark.sql import SparkSession, functions as F

from quantitative_database_and_visualization_platform_spark.factors.alpha101 import (
    ALPHA_COLS,
    with_alphas,
)
from quantitative_database_and_visualization_platform_spark.factors.panel import (
    bars_table,
)
from quantitative_database_and_visualization_platform_spark.plans import QUERIES
from quantitative_database_and_visualization_platform_spark.session import (
    aqe_off,
    cpu_count,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # mirror get_spark but with the UI on for the REST stage metrics
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    builder = SparkSession.builder.appName("alpha-stage-probe").master(
        f"local[{cpu_count()}]"
    )
    for k, v in [
        ("spark.sql.shuffle.partitions", str(max(cpu_count(), 8))),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.python.sql.dataFrameDebugging.enabled", "false"),
        ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
        ("spark.driver.memory", "8g"),
        ("spark.ui.enabled", "true"),
    ]:
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    QUERIES["global_market_stats"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    bars = bars_table(spark, sf_dir)
    t0 = time.perf_counter()
    df = with_alphas(bars).select(
        "code",
        "d",
        *[
            (F.floor(F.col(c) * 1_000_000 + 0.5) / 1_000_000.0).alias(c)
            for c in ALPHA_COLS
        ],
    )
    t_construct = time.perf_counter() - t0

    with aqe_off(spark):
        t0 = time.perf_counter()
        df = df.localCheckpoint(eager=True)
        t_exec = time.perf_counter() - t0

    app_id = spark.sparkContext.applicationId
    url = f"http://localhost:4040/api/v1/applications/{app_id}/stages?status=complete"
    stages = json.loads(urllib.request.urlopen(url).read())
    rows = []
    for s in stages:
        rows.append(
            {
                "id": s["stageId"],
                "dur_ms": s.get("executorRunTime"),
                "submit": s.get("submissionTime"),
                "complete": s.get("completionTime"),
                "first_launch": s.get("firstTaskLaunchedTime"),
                "tasks": s.get("numCompleteTasks"),
                "name": (s.get("name") or "")[:80],
            }
        )
    rows.sort(key=lambda r: r["id"])
    print(f"construct_s={t_construct:.2f} exec_s={t_exec:.2f}")
    for r in rows:
        print(
            f"stage {r['id']:>3} tasks={r['tasks']:>3} "
            f"execms={r['dur_ms']:>8} submit={r['submit']} "
            f"complete={r['complete']} | {r['name']}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
