"""Cold-JVM phase probe for the alpha101 cache build (r14 item 1).

Replicates _alpha_table's build exactly (same rounding select, AQE-off
eager localCheckpoint) but times each phase separately, with the bars
input selectable so leaf-vs-recompute can be adjudicated COLD as the r13
verdict prescribes (the warm interleaved A/B under-measured the cold
regression). One JSON line per run.

Usage: python tools/alpha_probe.py {leaf4|recompute|leaf32|repart} [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from quantitative_database_and_visualization_platform_spark.factors.alpha101 import (
    ALPHA_COLS,
    with_alphas,
)
from quantitative_database_and_visualization_platform_spark.factors.panel import (
    _BAR_ROW_BYTES,
    bars_table,
    daily_bars,
)
from quantitative_database_and_visualization_platform_spark.plans import QUERIES
from quantitative_database_and_visualization_platform_spark.session import (
    aqe_off,
    checkpoint_sized,
    get_spark,
)


def main() -> None:
    variant = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("alpha-probe")
    # bench-identical warmup
    QUERIES["global_market_stats"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    t0 = time.perf_counter()
    if variant == "leaf4":
        bars = bars_table(spark, sf_dir)
    elif variant == "recompute":
        bars = daily_bars(spark, sf_dir)
    elif variant == "leaf32":
        bars = checkpoint_sized(
            spark,
            daily_bars(spark, sf_dir),
            _BAR_ROW_BYTES,
            floor=spark.sparkContext.defaultParallelism,
        )
    elif variant == "repart":
        bars = bars_table(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism
        )
    else:
        raise SystemExit(f"unknown variant {variant}")
    t_input = time.perf_counter() - t0

    t0 = time.perf_counter()
    out = with_alphas(bars)
    df = out.select(
        "code",
        "d",
        *[
            (F.floor(F.col(c) * 1_000_000 + 0.5) / 1_000_000.0).alias(c)
            for c in ALPHA_COLS
        ],
    )
    t_construct = time.perf_counter() - t0

    t0 = time.perf_counter()
    with aqe_off(spark):
        df = df.localCheckpoint(eager=True)
    t_exec = time.perf_counter() - t0

    n = df.count()
    print(
        json.dumps(
            {
                "variant": variant,
                "input_s": round(t_input, 2),
                "construct_s": round(t_construct, 2),
                "exec_s": round(t_exec, 2),
                "total_s": round(t_input + t_construct + t_exec, 2),
                "rows": n,
                "input_partitions": bars.rdd.getNumPartitions(),
                "load_1m": round(os.getloadavg()[0], 2),
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
