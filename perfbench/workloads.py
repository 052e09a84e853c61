"""The benchmark's workloads: which public engine entry points each one
calls, what it builds during set-up, and the DuckDB references its
outputs are checked against.

Every workload is one client in a closed loop: the next operation starts
when the previous one has returned its collected result.
"""

from __future__ import annotations

from dataclasses import dataclass

# Streamlit page traffic: the interactive dashboard queries (market
# overview, sector pages, screener, K-line, factor lab, backtest).
QUANT_PANEL_QUERIES = (
    "global_market_stats",
    "sector_rollup",
    "screener_wide_join",
    "prev_day_change",
    "kpl_ladder",
    "point_lookup",
    "kline_window_slice",
    "rank_ic_daily",
    "backtest_drawdown",
    "tick_bars_minute",
)

# LLM-data pipeline consumers of the raw corpus and of each shared build
# (shingles, n-gram pairs, the IVF chain).
LLM_DEDUP_QUERIES = (
    "dedup_exact",
    "dedup_containment",
    "cross_source_dup_matrix",
    "embedding_ann_ivf",
    "cluster_balanced_sample",
    "chunk_level_dedup",
)

# shared pipeline builds, timed at the head of llm_dedup's first pass
PIPELINE_BUILDS = ("shingles", "ngram_pairs", "ivf")

# the engine's warm-up query, as in bench.py
WARMUP_QUERY = "global_market_stats"

# The tick stream replay (quant_panel's traced run): the events table is
# cut at seeded points into this many files, replayed one file per
# micro-batch; the first replay is cold and left out of the streaming
# medians
REPLAY_FILES = 2
TRACED_REPLAYS = 2

# Streaming references. The rollup store must equal a from-scratch rollup
# of every event; the bars must equal the batch tick_bars_minute rows
# whose window the final watermark (max event time - 5 minutes) closed.
ROLLUP_SQL = """
SELECT CAST(ts AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS event_cnt,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS value_total
FROM events
GROUP BY 1, 2
"""


def bars_sql(tick_bars_oracle: str) -> str:
    return f"""
    WITH b AS ({tick_bars_oracle})
    SELECT user_id, bar_start, low, high, n_ticks, volume
    FROM b
    WHERE bar_start + INTERVAL 1 MINUTE
          <= (SELECT MAX(ts) FROM events) - INTERVAL 5 MINUTE
    """


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # tables the workload reads (sources.input_mb, sources.scan_s)
    inputs: tuple[str, ...] = ()
    setup_bars: bool = False
    timed_builds: tuple[str, ...] = ()
    # the traced run replays the tick stream after the timed passes
    # (the streaming layer's metrics)
    replay: bool = False
    # warm passes that still show JIT warm-up in the young JVM; they run
    # but are left out of the warm statistics (measured over eight warm
    # passes: quant_panel 3.3-4.4 s for the first, falling to 2.1-2.6 s
    # by the eighth; llm_dedup 2.3-2.9 s falling to 1.6-2.2 s)
    settle_passes: int = 2
    # counted warm passes a run makes at least, whatever --seconds says
    min_warm_passes: int = 3


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "quant_panel",
            QUANT_PANEL_QUERIES,
            inputs=("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
            setup_bars=True,
            replay=True,
        ),
        Workload(
            "llm_dedup",
            LLM_DEDUP_QUERIES,
            inputs=("documents", "embeddings"),
            timed_builds=PIPELINE_BUILDS,
            # dedup_containment, most of a warm pass, is still falling by
            # a third over the first six warm passes
            settle_passes=3,
        ),
    )
}
