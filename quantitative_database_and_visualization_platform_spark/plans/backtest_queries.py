"""Factor backtesting over the daily panel — the analysis the reference's
Alpha-lab page runs downstream of the IC scan (`app/Quantlib/pages/
5_Alpha lab.py`): decile long-short portfolio returns and per-entity
drawdown statistics.

Determinism: every accumulation that an engine could reorder (cumulative
P&L, equity curves) runs in fixed-point integer "micro-units" — critical
here because DuckDB evaluates window SUMs over a segment TREE (pairwise
association) while Spark's running frame accumulates sequentially; float
addition is non-associative, integer addition is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..factors.panel import O_BARS, bars_table
from .registry import o_round6, query, round6

# fixed-point scale for returns (≈1e-8 resolution; 150 names × 30 days of
# ±50% daily returns peaks at ~1e10 micro-units — far inside int64)
_RS = 100_000_000


# ---------------------------------------------------------------------------
# Decile long-short backtest: each day rank names by 5-day momentum,
# ntile(10), hold decile 10 long and decile 1 short for the next day.
# One date-axis shuffle for the ranking; the daily portfolio aggregation
# is map-side combined; the global cum-P&L runs over #dates rows (a
# sequential-by-nature series, so a single ordered partition is correct,
# not a scale smell).
# ---------------------------------------------------------------------------
@query(
    "backtest_decile_longshort",
    oracle=f"""
    WITH {O_BARS},
    panel AS (
        SELECT code, d, close,
               close / LAG(close, 5) OVER w - 1 AS mom_5,
               LEAD(close) OVER w / close - 1 AS fwd_ret
        FROM bars
        WINDOW w AS (PARTITION BY code ORDER BY d)
    ), ranked AS (
        SELECT d, mom_5, fwd_ret,
               NTILE(10) OVER (PARTITION BY d ORDER BY mom_5, code) AS decile
        FROM panel WHERE mom_5 IS NOT NULL AND fwd_ret IS NOT NULL
    ), daily AS (
        SELECT d,
               SUM(CASE WHEN decile = 10 THEN CAST(ROUND(fwd_ret*{_RS},0) AS BIGINT) END)
                 / CAST(COUNT(CASE WHEN decile = 10 THEN 1 END) AS DOUBLE) / {_RS} AS long_ret,
               SUM(CASE WHEN decile = 1 THEN CAST(ROUND(fwd_ret*{_RS},0) AS BIGINT) END)
                 / CAST(COUNT(CASE WHEN decile = 1 THEN 1 END) AS DOUBLE) / {_RS} AS short_ret
        FROM ranked GROUP BY d
    )
    SELECT d,
           FLOOR((long_ret - short_ret)*1000000 + 0.5)/1000000.0 AS ls_ret,
           FLOOR((SUM(CAST(ROUND((long_ret - short_ret)*{_RS},0) AS BIGINT))
                    OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) / {_RS}.0)*1000000 + 0.5)
             /1000000.0 AS cum_ls
    FROM daily
    """,
)
def backtest_decile_longshort(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    panel = bars.select(
        "code",
        "d",
        (F.col("close") / F.lag("close", 5).over(w) - 1).alias("mom_5"),
        (F.lead("close").over(w) / F.col("close") - 1).alias("fwd_ret"),
    ).filter(F.col("mom_5").isNotNull() & F.col("fwd_ret").isNotNull())
    ranked = panel.withColumn(
        "decile", F.ntile(10).over(Window.partitionBy("d").orderBy("mom_5", "code"))
    )
    micro = F.round(F.col("fwd_ret") * _RS, 0).cast("long")
    daily = ranked.groupBy("d").agg(
        (
            F.sum(F.when(F.col("decile") == 10, micro))
            / F.count(F.when(F.col("decile") == 10, F.lit(1))).cast("double")
            / _RS
        ).alias("long_ret"),
        (
            F.sum(F.when(F.col("decile") == 1, micro))
            / F.count(F.when(F.col("decile") == 1, F.lit(1))).cast("double")
            / _RS
        ).alias("short_ret"),
    )
    ls = F.col("long_ret") - F.col("short_ret")
    cum_w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "d",
        round6(ls).alias("ls_ret"),
        round6(F.sum(F.round(ls * _RS, 0).cast("long")).over(cum_w) / float(_RS)).alias(
            "cum_ls"
        ),
    )


# ---------------------------------------------------------------------------
# Equal-weight market index history (`QuantDB.py:358-369,390-395`
# get_market_index_daily / get_market_index_history): daily mean return
# across the universe, arithmetic index level base 1000 — fixed-point
# cumulative sum so the level is exact under any summation order.
# ---------------------------------------------------------------------------
@query(
    "market_index_history",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1 AS ret
        FROM bars QUALIFY ret IS NOT NULL
    ), mkt AS (
        SELECT d,
               SUM(CAST(ROUND(ret*{_RS},0) AS BIGINT)) / CAST(COUNT(*) AS DOUBLE) / {_RS}
                 AS mkt_ret,
               CAST(COUNT(*) AS BIGINT) AS n_names
        FROM rets GROUP BY d
    )
    SELECT d,
           FLOOR(mkt_ret*1000000 + 0.5)/1000000.0 AS mkt_ret,
           n_names,
           FLOOR((1000.0 + 1000.0 * (SUM(CAST(ROUND(mkt_ret*{_RS},0) AS BIGINT))
                    OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) / {_RS}.0))*1000000 + 0.5)
             /1000000.0 AS index_level
    FROM mkt
    """,
)
def market_index_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "d", (F.col("close") / F.lag("close").over(w) - 1).alias("ret")
    ).filter(F.col("ret").isNotNull())
    mkt = rets.groupBy("d").agg(
        (
            F.sum(F.round(F.col("ret") * _RS, 0).cast("long"))
            / F.count(F.lit(1)).cast("double")
            / _RS
        ).alias("mkt_ret"),
        F.count(F.lit(1)).alias("n_names"),
    )
    cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    level = 1000.0 + 1000.0 * (
        F.sum(F.round(F.col("mkt_ret") * _RS, 0).cast("long")).over(cum) / float(_RS)
    )
    return mkt.select(
        "d", round6("mkt_ret").alias("mkt_ret"), "n_names", round6(level).alias("index_level")
    )


# ---------------------------------------------------------------------------
# Per-entity availability range (`QuantDB.py:55-63`
# get_stock_available_range) and the previous-trading-date scalar
# (`QuantDB.py:36-43` get_previous_trading_date) — metadata lookups a
# client fires constantly; both are single aggregates with pushdown.
# ---------------------------------------------------------------------------
@query(
    "stock_available_range",
    oracle=f"""
    WITH {O_BARS}
    SELECT code, MIN(d) AS first_d, MAX(d) AS last_d,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM bars GROUP BY code
    """,
)
def stock_available_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bars_table(spark, sf_dir).groupBy("code").agg(
        F.min("d").alias("first_d"),
        F.max("d").alias("last_d"),
        F.count(F.lit(1)).alias("n_days"),
    )


@query(
    "prev_trading_date",
    oracle=f"""
    WITH {O_BARS},
    days AS (SELECT DISTINCT d FROM bars)
    SELECT MAX(d) AS prev_d FROM days WHERE d < (SELECT MAX(d) FROM days)
    """,
)
def prev_trading_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = bars_table(spark, sf_dir).select("d").distinct()
    latest = days.agg(F.max("d").alias("__mx"))
    return (
        days.join(F.broadcast(latest))
        .filter(F.col("d") < F.col("__mx"))
        .agg(F.max("d").alias("prev_d"))
    )


# ---------------------------------------------------------------------------
# Yesterday's-winners cohort performance (`QuantDB.py:443-…`
# get_yesterday_limit_up_performance): form each day's winner cohort
# (top decile by daily return — the synthetic panel's limit-up proxy),
# then measure that cohort's NEXT-day average return against the
# market. A temporal cohort join: rank on day d, consume on day d+1.
# ---------------------------------------------------------------------------
@query(
    "yesterday_winners_performance",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               close / LAG(close) OVER w - 1 AS ret,
               LEAD(close) OVER w / close - 1 AS fwd_ret
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    ), ranked AS (
        SELECT code, d, ret, fwd_ret,
               NTILE(10) OVER (PARTITION BY d ORDER BY ret, code) AS dec
        FROM rets WHERE ret IS NOT NULL AND fwd_ret IS NOT NULL
    )
    SELECT d,
           FLOOR((SUM(CASE WHEN dec = 10 THEN CAST(ROUND(fwd_ret*{_RS},0) AS BIGINT) END)
                  / CAST(COUNT(CASE WHEN dec = 10 THEN 1 END) AS DOUBLE) / {_RS})*1000000 + 0.5)
             /1000000.0 AS winners_next_ret,
           FLOOR((SUM(CAST(ROUND(fwd_ret*{_RS},0) AS BIGINT))
                  / CAST(COUNT(*) AS DOUBLE) / {_RS})*1000000 + 0.5)/1000000.0 AS mkt_next_ret,
           CAST(COUNT(CASE WHEN dec = 10 THEN 1 END) AS BIGINT) AS cohort_size
    FROM ranked GROUP BY d
    """,
)
def yesterday_winners_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "code",
        "d",
        (F.col("close") / F.lag("close").over(w) - 1).alias("ret"),
        (F.lead("close").over(w) / F.col("close") - 1).alias("fwd_ret"),
    ).filter(F.col("ret").isNotNull() & F.col("fwd_ret").isNotNull())
    ranked = rets.withColumn(
        "dec", F.ntile(10).over(Window.partitionBy("d").orderBy("ret", "code"))
    )
    micro = F.round(F.col("fwd_ret") * _RS, 0).cast("long")
    winners = F.when(F.col("dec") == 10, micro)
    return ranked.groupBy("d").agg(
        round6(
            F.sum(winners) / F.count(F.when(F.col("dec") == 10, F.lit(1))).cast("double") / _RS
        ).alias("winners_next_ret"),
        round6(F.sum(micro) / F.count(F.lit(1)).cast("double") / _RS).alias("mkt_next_ret"),
        F.count(F.when(F.col("dec") == 10, F.lit(1))).alias("cohort_size"),
    )


# ---------------------------------------------------------------------------
# Cross-sectional winsorization: clip each day's returns at that day's
# exact [p05, p95] — the standard outlier guard before factor fitting.
# Exact interpolated percentiles as window aggregates over the date
# partition (both engines linear-interpolate), boundaries pre-rounded to
# 9dp so a one-ulp interpolation difference cannot flip a clip decision.
# ---------------------------------------------------------------------------
@query(
    "winsorize_returns",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1 AS ret
        FROM bars
        QUALIFY ret IS NOT NULL
    ), b AS (
        SELECT code, d, ret,
               ROUND(quantile_cont(ret, 0.05) OVER (PARTITION BY d), 9) AS lo,
               ROUND(quantile_cont(ret, 0.95) OVER (PARTITION BY d), 9) AS hi
        FROM rets
    )
    SELECT code, d,
           FLOOR(LEAST(GREATEST(ret, lo), hi)*1000000 + 0.5)/1000000.0 AS ret_wins,
           CAST(ret < lo OR ret > hi AS INT) AS clipped
    FROM b
    """,
)
def winsorize_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "code", "d", (F.col("close") / F.lag("close").over(w) - 1).alias("ret")
    ).filter(F.col("ret").isNotNull())
    day = Window.partitionBy("d")
    lo = F.round(F.percentile("ret", 0.05).over(day), 9)
    hi = F.round(F.percentile("ret", 0.95).over(day), 9)
    clipped = (F.col("ret") < lo) | (F.col("ret") > hi)
    return rets.select(
        "code",
        "d",
        round6(F.least(F.greatest(F.col("ret"), lo), hi)).alias("ret_wins"),
        clipped.cast("int").alias("clipped"),
    )


# ---------------------------------------------------------------------------
# Calendar-RANGE rolling window: trailing 7 CALENDAR days of dollar
# volume per name. Different from every ROWS-framed rolling op in the
# engine whenever a name has missing days — the frame is defined by the
# date VALUE (epoch-day rangeBetween), so gaps shrink the row count
# instead of silently reaching further back in time.
# ---------------------------------------------------------------------------
@query(
    "range_window_dollar_volume",
    oracle=f"""
    WITH {O_BARS}
    SELECT code, d,
           CAST(SUM(CAST(ROUND(amount*100,0) AS BIGINT))
                  OVER (PARTITION BY code ORDER BY d
                        RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
                AS DOUBLE)/100.0 AS dollar_vol_7d,
           CAST(COUNT(*) OVER (PARTITION BY code ORDER BY d
                        RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
                AS BIGINT) AS days_present_7d
    FROM bars
    """,
)
def range_window_dollar_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    # DataFrame rangeBetween frames are numeric — order by epoch day
    day_num = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("code")
        .orderBy(day_num)
        .rangeBetween(-6, Window.currentRow)
    )
    return bars.select(
        "code",
        "d",
        (
            F.sum(F.round(F.col("amount") * 100, 0).cast("long")).over(w).cast("double")
            / 100.0
        ).alias("dollar_vol_7d"),
        F.count(F.lit(1)).over(w).alias("days_present_7d"),
    )


# ---------------------------------------------------------------------------
# Rolling market beta: 10-day cov(ret, mkt)/var(mkt) per name against the
# equal-weight market return. The market series is date-aggregated once
# (fixed-point mean, exact on both engines) and joined back — a
# dates-sized table, left to AQE to broadcast. Beta is a small-magnitude
# float statistic → 6dp rounding on both sides (repo convention for
# corr-class outputs).
# ---------------------------------------------------------------------------
@query(
    "rolling_beta_market",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1 AS ret
        FROM bars
        QUALIFY ret IS NOT NULL
    ), mkt AS (
        SELECT d,
               SUM(CAST(ROUND(ret*{_RS},0) AS BIGINT)) / CAST(COUNT(*) AS DOUBLE) / {_RS}
                 AS mkt_ret
        FROM rets GROUP BY d
    ), j AS (
        SELECT r.code, r.d, r.ret, m.mkt_ret FROM rets r JOIN mkt m USING (d)
    )
    SELECT code, d,
           CASE WHEN COUNT(*) OVER w >= 10 AND VAR_SAMP(mkt_ret) OVER w > 0
                THEN FLOOR((COVAR_SAMP(ret, mkt_ret) OVER w / VAR_SAMP(mkt_ret) OVER w)
                           *1000000 + 0.5)/1000000.0 END AS beta_10
    FROM j
    WINDOW w AS (PARTITION BY code ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_beta_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "code", "d", (F.col("close") / F.lag("close").over(w) - 1).alias("ret")
    ).filter(F.col("ret").isNotNull())
    mkt = rets.groupBy("d").agg(
        (
            F.sum(F.round(F.col("ret") * _RS, 0).cast("long"))
            / F.count(F.lit(1)).cast("double")
            / _RS
        ).alias("mkt_ret")
    )
    j = rets.join(mkt, "d")
    frame = w.rowsBetween(-9, Window.currentRow)
    n = F.count(F.lit(1)).over(frame)
    var_m = F.var_samp("mkt_ret").over(frame)
    cov = F.covar_samp("ret", "mkt_ret").over(frame)
    return j.select(
        "code",
        "d",
        F.when((n >= 10) & (var_m > 0), round6(cov / var_m)).alias("beta_10"),
    )


# ---------------------------------------------------------------------------
# Max drawdown per entity: fixed-point equity curve (cumulative simple
# returns), running peak, deepest trough and its date (earliest on ties).
# Everything up to the final division is int64 arithmetic — running max /
# min / subtraction are exact regardless of evaluation order.
# ---------------------------------------------------------------------------
@query(
    "backtest_drawdown",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{_RS},0) AS BIGINT) AS ret_c
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    ), eq AS (
        SELECT code, d,
               SUM(ret_c) OVER (PARTITION BY code ORDER BY d ROWS UNBOUNDED PRECEDING) AS eq_c
        FROM rets WHERE ret_c IS NOT NULL
    ), dd AS (
        SELECT code, d,
               eq_c - MAX(eq_c) OVER (PARTITION BY code ORDER BY d ROWS UNBOUNDED PRECEDING)
                 AS dd_c
        FROM eq
    )
    SELECT code, d AS trough_date, CAST(dd_c AS DOUBLE) / {_RS} AS max_drawdown
    FROM dd
    QUALIFY ROW_NUMBER() OVER (PARTITION BY code ORDER BY dd_c, d) = 1
    """,
)
def backtest_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rets = bars.select(
        "code",
        "d",
        F.round((F.col("close") / F.lag("close").over(w) - 1) * _RS, 0)
        .cast("long")
        .alias("ret_c"),
    ).filter(F.col("ret_c").isNotNull())
    eq = rets.withColumn("eq_c", F.sum("ret_c").over(run))
    dd = eq.withColumn("dd_c", F.col("eq_c") - F.max("eq_c").over(run))
    pick = Window.partitionBy("code").orderBy("dd_c", "d")
    return (
        dd.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            "code",
            F.col("d").alias("trough_date"),
            (F.col("dd_c").cast("double") / _RS).alias("max_drawdown"),
        )
    )


# ---------------------------------------------------------------------------
# Turnover + cost-adjusted long-short backtest (new r5): the decile LS
# strategy with the cost model a real backtest needs — per-day leg
# turnover (fraction of the leg replaced vs the previous rebalance) and
# the net return after charging 10 bps per unit of one-sided turnover
# per leg. First rebalance charges a full build (turnover 1).
#
# Scale shape: membership is (date, leg, code); the previous-date
# mapping is a LAG over DISTINCT dates (calendar-bounded global window —
# ~250 rows/year, never data-sized); the kept-vs-replaced check is one
# equi join on (prev_date, leg, code). Everything else reuses the
# decile-LS aggregation. Fixed-point micro-units keep the return math
# engine-exact; turnover is a ratio of exact integer counts.
# ---------------------------------------------------------------------------
@query(
    "backtest_turnover_cost",
    oracle=f"""
    WITH {O_BARS},
    panel AS (
        SELECT code, d, close,
               close / LAG(close, 5) OVER w - 1 AS mom_5,
               LEAD(close) OVER w / close - 1 AS fwd_ret
        FROM bars
        WINDOW w AS (PARTITION BY code ORDER BY d)
    ), ranked AS (
        SELECT code, d, mom_5, fwd_ret,
               NTILE(10) OVER (PARTITION BY d ORDER BY mom_5, code) AS decile
        FROM panel WHERE mom_5 IS NOT NULL AND fwd_ret IS NOT NULL
    ), memb AS (
        SELECT d, CASE WHEN decile = 10 THEN 'L' ELSE 'S' END AS leg, code
        FROM ranked WHERE decile IN (1, 10)
    ), dl AS (
        SELECT d, LAG(d) OVER (ORDER BY d) AS prev_d
        FROM (SELECT DISTINCT d FROM memb)
    ), cur AS (
        SELECT memb.d, leg, code, prev_d FROM memb JOIN dl ON memb.d = dl.d
    ), tv AS (
        SELECT cur.d, cur.leg,
               1.0 - COUNT(p.code) / CAST(COUNT(*) AS DOUBLE) AS turnover
        FROM cur LEFT JOIN memb p
          ON p.d = cur.prev_d AND p.leg = cur.leg AND p.code = cur.code
        GROUP BY cur.d, cur.leg
    ), daily AS (
        SELECT d,
               SUM(CASE WHEN decile = 10 THEN CAST(ROUND(fwd_ret*{_RS},0) AS BIGINT) END)
                 / CAST(COUNT(CASE WHEN decile = 10 THEN 1 END) AS DOUBLE) / {_RS} AS long_ret,
               SUM(CASE WHEN decile = 1 THEN CAST(ROUND(fwd_ret*{_RS},0) AS BIGINT) END)
                 / CAST(COUNT(CASE WHEN decile = 1 THEN 1 END) AS DOUBLE) / {_RS} AS short_ret
        FROM ranked GROUP BY d
    )
    SELECT daily.d,
           FLOOR(tl.turnover*1000000 + 0.5)/1000000.0 AS to_long,
           FLOOR(ts.turnover*1000000 + 0.5)/1000000.0 AS to_short,
           FLOOR((long_ret - short_ret)*1000000 + 0.5)/1000000.0 AS ls_ret,
           FLOOR((long_ret - short_ret - 0.001*(tl.turnover + ts.turnover))*1000000 + 0.5)
             /1000000.0 AS net_ls
    FROM daily
    JOIN tv tl ON tl.d = daily.d AND tl.leg = 'L'
    JOIN tv ts ON ts.d = daily.d AND ts.leg = 'S'
    """,
)
def backtest_turnover_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    panel = bars.select(
        "code",
        "d",
        (F.col("close") / F.lag("close", 5).over(w) - 1).alias("mom_5"),
        (F.lead("close").over(w) / F.col("close") - 1).alias("fwd_ret"),
    ).filter(F.col("mom_5").isNotNull() & F.col("fwd_ret").isNotNull())
    ranked = panel.withColumn(
        "decile", F.ntile(10).over(Window.partitionBy("d").orderBy("mom_5", "code"))
    )
    memb = ranked.filter(F.col("decile").isin(1, 10)).select(
        "d",
        F.when(F.col("decile") == 10, F.lit("L")).otherwise(F.lit("S")).alias("leg"),
        "code",
    )
    # previous rebalance date: LAG over DISTINCT dates — calendar-bounded
    dl = (
        memb.select("d")
        .distinct()
        .withColumn("prev_d", F.lag("d").over(Window.orderBy("d")))
    )
    cur = memb.join(dl, "d")
    prev = memb.select(
        F.col("d").alias("pd"), F.col("leg").alias("pleg"), F.col("code").alias("pcode")
    )
    tv = (
        cur.join(
            prev,
            (F.col("prev_d") == F.col("pd"))
            & (F.col("leg") == F.col("pleg"))
            & (F.col("code") == F.col("pcode")),
            "left",
        )
        .groupBy("d", "leg")
        .agg((1.0 - F.count("pcode") / F.count(F.lit(1)).cast("double")).alias("turnover"))
    )
    micro = F.round(F.col("fwd_ret") * _RS, 0).cast("long")
    daily = ranked.groupBy("d").agg(
        (
            F.sum(F.when(F.col("decile") == 10, micro))
            / F.count(F.when(F.col("decile") == 10, F.lit(1))).cast("double")
            / _RS
        ).alias("long_ret"),
        (
            F.sum(F.when(F.col("decile") == 1, micro))
            / F.count(F.when(F.col("decile") == 1, F.lit(1))).cast("double")
            / _RS
        ).alias("short_ret"),
    )
    # explicit broadcast: tl/ts are calendar-bounded (one row per
    # rebalance date per leg), but they now derive from the bars LEAF,
    # whose LogicalRDD has no size statistics — Catalyst falls back to
    # SortMergeJoin without the hint (the one broadcast the r13 leaf
    # migration lost across all 293 plans; safe at any scale because the
    # relation is bounded by trading days, not data volume)
    tl = tv.filter(F.col("leg") == "L").select("d", F.col("turnover").alias("to_l"))
    ts = tv.filter(F.col("leg") == "S").select("d", F.col("turnover").alias("to_s"))
    ls = F.col("long_ret") - F.col("short_ret")
    return (
        daily.join(F.broadcast(tl), "d")
        .join(F.broadcast(ts), "d")
        .select(
            "d",
            round6(F.col("to_l")).alias("to_long"),
            round6(F.col("to_s")).alias("to_short"),
            round6(ls).alias("ls_ret"),
            round6(ls - 0.001 * (F.col("to_l") + F.col("to_s"))).alias("net_ls"),
        )
    )


# ---------------------------------------------------------------------------
# Fama-MacBeth cross-sectional regression (new r5): per date, the OLS
# slope/intercept of next-day return on the momentum factor across the
# universe — the first pass of the canonical factor-pricing test. The
# moments are computed from 1e4-quantized INTEGER sums (Σx, Σy, Σxy,
# Σx², n), so the closed-form beta = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is a
# ratio of exact integers on both engines. The 1e4 scale keeps
# n·Σx² ≲ 5·10¹⁵ for cross-sections up to ~10⁵ names — inside int64 on
# both engines; a production run past that lifts the moment sums to
# decimal(38) (Spark) / HUGEINT with the exact 2^32 hi/lo double split
# (DuckDB — its native HUGEINT→DOUBLE cast is not correctly rounded).
# Degenerate dates (zero factor variance) yield NULL by the exact
# integer gate.
#
# Scale shape: one entity-axis window pass for the factor/return panel,
# then ONE date-keyed partial aggregation (5 integer sums) — map-side
# combined, no per-date state beyond the accumulator.
# ---------------------------------------------------------------------------
_FM_S = 10_000


@query(
    "fama_macbeth_mom",
    oracle=f"""
    WITH {O_BARS},
    panel AS (
        SELECT code, d,
               close / LAG(close, 5) OVER w - 1 AS x,
               LEAD(close) OVER w / close - 1 AS y
        FROM bars
        WINDOW w AS (PARTITION BY code ORDER BY d)
    ), q AS (
        SELECT d,
               CAST(ROUND(x*{_FM_S},0) AS BIGINT) AS xq,
               CAST(ROUND(y*{_FM_S},0) AS BIGINT) AS yq
        FROM panel WHERE x IS NOT NULL AND y IS NOT NULL
    ), m AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(xq AS HUGEINT)) AS sx, SUM(CAST(yq AS HUGEINT)) AS sy,
               SUM(CAST(xq AS HUGEINT)*yq) AS sxy,
               SUM(CAST(xq AS HUGEINT)*xq) AS sxx
        FROM q GROUP BY d
    )
    SELECT d, n,
           CASE WHEN n*sxx - sx*sx <> 0 THEN
             FLOOR((CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))*1000000 + 0.5)/1000000.0
           END AS beta,
           CASE WHEN n*sxx - sx*sx <> 0 THEN
             FLOOR(((CAST(sy AS DOUBLE) - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                    / CAST(n AS DOUBLE) / {_FM_S})*1000000 + 0.5)/1000000.0
           END AS alpha
    FROM m
    """,
)
def fama_macbeth_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    panel = bars.select(
        "code",
        "d",
        (F.col("close") / F.lag("close", 5).over(w) - 1).alias("x"),
        (F.lead("close").over(w) / F.col("close") - 1).alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    xq = F.round(F.col("x") * _FM_S, 0).cast("long")
    yq = F.round(F.col("y") * _FM_S, 0).cast("long")
    xd, yd = F.col("xq").cast("decimal(20,0)"), F.col("yq").cast("decimal(20,0)")
    # decimal co-moments: a 1300-name day with 1e16-scale product sums
    # overflows n*sxy in int64 (DuckDB errors, Spark silently wraps —
    # caught by exercising the oracle at sf0.1 in round 10)
    m = panel.select("d", xq.alias("xq"), yq.alias("yq")).groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    ndec = F.col("n").cast("decimal(20,0)")
    den = ndec * F.col("sxx") - F.col("sx") * F.col("sx")
    num = ndec * F.col("sxy") - F.col("sx") * F.col("sy")
    beta = num.cast("double") / den.cast("double")
    alpha = (
        (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / _FM_S
    )
    gate = den != 0
    return m.select(
        "d",
        "n",
        F.when(gate, round6(beta)).alias("beta"),
        F.when(gate, round6(alpha)).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# Fama-MacBeth second pass (new r5): the time-series mean and t-statistic
# of the per-date cross-sectional betas — the number the factor-pricing
# test actually reports. The per-date betas are already 6dp-rounded
# engine-identical doubles, so quantizing them at 1e6 gives exact
# integer sums: mean, variance, and the t-stat are all ratios of exact
# integers before one final double sqrt/divide (identical IEEE on both
# engines). One date-keyed aggregate over the first pass, then a single
# global reduce of three integers — driver-free, any scale.
# ---------------------------------------------------------------------------
@query(
    "fama_macbeth_summary",
    oracle=f"""
    WITH {O_BARS},
    panel AS (
        SELECT code, d,
               close / LAG(close, 5) OVER w - 1 AS x,
               LEAD(close) OVER w / close - 1 AS y
        FROM bars
        WINDOW w AS (PARTITION BY code ORDER BY d)
    ), q AS (
        SELECT d,
               CAST(ROUND(x*{_FM_S},0) AS BIGINT) AS xq,
               CAST(ROUND(y*{_FM_S},0) AS BIGINT) AS yq
        FROM panel WHERE x IS NOT NULL AND y IS NOT NULL
    ), m AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(xq AS HUGEINT)) AS sx, SUM(CAST(yq AS HUGEINT)) AS sy,
               SUM(CAST(xq AS HUGEINT)*yq) AS sxy,
               SUM(CAST(xq AS HUGEINT)*xq) AS sxx
        FROM q GROUP BY d
    ), betas AS (
        SELECT d,
               CAST(ROUND((CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))*1000000, 0) AS BIGINT) AS bq
        FROM m WHERE n*sxx - sx*sx <> 0
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t_days,
               SUM(CAST(bq AS HUGEINT)) AS sb,
               SUM(CAST(bq AS HUGEINT)*bq) AS sbb
        FROM betas
    )
    SELECT t_days,
           FLOOR((CAST(sb AS DOUBLE) / t_days / 1000000)*1000000 + 0.5)/1000000.0 AS mean_beta,
           CASE WHEN t_days > 1 AND t_days*sbb - sb*sb > 0 THEN
             FLOOR(((CAST(sb AS DOUBLE) / t_days)
                    / sqrt(CAST(t_days*sbb - sb*sb AS DOUBLE) / t_days / (t_days - 1) / t_days))*1000000 + 0.5)
               /1000000.0
           END AS t_stat
    FROM agg
    """,
)
def fama_macbeth_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    panel = bars.select(
        "code",
        "d",
        (F.col("close") / F.lag("close", 5).over(w) - 1).alias("x"),
        (F.lead("close").over(w) / F.col("close") - 1).alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    xq = F.round(F.col("x") * _FM_S, 0).cast("long")
    yq = F.round(F.col("y") * _FM_S, 0).cast("long")
    xd, yd = F.col("xq").cast("decimal(20,0)"), F.col("yq").cast("decimal(20,0)")
    # decimal co-moments: a 1300-name day with 1e16-scale product sums
    # overflows n*sxy in int64 (DuckDB errors, Spark silently wraps —
    # caught by exercising the oracle at sf0.1 in round 10)
    m = panel.select("d", xq.alias("xq"), yq.alias("yq")).groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    ndec = F.col("n").cast("decimal(20,0)")
    den = ndec * F.col("sxx") - F.col("sx") * F.col("sx")
    num = ndec * F.col("sxy") - F.col("sx") * F.col("sy")
    betas = m.filter(den != 0).select(
        F.round(num.cast("double") / den.cast("double") * 1_000_000, 0)
        .cast("long")
        .alias("bq")
    )
    bqd = F.col("bq").cast("decimal(20,0)")
    agg = betas.agg(
        F.count(F.lit(1)).alias("t_days"),
        F.sum(bqd).alias("sb"),
        F.sum(bqd * bqd).alias("sbb"),
    )
    t_days = F.col("t_days")
    mean_b = F.col("sb").cast("double") / t_days / 1_000_000
    var_num = t_days.cast("decimal(20,0)") * F.col("sbb") - F.col("sb") * F.col("sb")
    se = F.sqrt(var_num.cast("double") / t_days / (t_days - 1) / t_days)
    return agg.select(
        "t_days",
        round6(mean_b).alias("mean_beta"),
        F.when(
            (t_days > 1) & (var_num > 0),
            round6((F.col("sb").cast("double") / t_days) / se),
        ).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# Event study — cumulative abnormal return around volume spikes (new
# r5): events are days where volume exceeds 2× the trailing 20-day
# average (≥10 prior days); for each event, the abnormal return
# (return minus the equal-weight market mean that day, both fixed-point)
# is cumulated over the event window [-2, +3] and averaged across events
# per offset — the standard CAR profile.
#
# Scale shape: one entity-axis window pass (return, trailing volume,
# row index), one date-keyed aggregate for the market mean (broadcast
# back), then each event explodes to its 6 window offsets and ONE hash
# join on (code, row index) fetches the window rows — never a range
# join, never per-event driver work. The per-event cumsum window is
# 6 rows wide. Edge events keep only their in-sample offsets (inner
# join) on both engines.
# ---------------------------------------------------------------------------
@query(
    "event_study_car",
    oracle=f"""
    WITH {O_BARS},
    panel0 AS (
        SELECT code, d, volume,
               close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1 AS ret,
               AVG(volume) OVER (PARTITION BY code ORDER BY d
                                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS vavg,
               COUNT(volume) OVER (PARTITION BY code ORDER BY d
                                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS vcnt
        FROM bars
    ), panel AS (
        SELECT code, d, volume, ret, vavg, vcnt,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY d) AS rn
        FROM panel0 WHERE ret IS NOT NULL
    ), mkt AS (
        SELECT d,
               SUM(CAST(ROUND(ret*100000000,0) AS BIGINT))
                 / CAST(COUNT(*) AS DOUBLE) / 100000000 AS mret
        FROM panel GROUP BY d
    ), pa AS (
        SELECT p.code, p.rn, p.volume, p.vavg, p.vcnt,
               CAST(ROUND((p.ret - mkt.mret)*100000000,0) AS BIGINT) AS aq
        FROM panel p JOIN mkt ON p.d = mkt.d
    ), ev AS (
        SELECT code, rn AS rn0 FROM pa
        WHERE vcnt >= 10 AND volume > 2 * vavg
    ), offs AS (
        SELECT code, rn0, UNNEST(range(-2, 4)) AS k FROM ev
    ), win AS (
        SELECT o.code, o.rn0, o.k, pa.aq
        FROM offs o JOIN pa ON pa.code = o.code AND pa.rn = o.rn0 + o.k
    ), car AS (
        SELECT code, rn0, k,
               SUM(aq) OVER (PARTITION BY code, rn0 ORDER BY k
                             ROWS UNBOUNDED PRECEDING) AS car_q
        FROM win
    )
    SELECT CAST(k AS BIGINT) AS offset,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           FLOOR((CAST(SUM(car_q) AS DOUBLE) / COUNT(*) / 100000000)*1000000 + 0.5)
             /1000000.0 AS avg_car
    FROM car GROUP BY k
    """,
)
def event_study_car(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    trail = w.rowsBetween(-20, -1)
    panel0 = bars.select(
        "code",
        "d",
        "volume",
        (F.col("close") / F.lag("close").over(w) - 1).alias("ret"),
        F.avg("volume").over(trail).alias("vavg"),
        F.count("volume").over(trail).alias("vcnt"),
    )
    panel = panel0.filter(F.col("ret").isNotNull()).withColumn(
        "rn", F.row_number().over(w)
    )
    retq = F.round(F.col("ret") * 100_000_000, 0).cast("long")
    mkt = panel.groupBy("d").agg(
        (F.sum(retq) / F.count(F.lit(1)).cast("double") / 100_000_000).alias("mret")
    )
    pa = panel.join(mkt, "d").select(
        "code",
        "rn",
        "volume",
        "vavg",
        "vcnt",
        F.round((F.col("ret") - F.col("mret")) * 100_000_000, 0)
        .cast("long")
        .alias("aq"),
    )
    ev = pa.filter((F.col("vcnt") >= 10) & (F.col("volume") > 2 * F.col("vavg"))).select(
        "code", F.col("rn").alias("rn0")
    )
    offs = ev.select(
        "code", "rn0", F.explode(F.sequence(F.lit(-2), F.lit(3))).alias("k")
    )
    pa_w = pa.select(
        F.col("code").alias("__wcode"), F.col("rn").alias("__wrn"), "aq"
    )
    win = offs.join(
        pa_w,
        (F.col("code") == F.col("__wcode"))
        & (F.col("__wrn") == F.col("rn0") + F.col("k")),
    ).select("code", "rn0", "k", "aq")
    cum = Window.partitionBy("code", "rn0").orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    car = win.withColumn("car_q", F.sum("aq").over(cum))
    return car.groupBy(F.col("k").cast("long").alias("offset")).agg(
        F.count(F.lit(1)).alias("n_events"),
        round6(
            F.sum("car_q").cast("double") / F.count(F.lit(1)) / 100_000_000
        ).alias("avg_car"),
    )


# ---------------------------------------------------------------------------
# VWAP slippage (new r5): per day, the cross-sectional distribution of
# close-vs-VWAP deviation — the execution-quality benchmark an intraday
# desk tracks. VWAP = amount/volume comes straight from the tick→bar
# aggregation's exact fixed-point amount; the deviation is 1e4-quantized
# so the per-day mean and sample std are ratios of exact integer sums on
# both engines (n·Σs² stays inside int64 for cross-sections to ~10⁶
# names at this scale).
#
# Scale shape: the bar build's (code, day) aggregate then ONE date-keyed
# aggregate of 3 integer sums — map-side combined, no window.
# ---------------------------------------------------------------------------
_VS = 10_000


@query(
    "vwap_slippage_daily",
    oracle=f"""
    WITH {O_BARS},
    s AS (
        SELECT d,
               CAST(ROUND((close / (amount / volume) - 1)*{_VS},0) AS BIGINT) AS sq
        FROM bars WHERE volume > 0 AND amount > 0
    ), m AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(sq AS HUGEINT)) AS ss,
               SUM(CAST(sq AS HUGEINT)*sq) AS sss
        FROM s GROUP BY d
    )
    SELECT d, n,
           FLOOR((CAST(ss AS DOUBLE) / n / {_VS})*1000000 + 0.5)/1000000.0 AS mean_slip,
           CASE WHEN n > 1 AND n*sss - ss*ss >= 0 THEN
             FLOOR((sqrt(CAST(n*sss - ss*ss AS DOUBLE) / n / (n - 1)) / {_VS})*1000000 + 0.5)
               /1000000.0
           END AS std_slip
    FROM m
    """,
)
def vwap_slippage_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    slip = F.col("close") / (F.col("amount") / F.col("volume")) - 1
    sq = F.round(slip * _VS, 0).cast("long")
    m = (
        bars.filter((F.col("volume") > 0) & (F.col("amount") > 0))
        .select("d", sq.alias("sq"))
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("sq").cast("decimal(20,0)")).alias("ss"),
            F.sum(
                F.col("sq").cast("decimal(20,0)") * F.col("sq").cast("decimal(20,0)")
            ).alias("sss"),
        )
    )
    n = F.col("n")
    # decimal accumulation: universe-sized day counts push n*sss past
    # int64 (same class as the fama_macbeth fix this round)
    var_num = n.cast("decimal(20,0)") * F.col("sss") - F.col("ss") * F.col("ss")
    return m.select(
        "d",
        "n",
        round6(F.col("ss").cast("double") / n / _VS).alias("mean_slip"),
        F.when(
            (n > 1) & (var_num >= 0),
            round6(F.sqrt(var_num.cast("double") / n / (n - 1)) / _VS),
        ).alias("std_slip"),
    )


# ---------------------------------------------------------------------------
# Pairs-trading spread (new r5): rolling 20-day OLS hedge ratio between
# the two lowest-numbered entities, the hedged spread, and its rolling
# z-score — the stat-arb signal loop. Every rolling moment (Σx, Σy, Σxy,
# Σx², Σs, Σs², n) is a window sum of exact 1e4-quantized integers, so
# beta, spread, and z are ratios of identical integers on both engines;
# degenerate windows (variance 0 or < 10 obs) gate to NULL exactly.
#
# Scale shape: the pair panel is two entities joined by date — a
# date-keyed equi join; the rolling windows are one ordered pass over
# the ~date-count rows. A production pairs scan fans this out over
# candidate pairs with the same per-pair plan.
# ---------------------------------------------------------------------------
@query(
    "pairs_spread_zscore",
    oracle=f"""
    WITH {O_BARS},
    two AS (
        SELECT code FROM (SELECT DISTINCT code FROM bars) ORDER BY code LIMIT 2
    ), rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1)*{_FM_S},0) AS BIGINT) AS rq
        FROM bars WHERE code IN (SELECT code FROM two)
        QUALIFY rq IS NOT NULL
    ), pair AS (
        SELECT a.d, a.rq AS xq, b.rq AS yq
        FROM rets a JOIN rets b ON a.d = b.d
        WHERE a.code = (SELECT MIN(code) FROM two)
          AND b.code = (SELECT MAX(code) FROM two)
    ), mom AS (
        SELECT d, xq, yq,
               COUNT(*) OVER w AS n,
               SUM(xq) OVER w AS sx, SUM(yq) OVER w AS sy,
               SUM(xq*yq) OVER w AS sxy, SUM(xq*xq) OVER w AS sxx
        FROM pair
        WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), beta AS (
        SELECT d, xq, yq, n,
               CASE WHEN n >= 10 AND n*sxx - sx*sx <> 0 THEN
                 CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
               END AS b
        FROM mom
    ), spread AS (
        SELECT d, n, b,
               CAST(ROUND((yq/{_FM_S}.0 - b * (xq/{_FM_S}.0))*1000000,0) AS BIGINT) AS sq
        FROM beta WHERE b IS NOT NULL
    ), smom AS (
        SELECT d, b, sq,
               COUNT(*) OVER w AS sn,
               SUM(sq) OVER w AS ssum, SUM(sq*sq) OVER w AS ssq
        FROM spread
        WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT d,
           FLOOR(b*1000000 + 0.5)/1000000.0 AS beta,
           FLOOR((sq/1000000.0)*1000000 + 0.5)/1000000.0 AS spread,
           CASE WHEN sn >= 10 AND sn*ssq - ssum*ssum > 0 THEN
             FLOOR(((sq - CAST(ssum AS DOUBLE)/sn)
                    / sqrt(CAST(sn*ssq - ssum*ssum AS DOUBLE) / sn / (sn - 1)))*1000000 + 0.5)
               /1000000.0
           END AS zscore
    FROM smom
    """,
)
def pairs_spread_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    two = [
        r["code"]
        for r in bars.select("code").distinct().orderBy("code").limit(2).collect()
    ]  # two scalars, the pair definition — not data-sized driver work
    if len(two) < 2:  # single-code panel: no pair exists — empty, like the oracle
        return spark.createDataFrame(
            [], "d date, beta double, spread double, zscore double"
        )
    w = Window.partitionBy("code").orderBy("d")
    rq = F.round((F.col("close") / F.lag("close").over(w) - 1) * _FM_S, 0).cast("long")
    rets = (
        bars.filter(F.col("code").isin(two))
        .select("code", "d", rq.alias("rq"))
        .filter(F.col("rq").isNotNull())
    )
    a = rets.filter(F.col("code") == two[0]).select("d", F.col("rq").alias("xq"))
    b = rets.filter(F.col("code") == two[1]).select("d", F.col("rq").alias("yq"))
    pair = a.join(b, "d")
    roll = Window.orderBy("d").rowsBetween(-19, 0)
    mom = pair.select(
        "d",
        "xq",
        "yq",
        F.count(F.lit(1)).over(roll).alias("n"),
        F.sum("xq").over(roll).alias("sx"),
        F.sum("yq").over(roll).alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).over(roll).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).over(roll).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    bcol = F.when(
        (F.col("n") >= 10) & (den != 0),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / den.cast("double"),
    )
    spread = (
        mom.withColumn("b", bcol)
        .filter(F.col("b").isNotNull())
        .withColumn(
            "sq",
            F.round(
                (F.col("yq") / float(_FM_S) - F.col("b") * (F.col("xq") / float(_FM_S)))
                * 1_000_000,
                0,
            ).cast("long"),
        )
    )
    smom = spread.select(
        "d",
        "b",
        "sq",
        F.count(F.lit(1)).over(roll).alias("sn"),
        F.sum("sq").over(roll).alias("ssum"),
        F.sum(F.col("sq") * F.col("sq")).over(roll).alias("ssq"),
    )
    sn = F.col("sn")
    var_num = sn * F.col("ssq") - F.col("ssum") * F.col("ssum")
    z = (F.col("sq") - F.col("ssum").cast("double") / sn) / F.sqrt(
        var_num.cast("double") / sn / (sn - 1)
    )
    return smom.select(
        "d",
        round6(F.col("b")).alias("beta"),
        round6(F.col("sq") / 1_000_000.0).alias("spread"),
        F.when((sn >= 10) & (var_num > 0), round6(z)).alias("zscore"),
    )


# ---------------------------------------------------------------------------
# Walk-forward validation splits (new r6): the rolling train/test window
# generator every backtest harness needs — split i trains on trading-day
# indices [5i, 5i+10) and tests on [5i+10, 5i+15), stepping 5 days, only
# complete splits emitted. Each split carries its date bounds and the
# fixed-point market mean return inside each leg, so a strategy's
# in-sample vs out-of-sample gap is read straight off the output.
#
# Scale shape: the day index is a calendar-bounded rank; the day→split
# expansion is a broadcast join against the split list (3 rows per day
# at these step sizes); leg returns reuse the per-day market aggregate
# (one date-keyed shuffle over the panel, market-return table is
# day-cardinality).
# ---------------------------------------------------------------------------
@query(
    "walkforward_splits",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1 AS ret
        FROM bars QUALIFY ret IS NOT NULL
    ),
    mkt AS (
        SELECT d,
               SUM(CAST(ROUND(ret*{_RS},0) AS BIGINT)) / CAST(COUNT(*) AS DOUBLE)
                   / {_RS} AS mkt_ret
        FROM rets GROUP BY d
    ),
    days AS (
        SELECT d, ROW_NUMBER() OVER (ORDER BY d) - 1 AS idx FROM (
            SELECT DISTINCT d FROM mkt
        )
    ),
    splits AS (
        SELECT CAST(idx / 5 AS BIGINT) AS split_id FROM days
        WHERE idx % 5 = 0 AND idx + 14 <= (SELECT MAX(idx) FROM days)
    ),
    legs AS (
        SELECT s.split_id, dd.d, dd.idx,
               CASE WHEN dd.idx < s.split_id * 5 + 10 THEN 'train'
                    ELSE 'test' END AS leg
        FROM splits s JOIN days dd
            ON dd.idx >= s.split_id * 5 AND dd.idx < s.split_id * 5 + 15
    )
    SELECT l.split_id,
           MIN(CASE WHEN leg = 'train' THEN l.d END) AS train_start,
           MAX(CASE WHEN leg = 'train' THEN l.d END) AS train_end,
           MIN(CASE WHEN leg = 'test' THEN l.d END) AS test_start,
           MAX(CASE WHEN leg = 'test' THEN l.d END) AS test_end,
           FLOOR((SUM(CASE WHEN leg = 'train'
                       THEN CAST(ROUND(m.mkt_ret*{_RS},0) AS BIGINT) END)
                  / 10.0 / {_RS}) * 1000000 + 0.5)/1000000.0 AS train_mkt_ret,
           FLOOR((SUM(CASE WHEN leg = 'test'
                       THEN CAST(ROUND(m.mkt_ret*{_RS},0) AS BIGINT) END)
                  / 5.0 / {_RS}) * 1000000 + 0.5)/1000000.0 AS test_mkt_ret
    FROM legs l JOIN mkt m ON l.d = m.d
    GROUP BY l.split_id
    """,
)
def walkforward_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "d", (F.col("close") / F.lag("close").over(w) - 1).alias("ret")
    ).filter(F.col("ret").isNotNull())
    micro = F.round(F.col("ret") * _RS, 0).cast("long")
    mkt = rets.groupBy("d").agg(
        (F.sum(micro) / F.count(F.lit(1)).cast("double") / _RS).alias("mkt_ret")
    )
    # calendar-bounded rank: one row per trading day
    days = mkt.select("d").withColumn(
        "idx", F.row_number().over(Window.orderBy("d")) - 1
    )
    n_days = days.count()  # bounded driver scalar (calendar size)
    n_splits = max(0, (n_days - 15) // 5 + 1)
    splits = spark.range(n_splits).select(F.col("id").alias("split_id"))
    legs = days.join(
        F.broadcast(splits),
        (F.col("idx") >= F.col("split_id") * 5)
        & (F.col("idx") < F.col("split_id") * 5 + 15),
    ).withColumn(
        "leg",
        F.when(F.col("idx") < F.col("split_id") * 5 + 10, "train").otherwise("test"),
    )
    mmicro = F.round(F.col("mkt_ret") * _RS, 0).cast("long")
    return (
        legs.join(mkt, "d")
        .groupBy("split_id")
        .agg(
            F.min(F.when(F.col("leg") == "train", F.col("d"))).alias("train_start"),
            F.max(F.when(F.col("leg") == "train", F.col("d"))).alias("train_end"),
            F.min(F.when(F.col("leg") == "test", F.col("d"))).alias("test_start"),
            F.max(F.when(F.col("leg") == "test", F.col("d"))).alias("test_end"),
            round6(
                F.sum(F.when(F.col("leg") == "train", mmicro)) / 10.0 / _RS
            ).alias("train_mkt_ret"),
            round6(
                F.sum(F.when(F.col("leg") == "test", mmicro)) / 5.0 / _RS
            ).alias("test_mkt_ret"),
        )
    )


# ---------------------------------------------------------------------------
# Purged K-fold CV splits with embargo (new r8): the walkforward sibling
# for non-sequential model selection — K=5 contiguous test folds over the
# trading calendar; train excludes (a) the PURGE day(s) whose 1-day
# forward-return label window overlaps the fold (the day immediately
# before test start, h=1) and (b) an EMBARGO of 2 days after test end
# (serial-correlation leakage from overlapping information). The split
# geometry every leakage-aware backtest harness needs (López de Prado,
# "Advances in Financial Machine Learning", ch. 7 — public reference).
#
# Fold boundaries are exact integer arithmetic (fold of day idx =
# floor(idx*K/T)), so both engines cut identical folds with no float
# rounding. Output carries per-role day counts and the fixed-point mean
# market return inside train/test, so in-sample vs out-of-sample drift is
# read straight off the result.
#
# Scale shape: identical to walkforward_splits — the panel collapses to
# the day-grain market series once (one date-keyed shuffle); folds are a
# K-row broadcast; every window/rank runs on the calendar-bounded day
# series.
# ---------------------------------------------------------------------------
@query(
    "purged_kfold_splits",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1 AS ret
        FROM bars QUALIFY ret IS NOT NULL
    ),
    mkt AS (
        SELECT d,
               SUM(CAST(ROUND(ret*{_RS},0) AS BIGINT)) / CAST(COUNT(*) AS DOUBLE)
                   / {_RS} AS mkt_ret
        FROM rets GROUP BY d
    ),
    days AS (
        SELECT d, ROW_NUMBER() OVER (ORDER BY d) - 1 AS idx FROM (
            SELECT DISTINCT d FROM mkt
        )
    ),
    tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM days),
    folds AS (SELECT UNNEST([0,1,2,3,4]) AS fold_id),
    bounds AS (
        SELECT fold_id,
               CAST((fold_id * t + 4) // 5 AS BIGINT) AS lo,
               CAST(((fold_id + 1) * t + 4) // 5 AS BIGINT) - 1 AS hi
        FROM folds, tn
    ),
    roles AS (
        SELECT b.fold_id, dd.d, dd.idx,
               CASE WHEN dd.idx BETWEEN b.lo AND b.hi THEN 'test'
                    WHEN dd.idx = b.lo - 1 THEN 'purged'
                    WHEN dd.idx > b.hi AND dd.idx <= b.hi + 2 THEN 'embargo'
                    ELSE 'train' END AS role
        FROM bounds b JOIN days dd ON TRUE
    )
    SELECT r.fold_id,
           MIN(CASE WHEN role = 'test' THEN r.d END) AS test_start,
           MAX(CASE WHEN role = 'test' THEN r.d END) AS test_end,
           CAST(count_if(role = 'test') AS BIGINT) AS n_test,
           CAST(count_if(role = 'train') AS BIGINT) AS n_train,
           CAST(count_if(role = 'purged') AS BIGINT) AS n_purged,
           CAST(count_if(role = 'embargo') AS BIGINT) AS n_embargo,
           FLOOR((SUM(CASE WHEN role = 'train'
                       THEN CAST(ROUND(m.mkt_ret*{_RS},0) AS BIGINT) END)
                  * 1.0 / count_if(role = 'train') / {_RS}) * 1000000 + 0.5)
               /1000000.0 AS train_mkt_ret,
           FLOOR((SUM(CASE WHEN role = 'test'
                       THEN CAST(ROUND(m.mkt_ret*{_RS},0) AS BIGINT) END)
                  * 1.0 / count_if(role = 'test') / {_RS}) * 1000000 + 0.5)
               /1000000.0 AS test_mkt_ret
    FROM roles r JOIN mkt m ON r.d = m.d
    GROUP BY r.fold_id
    """,
)
def purged_kfold_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "d", (F.col("close") / F.lag("close").over(w) - 1).alias("ret")
    ).filter(F.col("ret").isNotNull())
    micro = F.round(F.col("ret") * _RS, 0).cast("long")
    mkt = rets.groupBy("d").agg(
        (F.sum(micro) / F.count(F.lit(1)).cast("double") / _RS).alias("mkt_ret")
    )
    # calendar-bounded rank: one row per trading day
    days = mkt.select("d").withColumn(
        "idx", (F.row_number().over(Window.orderBy("d")) - 1).cast("long")
    )
    t = days.count()  # bounded driver scalar (calendar size)
    k, embargo = 5, 2
    folds = spark.range(k).select(F.col("id").alias("fold_id"))
    # exact integer fold boundaries: lo(f) = ceil(f*T/K), hi(f) = lo(f+1)-1
    bounds = folds.select(
        "fold_id",
        F.expr(f"(fold_id * {t} + {k - 1}) div {k}").alias("lo"),
        F.expr(f"((fold_id + 1) * {t} + {k - 1}) div {k} - 1").alias("hi"),
    )
    roles = days.crossJoin(F.broadcast(bounds)).withColumn(
        "role",
        F.when(F.col("idx").between(F.col("lo"), F.col("hi")), "test")
        .when(F.col("idx") == F.col("lo") - 1, "purged")
        .when(
            (F.col("idx") > F.col("hi")) & (F.col("idx") <= F.col("hi") + embargo),
            "embargo",
        )
        .otherwise("train"),
    )
    mmicro = F.round(F.col("mkt_ret") * _RS, 0).cast("long")
    is_tr = F.col("role") == "train"
    is_te = F.col("role") == "test"
    return (
        roles.join(mkt, "d")
        .groupBy("fold_id")
        .agg(
            F.min(F.when(is_te, F.col("d"))).alias("test_start"),
            F.max(F.when(is_te, F.col("d"))).alias("test_end"),
            F.count_if(is_te).alias("n_test"),
            F.count_if(is_tr).alias("n_train"),
            F.count_if(F.col("role") == "purged").alias("n_purged"),
            F.count_if(F.col("role") == "embargo").alias("n_embargo"),
            round6(
                F.sum(F.when(is_tr, mmicro)) * 1.0 / F.count_if(is_tr) / _RS
            ).alias("train_mkt_ret"),
            round6(
                F.sum(F.when(is_te, mmicro)) * 1.0 / F.count_if(is_te) / _RS
            ).alias("test_mkt_ret"),
        )
    )


# ---------------------------------------------------------------------------
# Brinson-Fachler attribution (new r6): per-date allocation / selection /
# interaction decomposition of an equal-weight momentum portfolio (top
# half of names by 5-day momentum) against the equal-weight universe
# benchmark, over the synthetic 5-sector IndClass (code % 5 — testdata
# has no industry dim, same convention as the alpha indneutralize
# family). The reference's sector-heatmap page answers "which sectors
# drove today" by eyeball; this is the arithmetic the page implies.
#
# Per date: alloc = Σ_s (wp_s − wb_s)·(rb_s − rb), sel = Σ_s wb_s·(rp_s
# − rb_s), inter = Σ_s (wp_s − wb_s)·(rp_s − rb_s); alloc + sel + inter
# = rp − rb exactly in fixed-point micro-units (identity asserted in the
# golden test).
#
# Scale shape: one date-keyed rank for membership, (d, sector)
# aggregates (map-side combined, sector-bounded output), then a
# date-keyed collapse. Every stage is keyed on d or (d, sector).
# ---------------------------------------------------------------------------
@query(
    "brinson_attribution",
    oracle=f"""
    WITH {O_BARS},
    panel AS (
        SELECT code, d,
               close / LAG(close, 5) OVER (PARTITION BY code ORDER BY d) - 1
                   AS mom_5,
               LEAD(close) OVER (PARTITION BY code ORDER BY d) / close - 1
                   AS fwd_ret
        FROM bars
        QUALIFY mom_5 IS NOT NULL AND fwd_ret IS NOT NULL
    ),
    ranked AS (
        SELECT *, code % 5 AS sector,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY mom_5 DESC, code)
                   AS rnk,
               COUNT(*) OVER (PARTITION BY d) AS n_univ
        FROM panel
    ),
    cells AS (
        SELECT d, sector,
               CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(count_if(rnk * 2 <= n_univ) AS BIGINT) AS np,
               SUM(CAST(ROUND(fwd_ret*{_RS},0) AS BIGINT)) AS rb_sum,
               SUM(CASE WHEN rnk * 2 <= n_univ
                        THEN CAST(ROUND(fwd_ret*{_RS},0) AS BIGINT) END) AS rp_sum,
               MAX(n_univ) AS n_univ
        FROM ranked GROUP BY d, sector
    ),
    tot AS (
        SELECT d, SUM(nb) AS nb_tot, SUM(np) AS np_tot,
               SUM(rb_sum) / CAST(SUM(nb) AS DOUBLE) / {_RS} AS rb
        FROM cells GROUP BY d
    ),
    eff AS (
        SELECT c.d,
               (CAST(c.np AS DOUBLE)/t.np_tot - CAST(c.nb AS DOUBLE)/t.nb_tot)
                 * (c.rb_sum / CAST(c.nb AS DOUBLE) / {_RS} - t.rb) AS alloc_s,
               (CAST(c.nb AS DOUBLE)/t.nb_tot)
                 * (COALESCE(c.rp_sum / CAST(NULLIF(c.np,0) AS DOUBLE) / {_RS},
                             c.rb_sum / CAST(c.nb AS DOUBLE) / {_RS})
                    - c.rb_sum / CAST(c.nb AS DOUBLE) / {_RS}) AS sel_s,
               (CAST(c.np AS DOUBLE)/t.np_tot - CAST(c.nb AS DOUBLE)/t.nb_tot)
                 * (COALESCE(c.rp_sum / CAST(NULLIF(c.np,0) AS DOUBLE) / {_RS},
                             c.rb_sum / CAST(c.nb AS DOUBLE) / {_RS})
                    - c.rb_sum / CAST(c.nb AS DOUBLE) / {_RS}) AS inter_s
        FROM cells c JOIN tot t ON c.d = t.d
    )
    SELECT d,
           FLOOR(SUM(CAST(ROUND(alloc_s*{_RS},0) AS BIGINT))/{_RS}.0*1000000 + 0.5)
             /1000000.0 AS allocation,
           FLOOR(SUM(CAST(ROUND(sel_s*{_RS},0) AS BIGINT))/{_RS}.0*1000000 + 0.5)
             /1000000.0 AS selection,
           FLOOR(SUM(CAST(ROUND(inter_s*{_RS},0) AS BIGINT))/{_RS}.0*1000000 + 0.5)
             /1000000.0 AS interaction
    FROM eff GROUP BY d
    """,
)
def brinson_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    panel = bars.select(
        "code",
        "d",
        (F.col("close") / F.lag("close", 5).over(w) - 1).alias("mom_5"),
        (F.lead("close").over(w) / F.col("close") - 1).alias("fwd_ret"),
    ).filter(F.col("mom_5").isNotNull() & F.col("fwd_ret").isNotNull())
    dwin = Window.partitionBy("d")
    ranked = panel.select(
        "d",
        "fwd_ret",
        (F.col("code") % 5).alias("sector"),
        F.row_number()
        .over(Window.partitionBy("d").orderBy(F.col("mom_5").desc(), "code"))
        .alias("rnk"),
        F.count(F.lit(1)).over(dwin).alias("n_univ"),
    )
    micro = F.round(F.col("fwd_ret") * _RS, 0).cast("long")
    in_p = F.col("rnk") * 2 <= F.col("n_univ")
    cells = ranked.groupBy("d", "sector").agg(
        F.count(F.lit(1)).alias("nb"),
        F.count_if(in_p).alias("np"),
        F.sum(micro).alias("rb_sum"),
        F.sum(F.when(in_p, micro)).alias("rp_sum"),
        F.max("n_univ").alias("n_univ"),
    )
    tot = cells.groupBy("d").agg(
        F.sum("nb").alias("nb_tot"),
        F.sum("np").alias("np_tot"),
        (F.sum("rb_sum") / F.sum("nb").cast("double") / _RS).alias("rb"),
    )
    rb_s = F.col("rb_sum") / F.col("nb").cast("double") / _RS
    rp_s = F.coalesce(
        F.col("rp_sum") / F.nullif(F.col("np"), F.lit(0)).cast("double") / _RS, rb_s
    )
    dw = F.col("np").cast("double") / F.col("np_tot") - F.col("nb").cast(
        "double"
    ) / F.col("nb_tot")
    eff = cells.join(tot, "d").select(
        "d",
        (dw * (rb_s - F.col("rb"))).alias("alloc_s"),
        ((F.col("nb").cast("double") / F.col("nb_tot")) * (rp_s - rb_s)).alias("sel_s"),
        (dw * (rp_s - rb_s)).alias("inter_s"),
    )
    fx = lambda c: F.sum(F.round(F.col(c) * _RS, 0).cast("long")) / float(_RS)
    return eff.groupBy("d").agg(
        round6(fx("alloc_s")).alias("allocation"),
        round6(fx("sel_s")).alias("selection"),
        round6(fx("inter_s")).alias("interaction"),
    )


# ---------------------------------------------------------------------------
# Per-date TWO-factor cross-sectional regression (new r6): fwd_ret on
# (5-day momentum, log dollar-volume liquidity), solved in closed form
# per date via the 2x2 normal equations — the estimation step of a
# multi-factor risk model, one date per output row (the Fama-MacBeth
# pair covers the single-regressor case; real factor models are
# multivariate). Determinism: every raw moment is an EXACT integer sum
# of 1e5-quantized values; the centered moments, Cramer solve, and R²
# are then the identical IEEE expression chain on both engines.
#
# Scale shape: one date-keyed aggregate carrying 9 integer moments —
# map-side combined, output is date-cardinality. No per-name second
# pass; everything downstream of the panel is arithmetic on the moment
# table.
# ---------------------------------------------------------------------------
_XS = 100_000  # quantization scale for regression inputs


@query(
    "cross_factor_regression",
    oracle=f"""
    WITH {O_BARS},
    panel AS (
        SELECT code, d,
               close / LAG(close, 5) OVER (PARTITION BY code ORDER BY d) - 1
                   AS x1,
               ln(GREATEST(amount, 1.0)) AS x2,
               LEAD(close) OVER (PARTITION BY code ORDER BY d) / close - 1
                   AS r
        FROM bars
        QUALIFY x1 IS NOT NULL AND r IS NOT NULL
    ),
    q AS (
        SELECT d,
               CAST(ROUND(x1*{_XS},0) AS BIGINT) AS qx,
               CAST(ROUND(x2*{_XS},0) AS BIGINT) AS qy,
               CAST(ROUND(r*{_XS},0) AS BIGINT) AS qr
        FROM panel
    ),
    m AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(qx) AS BIGINT) AS sx, CAST(SUM(qy) AS BIGINT) AS sy,
               CAST(SUM(qr) AS BIGINT) AS sr,
               CAST(SUM(qx*qx) AS BIGINT) AS sxx,
               CAST(SUM(qy*qy) AS BIGINT) AS syy,
               CAST(SUM(qx*qy) AS BIGINT) AS sxy,
               CAST(SUM(qx*qr) AS BIGINT) AS sxr,
               CAST(SUM(qy*qr) AS BIGINT) AS syr,
               CAST(SUM(qr*qr) AS BIGINT) AS srr
        FROM q GROUP BY d
    ),
    c AS (
        SELECT d, n,
               sxx/{_XS}.0/{_XS} - (sx/{_XS}.0)*(sx/{_XS}.0)/n AS cxx,
               syy/{_XS}.0/{_XS} - (sy/{_XS}.0)*(sy/{_XS}.0)/n AS cyy,
               sxy/{_XS}.0/{_XS} - (sx/{_XS}.0)*(sy/{_XS}.0)/n AS cxy,
               sxr/{_XS}.0/{_XS} - (sx/{_XS}.0)*(sr/{_XS}.0)/n AS cxr,
               syr/{_XS}.0/{_XS} - (sy/{_XS}.0)*(sr/{_XS}.0)/n AS cyr,
               srr/{_XS}.0/{_XS} - (sr/{_XS}.0)*(sr/{_XS}.0)/n AS crr
        FROM m
    ),
    b AS (
        SELECT d, n,
               (cyy*cxr - cxy*cyr) / (cxx*cyy - cxy*cxy) AS b1,
               (cxx*cyr - cxy*cxr) / (cxx*cyy - cxy*cxy) AS b2,
               cxr, cyr, crr
        FROM c WHERE (cxx*cyy - cxy*cxy) <> 0 AND crr > 0
    )
    SELECT d, n,
           FLOOR(b1*1000000 + 0.5)/1000000.0 AS beta_mom,
           FLOOR(b2*1000000 + 0.5)/1000000.0 AS beta_liq,
           FLOOR((1.0 - (crr - b1*cxr - b2*cyr)/crr)*1000000 + 0.5)/1000000.0
               AS r2
    FROM b
    """,
)
def cross_factor_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    panel = bars.select(
        "d",
        (F.col("close") / F.lag("close", 5).over(w) - 1).alias("x1"),
        F.log(F.greatest(F.col("amount"), F.lit(1.0))).alias("x2"),
        (F.lead("close").over(w) / F.col("close") - 1).alias("r"),
    ).filter(F.col("x1").isNotNull() & F.col("r").isNotNull())
    qx = F.round(F.col("x1") * _XS, 0).cast("long")
    qy = F.round(F.col("x2") * _XS, 0).cast("long")
    qr = F.round(F.col("r") * _XS, 0).cast("long")
    m = panel.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qx).alias("sx"),
        F.sum(qy).alias("sy"),
        F.sum(qr).alias("sr"),
        F.sum(qx * qx).alias("sxx"),
        F.sum(qy * qy).alias("syy"),
        F.sum(qx * qy).alias("sxy"),
        F.sum(qx * qr).alias("sxr"),
        F.sum(qy * qr).alias("syr"),
        F.sum(qr * qr).alias("srr"),
    )
    s = float(_XS)
    cen = lambda sab, sa, sb: F.col(sab) / s / _XS - (F.col(sa) / s) * (
        F.col(sb) / s
    ) / F.col("n")
    c = m.select(
        "d",
        "n",
        cen("sxx", "sx", "sx").alias("cxx"),
        cen("syy", "sy", "sy").alias("cyy"),
        cen("sxy", "sx", "sy").alias("cxy"),
        cen("sxr", "sx", "sr").alias("cxr"),
        cen("syr", "sy", "sr").alias("cyr"),
        cen("srr", "sr", "sr").alias("crr"),
    )
    det = F.col("cxx") * F.col("cyy") - F.col("cxy") * F.col("cxy")
    b = c.filter((det != 0) & (F.col("crr") > 0)).select(
        "d",
        "n",
        ((F.col("cyy") * F.col("cxr") - F.col("cxy") * F.col("cyr")) / det).alias("b1"),
        ((F.col("cxx") * F.col("cyr") - F.col("cxy") * F.col("cxr")) / det).alias("b2"),
        "cxr",
        "cyr",
        "crr",
    )
    return b.select(
        "d",
        "n",
        round6(F.col("b1")).alias("beta_mom"),
        round6(F.col("b2")).alias("beta_liq"),
        round6(
            1.0
            - (F.col("crr") - F.col("b1") * F.col("cxr") - F.col("b2") * F.col("cyr"))
            / F.col("crr")
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Volume anomaly detection (new r6): the monitoring pass over the panel
# — flag (code, day) cells whose volume z-score against the TRAILING
# 10-day window (current day excluded, min 5 observations) exceeds 3.
# Rolling mean/std via exact integer sums of the raw volumes, the
# z-score and threshold as one identical IEEE chain on both engines.
#
# Scale shape: one code-keyed ordered window, output bounded by true
# anomalies.
# ---------------------------------------------------------------------------
@query(
    "volume_anomaly_days",
    oracle=f"""
    WITH {O_BARS},
    w AS (
        SELECT code, d, volume,
               SUM(volume) OVER tw AS s,
               SUM(volume * volume) OVER tw AS s2,
               COUNT(*) OVER tw AS n
        FROM bars
        WINDOW tw AS (PARTITION BY code ORDER BY d
                      ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
        SELECT code, d, CAST(volume AS BIGINT) AS volume,
               CAST(s AS DOUBLE) / n AS mu,
               sqrt(GREATEST(CAST(s2 AS DOUBLE) / n
                    - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0))
                   AS sigma,
               n
        FROM w WHERE n >= 5
    )
    SELECT code, d, volume,
           FLOOR(((volume - mu) / sigma) * 1000000 + 0.5)/1000000.0 AS zscore
    FROM z
    WHERE sigma > 0 AND abs((volume - mu) / sigma) > 3
    """,
)
def volume_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    tw = (
        Window.partitionBy("code").orderBy("d").rowsBetween(-10, -1)
    )
    w = bars.select(
        "code",
        "d",
        F.col("volume").cast("long").alias("volume"),
        F.sum("volume").over(tw).alias("s"),
        F.sum(F.col("volume") * F.col("volume")).over(tw).alias("s2"),
        F.count(F.lit(1)).over(tw).alias("n"),
    ).filter(F.col("n") >= 5)
    mu = F.col("s").cast("double") / F.col("n")
    sigma = F.sqrt(
        F.greatest(F.col("s2").cast("double") / F.col("n") - mu * mu, F.lit(0.0))
    )
    z = (F.col("volume") - mu) / sigma
    return (
        w.filter((sigma > 0) & (F.abs(z) > 3))
        .select("code", "d", "volume", round6(z).alias("zscore"))
    )


# ---------------------------------------------------------------------------
# Panel gap report (new r6): data-completeness check pairing the
# constraint suite — per code, observed days vs the trading-calendar
# span (distinct days in the whole panel between the code's first and
# last observation), missing count, and the longest consecutive-day gap
# (via the day-index lag within the code). A silently sparse feed is
# the classic backtest poison; this is the report that catches it.
#
# Scale shape: the calendar is a date-cardinality broadcast; per-code
# stats are one keyed window + aggregate.
# ---------------------------------------------------------------------------
@query(
    "panel_gap_report",
    oracle=f"""
    WITH {O_BARS},
    cal AS (
        SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS idx FROM (
            SELECT DISTINCT d FROM bars
        )
    ),
    obs AS (
        SELECT b.code, b.d, c.idx,
               LAG(c.idx) OVER (PARTITION BY b.code ORDER BY b.d) AS prev_idx
        FROM bars b JOIN cal c ON b.d = c.d
    )
    SELECT code,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(MAX(idx) - MIN(idx) + 1 AS BIGINT) AS span_days,
           CAST(MAX(idx) - MIN(idx) + 1 - COUNT(*) AS BIGINT) AS n_missing,
           CAST(COALESCE(MAX(idx - prev_idx - 1), 0) AS BIGINT) AS max_gap
    FROM obs GROUP BY code
    HAVING MAX(idx) - MIN(idx) + 1 - COUNT(*) > 0
    """,
)
def panel_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir).select("code", "d")
    cal = (
        bars.select("d")
        .distinct()
        .withColumn("idx", F.row_number().over(Window.orderBy("d")))
    )
    obs = bars.join(F.broadcast(cal), "d").withColumn(
        "prev_idx",
        F.lag("idx").over(Window.partitionBy("code").orderBy("d")),
    )
    span = F.max("idx") - F.min("idx") + 1
    return (
        obs.groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            span.cast("long").alias("span_days"),
            (span - F.count(F.lit(1))).cast("long").alias("n_missing"),
            F.coalesce(
                F.max(F.col("idx") - F.col("prev_idx") - 1), F.lit(0)
            ).cast("long").alias("max_gap"),
        )
        .filter(F.col("n_missing") > 0)
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast evaluation (new r6): the baseline every volume
# forecast must beat — predict volume_t as volume_{t-5} (weekly
# seasonal naive) and score MAE and MAPE per code over the days where
# the lag exists. Errors are exact integer arithmetic (volumes are
# integral); only the final means divide.
#
# Scale shape: one code-keyed lag window + one code-keyed aggregate.
# ---------------------------------------------------------------------------
@query(
    "forecast_eval_naive",
    oracle=f"""
    WITH {O_BARS},
    p AS (
        SELECT code, d, CAST(volume AS BIGINT) AS y,
               CAST(LAG(volume, 5) OVER (PARTITION BY code ORDER BY d) AS BIGINT)
                   AS yhat
        FROM bars QUALIFY yhat IS NOT NULL
    )
    SELECT code, CAST(COUNT(*) AS BIGINT) AS n_eval,
           FLOOR((CAST(SUM(abs(y - yhat)) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5)
               /1000000.0 AS mae,
           FLOOR((CAST(SUM(CASE WHEN y > 0
                       THEN CAST(ROUND(abs(y - yhat) / CAST(y AS DOUBLE)
                                       * 1000000000, 0) AS BIGINT) END) AS DOUBLE)
                  / 1000000000 / count_if(y > 0)) * 1000000 + 0.5)
               /1000000.0 AS mape
    FROM p GROUP BY code
    """,
)
def forecast_eval_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    p = bars.select(
        "code",
        "d",
        F.col("volume").cast("long").alias("y"),
        F.lag("volume", 5).over(w).cast("long").alias("yhat"),
    ).filter(F.col("yhat").isNotNull())
    err = F.abs(F.col("y") - F.col("yhat"))
    return p.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_eval"),
        round6(F.sum(err).cast("double") / F.count(F.lit(1))).alias("mae"),
        # fixed-point accumulation: a raw double sum is order-dependent
        round6(
            F.sum(
                F.when(
                    F.col("y") > 0,
                    F.round(err / F.col("y").cast("double") * 1_000_000_000, 0).cast(
                        "long"
                    ),
                )
            ).cast("double")
            / 1_000_000_000
            / F.count_if(F.col("y") > 0)
        ).alias("mape"),
    )


# ---------------------------------------------------------------------------
# M4 chart downsampling (new r6): the width-aware line-chart reduction
# of Jugel et al., "M4: A Visualization-Oriented Time Series Data
# Aggregation" (PVLDB 7(10), 2014) — split each code's close series
# into W = 16 equal-count pixel buckets and keep the first / last /
# min / max points of each bucket, which provably preserves the
# rasterized line. The serving-side op a dashboard (the reference's
# K-line pages) calls instead of shipping the raw series. Close values
# quantize to cents and every pick is a row_number with a full (value,
# date) tie-break, so the selected points are engine-exact.
#
# Scale shape: one code-keyed index window, four rank columns inside
# one (code, bucket) window pass, then a (code, bucket) conditional
# aggregate — output is code x W x 4 points regardless of series
# length.
# ---------------------------------------------------------------------------
_M4_W = 16


@query(
    "m4_downsample_close",
    oracle=f"""
    WITH {O_BARS},
    idx AS (
        SELECT code, d,
               CAST(FLOOR(close*100 + 0.5) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY d) - 1 AS i,
               COUNT(*) OVER (PARTITION BY code) AS n
        FROM bars
    ),
    b AS (
        SELECT code, d, cents,
               CAST(FLOOR(i * {_M4_W} * 1.0 / n) AS BIGINT) AS bucket
        FROM idx
    ),
    r AS (
        SELECT code, bucket, d, cents,
               ROW_NUMBER() OVER (PARTITION BY code, bucket ORDER BY d) AS rf,
               ROW_NUMBER() OVER (PARTITION BY code, bucket ORDER BY d DESC) AS rl,
               ROW_NUMBER() OVER (PARTITION BY code, bucket ORDER BY cents, d) AS rmin,
               ROW_NUMBER() OVER (PARTITION BY code, bucket ORDER BY cents DESC, d) AS rmax
        FROM b
    )
    SELECT code, bucket,
           MAX(CASE WHEN rf = 1 THEN d END) AS d_first,
           MAX(CASE WHEN rf = 1 THEN cents END) AS v_first,
           MAX(CASE WHEN rl = 1 THEN d END) AS d_last,
           MAX(CASE WHEN rl = 1 THEN cents END) AS v_last,
           MAX(CASE WHEN rmin = 1 THEN d END) AS d_min,
           MAX(CASE WHEN rmin = 1 THEN cents END) AS v_min,
           MAX(CASE WHEN rmax = 1 THEN d END) AS d_max,
           MAX(CASE WHEN rmax = 1 THEN cents END) AS v_max
    FROM r GROUP BY code, bucket
    """,
)
def m4_downsample_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    cw = Window.partitionBy("code")
    idx = bars.select(
        "code",
        "d",
        F.floor(F.col("close") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        (F.row_number().over(cw.orderBy("d")) - 1).alias("i"),
        F.count(F.lit(1)).over(cw).alias("n"),
    )
    b = idx.select(
        "code", "d", "cents",
        F.floor(F.col("i") * _M4_W / F.col("n")).cast("long").alias("bucket"),
    )
    pb = Window.partitionBy("code", "bucket")
    r = b.select(
        "code", "bucket", "d", "cents",
        F.row_number().over(pb.orderBy("d")).alias("rf"),
        F.row_number().over(pb.orderBy(F.col("d").desc())).alias("rl"),
        F.row_number().over(pb.orderBy("cents", "d")).alias("rmin"),
        F.row_number().over(pb.orderBy(F.col("cents").desc(), "d")).alias("rmax"),
    )
    pick = lambda rn, c: F.max(F.when(F.col(rn) == 1, F.col(c)))
    return r.groupBy("code", "bucket").agg(
        pick("rf", "d").alias("d_first"),
        pick("rf", "cents").alias("v_first"),
        pick("rl", "d").alias("d_last"),
        pick("rl", "cents").alias("v_last"),
        pick("rmin", "d").alias("d_min"),
        pick("rmin", "cents").alias("v_min"),
        pick("rmax", "d").alias("d_max"),
        pick("rmax", "cents").alias("v_max"),
    )


# ---------------------------------------------------------------------------
# Top correlated pairs (new r6): the pairs-trading candidate scan —
# Pearson correlation of daily returns for every code pair (a < b) with
# >= 20 overlapping days, top 15 by 6dp-rounded correlation with full
# tie-breaks. Upstream of pairs_spread_zscore, which takes one chosen
# pair; this is how the pair gets chosen.
#
# Scale shape: a date-keyed self-join fans out to universe² rows per
# day — bounded by the NAME UNIVERSE (thousands), not the row count, so
# the join grows with names², never with history length. A 100 TB
# deployment blocks the pair domain (sector × sector, or factor-model
# shrinkage) before the join; the corr aggregate itself is one
# map-side-combined shuffle on the pair key. corr is rounded to 6dp on
# both engines per the registry convention (cross-engine and
# partial-agg error ~1e-12, far inside the rounding).
# ---------------------------------------------------------------------------
@query(
    "top_correlated_pairs",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1 AS ret
        FROM bars QUALIFY ret IS NOT NULL
    ),
    pairs AS (
        SELECT a.code AS code_a, b.code AS code_b,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               FLOOR(corr(a.ret, b.ret) * 1000000 + 0.5)/1000000.0 AS c
        FROM rets a JOIN rets b ON a.d = b.d AND a.code < b.code
        GROUP BY a.code, b.code
        HAVING COUNT(*) >= 20 AND corr(a.ret, b.ret) IS NOT NULL
    )
    SELECT code_a, code_b, n_days, c AS correlation
    FROM pairs
    ORDER BY c DESC, code_a, code_b
    LIMIT 15
    """,
)
def top_correlated_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import managed_persist

    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = managed_persist(
        bars.select(
            "code", "d", (F.col("close") / F.lag("close").over(w) - 1).alias("ret")
        ).filter(F.col("ret").isNotNull())
    )
    a = rets.select(
        F.col("code").alias("code_a"), "d", F.col("ret").alias("ret_a")
    )
    b = rets.select(
        F.col("code").alias("code_b"), F.col("d").alias("d_b"), F.col("ret").alias("ret_b")
    )
    joined = a.join(
        b, (F.col("d") == F.col("d_b")) & (F.col("code_a") < F.col("code_b"))
    )
    pairs = (
        joined.groupBy("code_a", "code_b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.corr("ret_a", "ret_b").alias("__c"),
        )
        .filter((F.col("n_days") >= 20) & F.col("__c").isNotNull())
    )
    return (
        pairs.select(
            "code_a", "code_b", "n_days", round6(F.col("__c")).alias("correlation")
        )
        .orderBy(F.col("correlation").desc(), "code_a", "code_b")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Pair-domain blocking (new r11): the registered production form of the
# universe²-bounded candidate scan that top_correlated_pairs /
# cointegration_screen / granger_causality_screen document as "blocked
# by sector at 100 TB". The block key is code % n_blocks with the block
# COUNT sized from the universe (`_pair_blocks`: ~_PAIR_BLOCK_TARGET
# names per block), so per-block pair mass is constant and the candidate
# scan is universe-LINEAR — the measured 10× replica numbers: pair
# domain 112M → 3.25M, candidate wall ~90 s → 7.9 s (SCALING.md). A
# fixed block COUNT would be the fixed-cardinality blocking-key defect
# (per-block population ∝ universe ⇒ quadratic pair mass — the
# dedup_simhash_wide / planes_for_corpus story); sizing the count from
# the universe is what makes it the production path. "Candidate pair"
# formally means same-block AND a.code < b.code — the block restriction
# is part of the operator definition both engines share, exactly like
# the SRP-bucket neighborhoods in embedding_dbscan_core.
#
# The universe count is one driver-side metadata-cheap aggregate per
# session and events version (a `session_table`) — an index-build
# parameter, same class as the dedup family's _n_docs.
# ---------------------------------------------------------------------------
_PAIR_BLOCK_TARGET = 32  # names per block; block count = ceil(universe/32)

def _n_codes(spark: SparkSession, sf_dir: str) -> int:
    from ..session import session_table
    from ..sources.catalog import load_table, table_path

    return session_table(
        spark,
        "n_codes",
        (table_path(sf_dir, "events"),),
        (sf_dir,),
        lambda: load_table(spark, sf_dir, "events").select("user_id").distinct().count(),
    )


def _pair_blocks(spark: SparkSession, sf_dir: str) -> int:
    """Block count for the pair-domain candidate scan: exact-integer
    ceil(universe / _PAIR_BLOCK_TARGET), min 1 — the oracle's nblk CTE
    re-derives the identical integer."""
    n = _n_codes(spark, sf_dir)
    return max(1, (n + _PAIR_BLOCK_TARGET - 1) // _PAIR_BLOCK_TARGET)


_O_NBLK = f"""nblk AS (
        SELECT GREATEST(1, (COUNT(DISTINCT user_id) + {_PAIR_BLOCK_TARGET - 1})
                           // {_PAIR_BLOCK_TARGET}) AS nb
        FROM events
    )"""


def _o_cand(blocked: bool, limit: int, with_days: bool = True) -> str:
    """The candidate CTE shared by the pair-screen family. `blocked`
    adds the block-key equi-predicate (requires _O_NBLK in scope)."""
    blk = (
        " AND a.code % (SELECT nb FROM nblk) = b.code % (SELECT nb FROM nblk)"
        if blocked
        else ""
    )
    days = "CAST(COUNT(*) AS BIGINT) AS n_days,\n               " if with_days else ""
    return f"""cand AS (
        SELECT a.code AS ca, b.code AS cb,
               {days}FLOOR(corr(a.ret, b.ret) * 1000000 + 0.5)/1000000.0 AS c
        FROM rets a JOIN rets b ON a.d = b.d AND a.code < b.code{blk}
        GROUP BY a.code, b.code
        HAVING COUNT(*) >= 20 AND corr(a.ret, b.ret) IS NOT NULL
        ORDER BY c DESC, ca, cb LIMIT {limit}
    )"""


def _cand_pairs(
    rets: DataFrame, n_blocks: int | None, limit: int, with_days: bool = True
) -> DataFrame:
    """Spark twin of _o_cand: top-`limit` return-correlated pairs, with
    the candidate domain restricted to code-hash blocks when `n_blocks`
    is given (the block key joins as an extra hash-join key, so the
    shuffle co-locates (d, blk) and the fan-out is Σ block² per day, not
    universe²)."""
    a_cols = [F.col("code").alias("ca"), F.col("d").alias("d"), F.col("ret").alias("ret_a")]
    b_cols = [
        F.col("code").alias("cb"),
        F.col("d").alias("d_b"),
        F.col("ret").alias("ret_b"),
    ]
    if n_blocks is not None:
        a_cols.append((F.col("code") % n_blocks).alias("blk"))
        b_cols.append((F.col("code") % n_blocks).alias("blk_b"))
    a = rets.select(*a_cols)
    b = rets.select(*b_cols)
    cond = (F.col("d") == F.col("d_b")) & (F.col("ca") < F.col("cb"))
    if n_blocks is not None:
        cond = cond & (F.col("blk") == F.col("blk_b"))
    cand = (
        a.join(b, cond)
        .groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).alias("n_days"), F.corr("ret_a", "ret_b").alias("__c"))
        .filter((F.col("n_days") >= 20) & F.col("__c").isNotNull())
    )
    sel = ["ca", "cb"]
    if with_days:
        sel.append("n_days")
    return (
        cand.select(*sel, round6(F.col("__c")).alias("c"))
        .orderBy(F.col("c").desc(), "ca", "cb")
        .limit(limit)
    )


@query(
    "top_correlated_pairs_blocked",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1 AS ret
        FROM bars QUALIFY ret IS NOT NULL
    ),
    {_O_NBLK},
    {_o_cand(blocked=True, limit=15)}
    SELECT ca AS code_a, cb AS code_b, n_days, c AS correlation
    FROM cand
    """,
)
def top_correlated_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked production twin of top_correlated_pairs — see the
    pair-domain blocking block comment above."""
    from ..session import managed_persist

    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = managed_persist(
        bars.select(
            "code", "d", (F.col("close") / F.lag("close").over(w) - 1).alias("ret")
        ).filter(F.col("ret").isNotNull())
    )
    cand = _cand_pairs(rets, _pair_blocks(spark, sf_dir), limit=15)
    return cand.select(
        F.col("ca").alias("code_a"),
        F.col("cb").alias("code_b"),
        "n_days",
        F.col("c").alias("correlation"),
    )


# ---------------------------------------------------------------------------
# Robust (median/MAD) volume outliers (new r6): the heavy-tail-safe
# complement to volume_anomaly_days — per code, the volume median, the
# median absolute deviation, and the count of days whose robust z-score
# |v − med| / (1.4826·MAD) exceeds 3. Medians are exact interpolated
# percentiles over integer volumes on both engines; MAD degenerate
# codes (MAD = 0) report outliers as NULL rather than dividing by zero.
#
# Scale shape: two code-keyed exact-percentile aggregates (the second
# over |v − med|) and one code-keyed count — no window, no sort beyond
# the percentile's own.
# ---------------------------------------------------------------------------
@query(
    "robust_volume_outliers",
    oracle=f"""
    WITH {O_BARS},
    med AS (
        SELECT code, median(CAST(volume AS BIGINT)) AS med
        FROM bars GROUP BY code
    ),
    dev AS (
        SELECT b.code, CAST(b.volume AS BIGINT) AS v, m.med,
               abs(CAST(b.volume AS BIGINT) - m.med) AS adev
        FROM bars b JOIN med m ON b.code = m.code
    ),
    mad AS (
        SELECT code, median(adev) AS mad FROM dev GROUP BY code
    )
    SELECT d.code,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           FLOOR(MAX(d.med)*1000000 + 0.5)/1000000.0 AS med_volume,
           FLOOR(MAX(m.mad)*1000000 + 0.5)/1000000.0 AS mad_volume,
           CASE WHEN MAX(m.mad) > 0
                THEN CAST(count_if(d.adev > 3 * 1.4826 * m.mad) AS BIGINT)
                END AS n_outliers
    FROM dev d JOIN mad m ON d.code = m.code
    GROUP BY d.code
    """,
)
def robust_volume_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import round6

    bars = bars_table(spark, sf_dir).select(
        "code", F.col("volume").cast("long").alias("v")
    )
    med = bars.groupBy("code").agg(
        F.percentile("v", F.lit(0.5)).alias("med")
    )
    dev = bars.join(med, "code").withColumn(
        "adev", F.abs(F.col("v") - F.col("med"))
    )
    mad = dev.groupBy("code").agg(F.percentile("adev", F.lit(0.5)).alias("mad"))
    joined = dev.join(mad, "code")
    return joined.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_days"),
        round6(F.max("med")).alias("med_volume"),
        round6(F.max("mad")).alias("mad_volume"),
        F.when(
            F.max("mad") > 0,
            F.count_if(F.col("adev") > 3 * 1.4826 * F.col("mad")),
        ).alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# Market concentration (new r6): per-day Herfindahl-Hirschman index of
# dollar-volume shares plus the top-5 names' share — the market-
# structure metric behind "is today's volume broad or concentrated".
# Shares are exact integer amount-cents over the day total; HHI
# accumulates per-name share² as 1e-12-quantized integers so the
# day-level sum is order-independent.
#
# Scale shape: one date-keyed aggregate for totals, one date-keyed
# rank for the top-5 share, one date-keyed collapse — output is
# calendar-sized.
# ---------------------------------------------------------------------------
@query(
    "market_concentration_daily",
    oracle=f"""
    WITH {O_BARS},
    amt AS (
        SELECT d, code, CAST(FLOOR(amount*100 + 0.5) AS BIGINT) AS ac
        FROM bars WHERE amount > 0
    ),
    tot AS (
        SELECT d, CAST(SUM(ac) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS n_names
        FROM amt GROUP BY d
    ),
    shares AS (
        SELECT a.d, a.ac, t.t, t.n_names,
               ROW_NUMBER() OVER (PARTITION BY a.d
                   ORDER BY a.ac DESC, a.code) AS rnk
        FROM amt a JOIN tot t ON a.d = t.d
    )
    SELECT d, CAST(MAX(n_names) AS BIGINT) AS n_names,
           FLOOR((SUM(CAST(ROUND((CAST(ac AS DOUBLE)/t)*(CAST(ac AS DOUBLE)/t)
                  * 1000000000000, 0) AS BIGINT)) / 1000000000000.0)
                 * 1000000 + 0.5)/1000000.0 AS hhi,
           FLOOR((CAST(SUM(CASE WHEN rnk <= 5 THEN ac END) AS DOUBLE)
                  / MAX(t)) * 1000000 + 0.5)/1000000.0 AS top5_share
    FROM shares GROUP BY d
    """,
)
def market_concentration_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import round6

    bars = bars_table(spark, sf_dir).filter(F.col("amount") > 0)
    amt = bars.select(
        "d", "code", F.floor(F.col("amount") * 100 + F.lit(0.5)).cast("long").alias("ac")
    )
    tot = amt.groupBy("d").agg(
        F.sum("ac").alias("t"), F.count(F.lit(1)).alias("n_names")
    )
    shares = amt.join(tot, "d").withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("d").orderBy(F.col("ac").desc(), "code")
        ),
    )
    share = F.col("ac").cast("double") / F.col("t")
    hhi_term = F.round(share * share * 1_000_000_000_000, 0).cast("long")
    return shares.groupBy("d").agg(
        F.max("n_names").alias("n_names"),
        round6(F.sum(hhi_term) / 1_000_000_000_000.0).alias("hhi"),
        round6(
            F.sum(F.when(F.col("rnk") <= 5, F.col("ac"))).cast("double") / F.max("t")
        ).alias("top5_share"),
    )


# ---------------------------------------------------------------------------
# IC decay profile (new r6): the factor-research readout of how fast a
# signal's information decays — mean daily Spearman rank IC of 5-day
# momentum against FORWARD returns at horizons 1..5. Average-tie ranks
# are computed arithmetically (RANK + (ties-1)/2 — identical integer
# math on both engines), per-day ICs round to 6dp, and the per-horizon
# mean accumulates those rounded ICs in fixed point.
#
# Scale shape: the horizon axis unpivots to long (5× the panel), then
# every stage is keyed on (horizon, date) — the same one-shuffle IC
# shape as rank_ic_matrix with horizon replacing the factor axis.
# ---------------------------------------------------------------------------
@query(
    "ic_decay_profile",
    oracle=f"""
    WITH {O_BARS},
    panel AS (
        SELECT code, d,
               close / LAG(close, 5) OVER (PARTITION BY code ORDER BY d) - 1
                   AS mom,
               {", ".join(
                   f"LEAD(close, {h}) OVER (PARTITION BY code ORDER BY d) / close - 1 AS f{h}"
                   for h in range(1, 6)
               )}
        FROM bars QUALIFY mom IS NOT NULL
    ),
    longf AS (
        {" UNION ALL ".join(
            f"SELECT code, d, mom, {h} AS h, f{h} AS fwd FROM panel WHERE f{h} IS NOT NULL"
            for h in range(1, 6)
        )}
    ),
    ranked AS (
        SELECT h, d,
               RANK() OVER (PARTITION BY h, d ORDER BY mom)
                 + (COUNT(*) OVER (PARTITION BY h, d, mom) - 1) / 2.0 AS rm,
               RANK() OVER (PARTITION BY h, d ORDER BY fwd)
                 + (COUNT(*) OVER (PARTITION BY h, d, fwd) - 1) / 2.0 AS rf
        FROM longf
    ),
    daily AS (
        SELECT h, d,
               FLOOR(corr(rm, rf)*1000000 + 0.5)/1000000.0 AS ic
        FROM ranked GROUP BY h, d
        HAVING corr(rm, rf) IS NOT NULL
    )
    SELECT h AS horizon, CAST(COUNT(*) AS BIGINT) AS n_days,
           FLOOR((SUM(CAST(ROUND(ic*1000000,0) AS BIGINT)) / 1000000.0
                  / COUNT(*)) * 1000000 + 0.5)/1000000.0 AS mean_ic
    FROM daily GROUP BY h
    """,
)
def ic_decay_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import round6

    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    panel = bars.select(
        "code",
        "d",
        (F.col("close") / F.lag("close", 5).over(w) - 1).alias("mom"),
        *[
            (F.lead("close", h).over(w) / F.col("close") - 1).alias(f"f{h}")
            for h in range(1, 6)
        ],
    ).filter(F.col("mom").isNotNull())
    # One explode over the 5 horizon columns, not a 5-way union of
    # filters over `panel`: each union branch re-planned the whole
    # bars→window subtree, so the r12 plan ran the 6-expression lag/lead
    # window FIVE times (10 parquet scans). The array elements are plain
    # window-output attributes (no recomputation inside Generate), and
    # `h` stays a literal per element so the rows are identical to the
    # union's (optimization round r13, guide §7.2 duplicated subtrees).
    longf = (
        panel.select(
            "d",
            "mom",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(h).alias("h"), F.col(f"f{h}").alias("fwd")
                        )
                        for h in range(1, 6)
                    ]
                )
            ).alias("e"),
        )
        .select("d", "mom", F.col("e.h").alias("h"), F.col("e.fwd").alias("fwd"))
        .filter(F.col("fwd").isNotNull())
    )
    avg_rank = lambda c: (
        F.rank().over(Window.partitionBy("h", "d").orderBy(c))
        + (F.count(F.lit(1)).over(Window.partitionBy("h", "d", c)) - 1) / 2.0
    )
    ranked = longf.select(
        "h", "d", avg_rank("mom").alias("rm"), avg_rank("fwd").alias("rf")
    )
    daily = (
        ranked.groupBy("h", "d")
        .agg(F.corr("rm", "rf").alias("__c"))
        .filter(F.col("__c").isNotNull())
        .select("h", "d", round6(F.col("__c")).alias("ic"))
    )
    return daily.groupBy(F.col("h").alias("horizon")).agg(
        F.count(F.lit(1)).alias("n_days"),
        round6(
            F.sum(F.round(F.col("ic") * 1_000_000, 0).cast("long")) / 1_000_000.0
            / F.count(F.lit(1))
        ).alias("mean_ic"),
    )


# ---------------------------------------------------------------------------
# Historical VaR / CVaR (new r6): per-entity 95% value-at-risk and
# expected shortfall from the daily return history — the tail-risk
# report the reference's risk page derives from the same daily panel
# (`Project report.md` factor_db risk columns). VaR is the k-th worst
# return (k = ceil(n/20), an exact integer order statistic — no
# interpolation, so both engines pick the identical row; ties broken by
# date), CVaR the fixed-point mean of the k worst.
#
# Scale shape: one partitionBy(code) sort ranks each entity's returns;
# the aggregate is map-side combined. Order statistics per key never
# materialize a global sort — survives any number of entities.
# ---------------------------------------------------------------------------
@query(
    "var_cvar_daily",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{_RS},0) AS BIGINT) AS ret_c
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    ), r2 AS (
        SELECT code, d, ret_c,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY ret_c, d) AS rn,
               COUNT(*) OVER (PARTITION BY code) AS n
        FROM rets WHERE ret_c IS NOT NULL
    )
    SELECT code, CAST(MAX(n) AS BIGINT) AS n_days,
           FLOOR((MAX(CASE WHEN rn = (n+19)//20 THEN ret_c END)/{_RS}.0)*1000000 + 0.5)
             /1000000.0 AS var_95,
           FLOOR((SUM(CASE WHEN rn <= (n+19)//20 THEN ret_c END)*1.0
                  / MAX((n+19)//20) / {_RS})*1000000 + 0.5)/1000000.0 AS cvar_95
    FROM r2 GROUP BY code
    """,
)
def var_cvar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "code",
        "d",
        F.round((F.col("close") / F.lag("close").over(w) - 1) * _RS, 0)
        .cast("long")
        .alias("ret_c"),
    ).filter(F.col("ret_c").isNotNull())
    r2 = rets.select(
        "code",
        "ret_c",
        F.row_number()
        .over(Window.partitionBy("code").orderBy("ret_c", "d"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("code")).alias("n"),
    )
    k = F.floor((F.col("n") + 19) / 20)  # ceil(n/20) in exact int math
    return r2.groupBy("code").agg(
        F.max("n").alias("n_days"),
        round6(
            F.max(F.when(F.col("rn") == k, F.col("ret_c"))) / float(_RS)
        ).alias("var_95"),
        round6(
            F.sum(F.when(F.col("rn") <= k, F.col("ret_c"))) * 1.0
            / F.max(k)
            / _RS
        ).alias("cvar_95"),
    )


# ---------------------------------------------------------------------------
# Underwater report (new r6): drawdown DURATION, complementing
# backtest_drawdown's depth — per entity, the longest and total number of
# days spent below the running equity peak. A new peak opens a segment
# (integer flag cumsum); underwater days are counted per segment. All
# integer arithmetic on the fixed-point equity curve — exact on both
# engines under any evaluation order.
#
# Scale shape: one partitionBy(code) ordered window builds equity, peak
# and segment ids in a single pass; the two aggregations afterwards are
# map-side combined. Nothing global, nothing quadratic.
# ---------------------------------------------------------------------------
@query(
    "underwater_duration",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{_RS},0) AS BIGINT) AS ret_c
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    ), eq AS (
        SELECT code, d,
               SUM(ret_c) OVER (PARTITION BY code ORDER BY d ROWS UNBOUNDED PRECEDING) AS eq_c
        FROM rets WHERE ret_c IS NOT NULL
    ), peaks AS (
        SELECT code, d,
               CASE WHEN eq_c >= MAX(eq_c) OVER (PARTITION BY code ORDER BY d
                    ROWS UNBOUNDED PRECEDING) THEN 1 ELSE 0 END AS is_peak
        FROM eq
    ), seg AS (
        SELECT code, d, is_peak,
               SUM(is_peak) OVER (PARTITION BY code ORDER BY d
                    ROWS UNBOUNDED PRECEDING) AS seg_id
        FROM peaks
    ), per_seg AS (
        SELECT code, seg_id, CAST(SUM(1 - is_peak) AS BIGINT) AS uw_days
        FROM seg GROUP BY code, seg_id
    )
    SELECT code,
           CAST(MAX(uw_days) AS BIGINT) AS max_underwater_days,
           CAST(SUM(uw_days) AS BIGINT) AS total_underwater_days,
           CAST(SUM(1) AS BIGINT) AS n_segments
    FROM per_seg GROUP BY code
    """,
)
def underwater_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rets = bars.select(
        "code",
        "d",
        F.round((F.col("close") / F.lag("close").over(w) - 1) * _RS, 0)
        .cast("long")
        .alias("ret_c"),
    ).filter(F.col("ret_c").isNotNull())
    eq = rets.withColumn("eq_c", F.sum("ret_c").over(run))
    is_peak = (F.col("eq_c") >= F.max("eq_c").over(run)).cast("long")
    seg = eq.select(
        "code",
        "d",
        is_peak.alias("is_peak"),
        F.sum(is_peak).over(run).alias("seg_id"),
    )
    per_seg = seg.groupBy("code", "seg_id").agg(
        F.sum(F.lit(1) - F.col("is_peak")).alias("uw_days")
    )
    return per_seg.groupBy("code").agg(
        F.max("uw_days").alias("max_underwater_days"),
        F.sum("uw_days").alias("total_underwater_days"),
        F.count(F.lit(1)).alias("n_segments"),
    )


# ---------------------------------------------------------------------------
# Day-of-week calendar effect (new r6): the calendar-anomaly panel every
# quant dashboard carries — per weekday, the cross-sectional mean daily
# return, hit rate and dispersion of the whole panel. (The testdata
# panel spans one month, so weekday is the calendar axis with
# cross-engine-stable buckets; Spark's weekday() == DuckDB's isodow()-1,
# both 0 = Monday.) Fixed-point sums keep the means exact; hit rate is a
# ratio of exact counts.
#
# Scale shape: one lag window per entity, then a 7-bucket aggregate —
# map-side combined into at most 7 groups.
# ---------------------------------------------------------------------------
@query(
    "calendar_dow_effect",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{_RS},0) AS BIGINT) AS ret_c
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    )
    SELECT CAST(isodow(d) - 1 AS INT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           FLOOR((SUM(ret_c)*1.0 / COUNT(*) / {_RS})*1000000 + 0.5)/1000000.0
             AS mean_ret,
           FLOOR((count_if(ret_c > 0)*1.0 / COUNT(*))*1000000 + 0.5)/1000000.0
             AS hit_rate,
           FLOOR(((MAX(ret_c) - MIN(ret_c))/{_RS}.0)*1000000 + 0.5)/1000000.0
             AS ret_range
    FROM rets WHERE ret_c IS NOT NULL
    GROUP BY isodow(d)
    """,
)
def calendar_dow_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "d",
        F.round((F.col("close") / F.lag("close").over(w) - 1) * _RS, 0)
        .cast("long")
        .alias("ret_c"),
    ).filter(F.col("ret_c").isNotNull())
    return rets.groupBy(F.weekday("d").cast("int").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_obs"),
        round6(F.sum("ret_c") * 1.0 / F.count(F.lit(1)) / _RS).alias("mean_ret"),
        round6(F.count_if(F.col("ret_c") > 0) * 1.0 / F.count(F.lit(1))).alias(
            "hit_rate"
        ),
        round6((F.max("ret_c") - F.min("ret_c")) / float(_RS)).alias("ret_range"),
    )


# ---------------------------------------------------------------------------
# Candlestick pattern screen (new r6): per-entity counts of the classic
# K-line patterns (doji, hammer, shooting star, bullish/bearish
# engulfing) — the pattern layer over the reference's K-line rendering
# and similar-K-line retrospective (`app/Quantlib/pages/4_Stock
# deepdive.py:113-115` Candlestick traces; `:263-266` 相似K线形态回溯).
# All predicates are IEEE comparisons of identical doubles on both
# engines (same products, same order), so the booleans agree exactly.
#
# Scale shape: one code-keyed lag window + one code-keyed aggregate.
# ---------------------------------------------------------------------------
@query(
    "kline_pattern_screen",
    oracle=f"""
    WITH {O_BARS},
    k AS (
        SELECT code, d, open, high, low, close,
               LAG(open)  OVER w AS p_open,
               LAG(close) OVER w AS p_close,
               abs(close - open) AS body,
               high - GREATEST(open, close) AS upper,
               LEAST(open, close) - low AS lower,
               high - low AS rng
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    )
    SELECT code,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(count_if(rng > 0 AND body <= 0.1 * rng) AS BIGINT) AS n_doji,
           CAST(count_if(lower >= 2 * body AND upper <= body AND rng > 0)
                AS BIGINT) AS n_hammer,
           CAST(count_if(upper >= 2 * body AND lower <= body AND rng > 0)
                AS BIGINT) AS n_shooting_star,
           CAST(count_if(p_close < p_open AND close > open
                         AND open <= p_close AND close >= p_open)
                AS BIGINT) AS n_bull_engulf,
           CAST(count_if(p_close > p_open AND close < open
                         AND open >= p_close AND close <= p_open)
                AS BIGINT) AS n_bear_engulf
    FROM k GROUP BY code
    """,
)
def kline_pattern_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    body = F.abs(F.col("close") - F.col("open"))
    upper = F.col("high") - F.greatest("open", "close")
    lower = F.least("open", "close") - F.col("low")
    rng = F.col("high") - F.col("low")
    k = bars.select(
        "code",
        "open",
        "close",
        F.lag("open").over(w).alias("p_open"),
        F.lag("close").over(w).alias("p_close"),
        body.alias("body"),
        upper.alias("upper"),
        lower.alias("lower"),
        rng.alias("rng"),
    )
    return k.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.count_if((F.col("rng") > 0) & (F.col("body") <= 0.1 * F.col("rng"))).alias(
            "n_doji"
        ),
        F.count_if(
            (F.col("lower") >= 2 * F.col("body"))
            & (F.col("upper") <= F.col("body"))
            & (F.col("rng") > 0)
        ).alias("n_hammer"),
        F.count_if(
            (F.col("upper") >= 2 * F.col("body"))
            & (F.col("lower") <= F.col("body"))
            & (F.col("rng") > 0)
        ).alias("n_shooting_star"),
        F.count_if(
            (F.col("p_close") < F.col("p_open"))
            & (F.col("close") > F.col("open"))
            & (F.col("open") <= F.col("p_close"))
            & (F.col("close") >= F.col("p_open"))
        ).alias("n_bull_engulf"),
        F.count_if(
            (F.col("p_close") > F.col("p_open"))
            & (F.col("close") < F.col("open"))
            & (F.col("open") >= F.col("p_close"))
            & (F.col("close") <= F.col("p_open"))
        ).alias("n_bear_engulf"),
    )


# ---------------------------------------------------------------------------
# Cross-sectional percentile bands (new r6): per date, the interpolated
# P10/P25/P50/P75/P90 of daily returns — the market-breadth fan chart
# behind the reference's market-overview page. Returns are quantized to
# 1e8 fixed-point BEFORE the percentile so interpolation runs over
# identical integers on both engines; band values are round6'd.
#
# Scale shape: one code-keyed lag, then one date-keyed exact-percentile
# aggregate; output is calendar-sized.
# ---------------------------------------------------------------------------
@query(
    "percentile_bands_daily",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{_RS},0) AS BIGINT) AS ret_c
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    )
    SELECT d,
           CAST(COUNT(*) AS BIGINT) AS n_names,
           FLOOR((quantile_cont(ret_c, 0.1)/{_RS})*1000000 + 0.5)/1000000.0 AS p10,
           FLOOR((quantile_cont(ret_c, 0.25)/{_RS})*1000000 + 0.5)/1000000.0 AS p25,
           FLOOR((quantile_cont(ret_c, 0.5)/{_RS})*1000000 + 0.5)/1000000.0 AS p50,
           FLOOR((quantile_cont(ret_c, 0.75)/{_RS})*1000000 + 0.5)/1000000.0 AS p75,
           FLOOR((quantile_cont(ret_c, 0.9)/{_RS})*1000000 + 0.5)/1000000.0 AS p90
    FROM rets WHERE ret_c IS NOT NULL
    GROUP BY d
    """,
)
def percentile_bands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "d",
        F.round((F.col("close") / F.lag("close").over(w) - 1) * _RS, 0)
        .cast("long")
        .alias("ret_c"),
    ).filter(F.col("ret_c").isNotNull())
    bands = rets.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_names"),
        *[
            F.percentile("ret_c", F.lit(p)).alias(f"__p{int(p*100)}")
            for p in (0.1, 0.25, 0.5, 0.75, 0.9)
        ],
    )
    return bands.select(
        "d",
        "n_names",
        *[
            round6(F.col(f"__p{q}") / _RS).alias(f"p{q}")
            for q in (10, 25, 50, 75, 90)
        ],
    )


# ---------------------------------------------------------------------------
# Return autocorrelation profile (new r6): per lag 1..5, the mean
# autocorrelation of daily returns across entities — the mean-reversion
# vs momentum microstructure diagnostic (complements ic_decay_profile's
# cross-sectional view with a time-series one). Per-(code, lag)
# correlations run over identical raw doubles on both engines, are
# round6'd, then averaged with fixed-point sums.
#
# Scale shape: one code-keyed window builds all 5 lags in a single
# pass; the stack/unpivot is row-local; one (code, lag)-keyed corr
# aggregate and one 5-row collapse.
# ---------------------------------------------------------------------------
@query(
    "acf_lag_profile",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d, close / LAG(close) OVER w - 1 AS ret
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    ), lagged AS (
        SELECT code, d, ret,
               LAG(ret, 1) OVER w AS r1, LAG(ret, 2) OVER w AS r2,
               LAG(ret, 3) OVER w AS r3, LAG(ret, 4) OVER w AS r4,
               LAG(ret, 5) OVER w AS r5
        FROM rets WHERE ret IS NOT NULL
        WINDOW w AS (PARTITION BY code ORDER BY d)
    ), long AS (
        SELECT code, lag, ret, rl FROM (
            SELECT code, 1 AS lag, ret, r1 AS rl FROM lagged UNION ALL
            SELECT code, 2, ret, r2 FROM lagged UNION ALL
            SELECT code, 3, ret, r3 FROM lagged UNION ALL
            SELECT code, 4, ret, r4 FROM lagged UNION ALL
            SELECT code, 5, ret, r5 FROM lagged
        ) WHERE rl IS NOT NULL
    ), per_code AS (
        SELECT code, lag, CAST(COUNT(*) AS BIGINT) AS n,
               {o_round6('corr(ret, rl)')} AS acf
        FROM long GROUP BY code, lag
        HAVING COUNT(*) >= 10 AND corr(ret, rl) IS NOT NULL
    )
    SELECT CAST(lag AS INT) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_codes,
           FLOOR((SUM(CAST(ROUND(acf*1000000,0) AS BIGINT))/1000000.0
                  / COUNT(*))*1000000 + 0.5)/1000000.0 AS mean_acf,
           {o_round6('MIN(acf)')} AS min_acf,
           {o_round6('MAX(acf)')} AS max_acf
    FROM per_code GROUP BY lag
    """,
)
def acf_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "code",
        "d",
        (F.col("close") / F.lag("close").over(w) - 1).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    lagged = rets.select(
        "code",
        "ret",
        *[F.lag("ret", i).over(w).alias(f"r{i}") for i in range(1, 6)],
    )
    stack = ", ".join(f"{i}, r{i}" for i in range(1, 6))
    long = lagged.select(
        "code", "ret", F.expr(f"stack(5, {stack}) AS (lag, rl)")
    ).filter(F.col("rl").isNotNull())
    per_code = (
        long.groupBy("code", "lag")
        .agg(F.count(F.lit(1)).alias("n"), F.corr("ret", "rl").alias("__c"))
        .filter((F.col("n") >= 10) & F.col("__c").isNotNull())
        .select("code", "lag", round6(F.col("__c")).alias("acf"))
    )
    return per_code.groupBy(F.col("lag").cast("int").alias("lag")).agg(
        F.count(F.lit(1)).alias("n_codes"),
        round6(
            F.sum(F.round(F.col("acf") * 1_000_000, 0).cast("long")) / 1_000_000.0
            / F.count(F.lit(1))
        ).alias("mean_acf"),
        round6(F.min("acf")).alias("min_acf"),
        round6(F.max("acf")).alias("max_acf"),
    )


# ---------------------------------------------------------------------------
# Amihud illiquidity (new r6): mean(|ret| / dollar volume) per entity —
# the classic price-impact proxy (Amihud 2002), scaled by 1e6 for
# readability. |ret| is quantized fixed-point; the per-day ratio is
# quantized at 1e12 before the mean so the sum is order-independent.
#
# Scale shape: one code-keyed lag + one code-keyed aggregate.
# ---------------------------------------------------------------------------
@query(
    "amihud_illiquidity",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d, amount,
               CAST(ROUND(abs(close / LAG(close) OVER w - 1)*{_RS},0) AS BIGINT) AS aret_c
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    ), terms AS (
        SELECT code,
               CAST(ROUND((aret_c/{_RS}.0) / amount * 1e12, 0) AS BIGINT) AS illiq_p
        FROM rets WHERE aret_c IS NOT NULL AND amount > 0
    )
    SELECT code,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           FLOOR((SUM(illiq_p)*1.0 / COUNT(*) / 1e6)*1000000 + 0.5)/1000000.0
             AS amihud_x1e6
    FROM terms GROUP BY code
    """,
)
def amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "code",
        "amount",
        F.round(F.abs(F.col("close") / F.lag("close").over(w) - 1) * _RS, 0)
        .cast("long")
        .alias("aret_c"),
    ).filter(F.col("aret_c").isNotNull() & (F.col("amount") > 0))
    illiq_p = F.round(
        (F.col("aret_c") / float(_RS)) / F.col("amount") * 1e12, 0
    ).cast("long")
    return rets.select("code", illiq_p.alias("illiq_p")).groupBy("code").agg(
        F.count(F.lit(1)).alias("n_days"),
        round6(F.sum("illiq_p") * 1.0 / F.count(F.lit(1)) / 1e6).alias(
            "amihud_x1e6"
        ),
    )


# ---------------------------------------------------------------------------
# Roll effective-spread estimator (new r6): 2·sqrt(−cov(Δp_t, Δp_{t−1}))
# per entity when the serial covariance is negative (Roll 1984); NULL
# otherwise, with the covariance reported for diagnostics. Price
# changes are identical doubles on both engines; covar_samp then round6.
#
# Scale shape: one code-keyed window builds Δp and its lag; one
# code-keyed covariance aggregate.
# ---------------------------------------------------------------------------
@query(
    "roll_spread_estimator",
    oracle=f"""
    WITH {O_BARS},
    dp AS (
        SELECT code, d,
               CAST(ROUND((close - LAG(close) OVER w)*1000000, 0) AS BIGINT) AS dpc
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    ), pairs AS (
        SELECT code, dpc, LAG(dpc) OVER (PARTITION BY code ORDER BY d) AS dpp
        FROM dp WHERE dpc IS NOT NULL
    ), m AS (
        SELECT code,
               CAST(COUNT(dpp) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN dpp IS NOT NULL THEN dpc END) AS BIGINT) AS sx,
               CAST(SUM(dpp) AS BIGINT) AS sy,
               CAST(SUM(dpc * dpp) AS BIGINT) AS sxy
        FROM pairs GROUP BY code
    )
    SELECT code, n AS n_days,
           {o_round6('CASE WHEN n >= 2 THEN (sxy*1.0 - sx*1.0*sy/n) / (n - 1) / 1e12 END')}
             AS serial_cov,
           {o_round6('CASE WHEN n >= 2 AND (sxy*1.0 - sx*1.0*sy/n) < 0 '
                     'THEN 2 * sqrt(-(sxy*1.0 - sx*1.0*sy/n) / (n - 1) / 1e12) END')}
             AS roll_spread
    FROM m
    """,
)
def roll_spread_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    dp = bars.select(
        "code",
        "d",
        F.round((F.col("close") - F.lag("close").over(w)) * 1_000_000, 0)
        .cast("long")
        .alias("dpc"),
    ).filter(F.col("dpc").isNotNull())
    pairs = dp.select("code", "dpc", F.lag("dpc").over(w).alias("dpp"))
    # exact integer moments: |dpc| <= ~5e8 here, so dpc*dpp <= ~2.5e17 and
    # the per-code sum stays inside int64; sx*1.0*sy crosses 2^53 so it is
    # ONE correctly-rounded double product on both engines (identical)
    m = pairs.groupBy("code").agg(
        F.count("dpp").alias("n"),
        F.sum(F.when(F.col("dpp").isNotNull(), F.col("dpc"))).alias("sx"),
        F.sum("dpp").alias("sy"),
        F.sum(F.col("dpc") * F.col("dpp")).alias("sxy"),
    )
    num = F.col("sxy") * 1.0 - F.col("sx") * 1.0 * F.col("sy") / F.col("n")
    cov = num / (F.col("n") - 1) / 1e12
    return m.select(
        "code",
        F.col("n").alias("n_days"),
        round6(F.when(F.col("n") >= 2, cov)).alias("serial_cov"),
        round6(
            F.when((F.col("n") >= 2) & (num < 0), 2 * F.sqrt(-cov))
        ).alias("roll_spread"),
    )


# ---------------------------------------------------------------------------
# Volatility term structure (new r6): per entity, annualized realized
# volatility over the trailing 5/10/20-day windows at the latest date,
# plus the 5/20 ratio — the vol-regime gauge extending the reference's
# volatility_20 panel (`app/Quantlib/pages/4_Stock deepdive.py:73,204`). Variance comes from exact
# integer moment sums (Σr, Σr²) of fixed-point returns, so the only
# float steps are the final divisions and sqrt (round6'd).
#
# Scale shape: one code-keyed ordered window computing three frame
# aggregates in a single pass; one row per entity via last-date filter.
# ---------------------------------------------------------------------------
@query(
    "vol_term_structure",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*10000,0) AS BIGINT) AS r
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    ), m AS (
        SELECT code, d,
               CAST(COUNT(*) OVER w5 AS BIGINT) AS n5,
               CAST(SUM(r) OVER w5 AS BIGINT) AS s5,
               CAST(SUM(r*r) OVER w5 AS BIGINT) AS q5,
               CAST(COUNT(*) OVER w10 AS BIGINT) AS n10,
               CAST(SUM(r) OVER w10 AS BIGINT) AS s10,
               CAST(SUM(r*r) OVER w10 AS BIGINT) AS q10,
               CAST(COUNT(*) OVER w20 AS BIGINT) AS n20,
               CAST(SUM(r) OVER w20 AS BIGINT) AS s20,
               CAST(SUM(r*r) OVER w20 AS BIGINT) AS q20,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY d DESC) AS rn
        FROM rets WHERE r IS NOT NULL
        WINDOW w5 AS (PARTITION BY code ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
               w10 AS (PARTITION BY code ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
               w20 AS (PARTITION BY code ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT code, d AS asof_d,
           {o_round6('sqrt((q5*1.0 - s5*1.0*s5/n5) / (n5 - 1) * 252) / 10000')} AS vol_5,
           {o_round6('sqrt((q10*1.0 - s10*1.0*s10/n10) / (n10 - 1) * 252) / 10000')} AS vol_10,
           {o_round6('sqrt((q20*1.0 - s20*1.0*s20/n20) / (n20 - 1) * 252) / 10000')} AS vol_20,
           {o_round6('CASE WHEN (q20*1.0 - s20*1.0*s20/n20) > 0 THEN '
                     'sqrt((q5*1.0 - s5*1.0*s5/n5) / (n5 - 1) * 252)'
                     ' / sqrt((q20*1.0 - s20*1.0*s20/n20) / (n20 - 1) * 252) END')}
             AS vol_ratio_5_20
    FROM m WHERE rn = 1 AND n5 >= 5 AND n20 >= 20
    """,
)
def vol_term_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    # 1e4 quantization: |ret| reaches ~1e4 in this panel, so 1e4 scale
    # keeps r*r window sums inside int64 (1e8 scale would overflow — the
    # synthetic panel has 9000x single-day moves)
    rets = bars.select(
        "code",
        "d",
        F.round((F.col("close") / F.lag("close").over(w) - 1) * 10_000, 0)
        .cast("long")
        .alias("r"),
    ).filter(F.col("r").isNotNull())
    frames = {5: w.rowsBetween(-4, 0), 10: w.rowsBetween(-9, 0), 20: w.rowsBetween(-19, 0)}
    cols = []
    for k, fr in frames.items():
        cols += [
            F.count(F.lit(1)).over(fr).alias(f"n{k}"),
            F.sum("r").over(fr).alias(f"s{k}"),
            F.sum(F.col("r") * F.col("r")).over(fr).alias(f"q{k}"),
        ]
    m = rets.select(
        "code",
        "d",
        *cols,
        F.row_number()
        .over(Window.partitionBy("code").orderBy(F.desc("d")))
        .alias("rn"),
    ).filter((F.col("rn") == 1) & (F.col("n5") >= 5) & (F.col("n20") >= 20))

    def var_num(k: int):
        return F.col(f"q{k}") * 1.0 - F.col(f"s{k}") * 1.0 * F.col(f"s{k}") / F.col(f"n{k}")

    def vol(k: int):
        return F.sqrt(var_num(k) / (F.col(f"n{k}") - 1) * 252) / 10_000

    return m.select(
        "code",
        F.col("d").alias("asof_d"),
        round6(vol(5)).alias("vol_5"),
        round6(vol(10)).alias("vol_10"),
        round6(vol(20)).alias("vol_20"),
        round6(
            F.when(
                var_num(20) > 0,
                F.sqrt(var_num(5) / (F.col("n5") - 1) * 252)
                / F.sqrt(var_num(20) / (F.col("n20") - 1) * 252),
            )
        ).alias("vol_ratio_5_20"),
    )


# ---------------------------------------------------------------------------
# Overnight gap stats (new r6): per entity, the open-vs-previous-close
# gap distribution — mean gap, gap-up frequency, and the largest gap in
# either direction. Gaps are fixed-point quantized like returns.
#
# Scale shape: one code-keyed lag + one code-keyed aggregate.
# ---------------------------------------------------------------------------
@query(
    "gap_open_stats",
    oracle=f"""
    WITH {O_BARS},
    gaps AS (
        SELECT code,
               CAST(ROUND((open / LAG(close) OVER w - 1)*{_RS},0) AS BIGINT) AS gap_c
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    )
    SELECT code,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           FLOOR((SUM(gap_c)*1.0 / COUNT(*) / {_RS})*1000000 + 0.5)/1000000.0
             AS mean_gap,
           FLOOR((count_if(gap_c > 0)*1.0 / COUNT(*))*1000000 + 0.5)/1000000.0
             AS gap_up_rate,
           FLOOR((MAX(gap_c)/{_RS}.0)*1000000 + 0.5)/1000000.0 AS max_gap_up,
           FLOOR((MIN(gap_c)/{_RS}.0)*1000000 + 0.5)/1000000.0 AS max_gap_down
    FROM gaps WHERE gap_c IS NOT NULL
    GROUP BY code
    """,
)
def gap_open_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    gaps = bars.select(
        "code",
        F.round((F.col("open") / F.lag("close").over(w) - 1) * _RS, 0)
        .cast("long")
        .alias("gap_c"),
    ).filter(F.col("gap_c").isNotNull())
    n = F.count(F.lit(1))
    return gaps.groupBy("code").agg(
        n.alias("n_days"),
        round6(F.sum("gap_c") * 1.0 / n / _RS).alias("mean_gap"),
        round6(F.count_if(F.col("gap_c") > 0) * 1.0 / n).alias("gap_up_rate"),
        round6(F.max("gap_c") / float(_RS)).alias("max_gap_up"),
        round6(F.min("gap_c") / float(_RS)).alias("max_gap_down"),
    )


# ---------------------------------------------------------------------------
# Win/loss streak analysis (new r6): per entity, the longest up and
# down streaks and the count of streaks of each sign — run-length
# encoding via the classic "group id = row_number − sign-partitioned
# row_number" identity, all integer arithmetic.
#
# Scale shape: one code-keyed window pass builds the group ids; two
# map-side aggregates collapse them.
# ---------------------------------------------------------------------------
@query(
    "streak_analysis",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CASE WHEN CAST(ROUND((close / LAG(close) OVER w - 1)*{_RS},0) AS BIGINT) > 0
                    THEN 1
                    WHEN CAST(ROUND((close / LAG(close) OVER w - 1)*{_RS},0) AS BIGINT) < 0
                    THEN -1 ELSE 0 END AS sgn
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    ), grp AS (
        SELECT code, d, sgn,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY d)
                 - ROW_NUMBER() OVER (PARTITION BY code, sgn ORDER BY d) AS gid
        FROM rets WHERE sgn IS NOT NULL AND sgn <> 0
    ), runs AS (
        SELECT code, sgn, gid, CAST(COUNT(*) AS BIGINT) AS run_len
        FROM grp GROUP BY code, sgn, gid
    )
    SELECT code,
           CAST(MAX(CASE WHEN sgn = 1 THEN run_len ELSE 0 END) AS BIGINT) AS max_up_streak,
           CAST(MAX(CASE WHEN sgn = -1 THEN run_len ELSE 0 END) AS BIGINT) AS max_down_streak,
           CAST(count_if(sgn = 1) AS BIGINT) AS n_up_runs,
           CAST(count_if(sgn = -1) AS BIGINT) AS n_down_runs
    FROM runs GROUP BY code
    """,
)
def streak_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    ret_c = F.round((F.col("close") / F.lag("close").over(w) - 1) * _RS, 0).cast(
        "long"
    )
    sgn = (
        F.when(ret_c > 0, 1).when(ret_c < 0, -1).when(ret_c.isNotNull(), 0)
    )
    grp = (
        bars.select("code", "d", sgn.alias("sgn"))
        .filter(F.col("sgn").isNotNull() & (F.col("sgn") != 0))
        .select(
            "code",
            "sgn",
            (
                F.row_number().over(w)
                - F.row_number().over(
                    Window.partitionBy("code", "sgn").orderBy("d")
                )
            ).alias("gid"),
        )
    )
    runs = grp.groupBy("code", "sgn", "gid").agg(F.count(F.lit(1)).alias("run_len"))
    return runs.groupBy("code").agg(
        F.max(F.when(F.col("sgn") == 1, F.col("run_len")).otherwise(0)).alias(
            "max_up_streak"
        ),
        F.max(F.when(F.col("sgn") == -1, F.col("run_len")).otherwise(0)).alias(
            "max_down_streak"
        ),
        F.count_if(F.col("sgn") == 1).alias("n_up_runs"),
        F.count_if(F.col("sgn") == -1).alias("n_down_runs"),
    )


# ---------------------------------------------------------------------------
# Risk-adjusted ratio panel (new r6): per entity, annualized Sharpe,
# Sortino (downside deviation uses min(r,0)² population form) and
# Calmar (annualized mean over |max drawdown|) — the summary row the
# reference's backtest page prints per strategy. Every moment is an
# exact integer sum of 1e4-quantized returns (the vol_term_structure
# scale — Σr² must stay inside int64 with this panel's outliers);
# drawdown reuses the fixed-point equity-curve construction.
#
# Scale shape: one code-keyed lag + one code-keyed running window for
# the drawdown + one code-keyed aggregate.
# ---------------------------------------------------------------------------
@query(
    "risk_adjusted_ratios",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*10000,0) AS BIGINT) AS r
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    ), eq AS (
        SELECT code, d, r,
               SUM(r) OVER (PARTITION BY code ORDER BY d ROWS UNBOUNDED PRECEDING) AS eq_c
        FROM rets WHERE r IS NOT NULL
    ), dd AS (
        SELECT code, d, r, eq_c,
               eq_c - MAX(eq_c) OVER (PARTITION BY code ORDER BY d
                   ROWS UNBOUNDED PRECEDING) AS dd_c
        FROM eq
    ), m AS (
        SELECT code,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r) AS BIGINT) AS s,
               CAST(SUM(r*r) AS BIGINT) AS q,
               CAST(SUM(CASE WHEN r < 0 THEN r*r ELSE 0 END) AS BIGINT) AS qd,
               CAST(MIN(dd_c) AS BIGINT) AS mdd_c
        FROM dd GROUP BY code
    )
    SELECT code, n AS n_days,
           {o_round6('CASE WHEN n >= 2 AND (q*1.0 - s*1.0*s/n) > 0 THEN '
                     '(s*1.0/n) / sqrt((q*1.0 - s*1.0*s/n) / (n - 1)) * sqrt(252) END')}
             AS sharpe,
           {o_round6('CASE WHEN qd > 0 THEN '
                     '(s*1.0/n) / sqrt(qd*1.0/n) * sqrt(252) END')} AS sortino,
           {o_round6('CASE WHEN mdd_c < 0 THEN '
                     '(s*1.0/n*252) / (-mdd_c*1.0) END')} AS calmar
    FROM m
    """,
)
def risk_adjusted_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rets = bars.select(
        "code",
        "d",
        F.round((F.col("close") / F.lag("close").over(w) - 1) * 10_000, 0)
        .cast("long")
        .alias("r"),
    ).filter(F.col("r").isNotNull())
    eq = rets.withColumn("eq_c", F.sum("r").over(run))
    dd = eq.withColumn("dd_c", F.col("eq_c") - F.max("eq_c").over(run))
    m = dd.groupBy("code").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("s"),
        F.sum(F.col("r") * F.col("r")).alias("q"),
        F.sum(F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0)).alias(
            "qd"
        ),
        F.min("dd_c").alias("mdd_c"),
    )
    mean = F.col("s") * 1.0 / F.col("n")
    var_num = F.col("q") * 1.0 - F.col("s") * 1.0 * F.col("s") / F.col("n")
    return m.select(
        "code",
        F.col("n").alias("n_days"),
        round6(
            F.when(
                (F.col("n") >= 2) & (var_num > 0),
                mean / F.sqrt(var_num / (F.col("n") - 1)) * F.sqrt(F.lit(252.0)),
            )
        ).alias("sharpe"),
        round6(
            F.when(
                F.col("qd") > 0,
                mean / F.sqrt(F.col("qd") * 1.0 / F.col("n")) * F.sqrt(F.lit(252.0)),
            )
        ).alias("sortino"),
        round6(
            F.when(F.col("mdd_c") < 0, (mean * 252) / (-F.col("mdd_c") * 1.0))
        ).alias("calmar"),
    )


# ---------------------------------------------------------------------------
# MA-crossover signal backtest (new r6): golden/death crosses of the
# 5- vs 20-day moving average per entity — signal counts and the mean
# next-day return after each signal type, the simplest strategy the
# reference's screener feeds. MAs are exact integer means of price
# cents; the cross test compares integer cross-products (ma5*20n vs
# ma20*5n avoids any division), so signal booleans are exact.
#
# Scale shape: one code-keyed window pass (two frame sums + lead), one
# code-keyed aggregate.
# ---------------------------------------------------------------------------
@query(
    "ma_crossover_signals",
    oracle=f"""
    WITH {O_BARS},
    m AS (
        SELECT code, d, close,
               CAST(SUM(CAST(ROUND(close*100,0) AS BIGINT)) OVER w5 AS BIGINT) AS s5,
               CAST(COUNT(*) OVER w5 AS BIGINT) AS n5,
               CAST(SUM(CAST(ROUND(close*100,0) AS BIGINT)) OVER w20 AS BIGINT) AS s20,
               CAST(COUNT(*) OVER w20 AS BIGINT) AS n20,
               LEAD(close) OVER (PARTITION BY code ORDER BY d) / close - 1 AS fwd_ret
        FROM bars
        WINDOW w5 AS (PARTITION BY code ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
               w20 AS (PARTITION BY code ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), sig AS (
        SELECT code, d, fwd_ret,
               s5 * n20 > s20 * n5 AS above,
               LAG(s5 * n20 > s20 * n5) OVER (PARTITION BY code ORDER BY d) AS p_above
        FROM m WHERE n20 >= 20
    ), crosses AS (
        SELECT code,
               CASE WHEN above AND NOT p_above THEN 'golden'
                    WHEN NOT above AND p_above THEN 'death' END AS sig_type,
               CAST(ROUND(fwd_ret*{_RS},0) AS BIGINT) AS fwd_c
        FROM sig WHERE p_above IS NOT NULL
    )
    SELECT code,
           CAST(count_if(sig_type = 'golden') AS BIGINT) AS n_golden,
           CAST(count_if(sig_type = 'death') AS BIGINT) AS n_death,
           FLOOR((SUM(CASE WHEN sig_type = 'golden' THEN fwd_c END)*1.0
                  / NULLIF(COUNT(CASE WHEN sig_type = 'golden' THEN fwd_c END), 0)
                  / {_RS})*1000000 + 0.5)/1000000.0 AS mean_ret_after_golden,
           FLOOR((SUM(CASE WHEN sig_type = 'death' THEN fwd_c END)*1.0
                  / NULLIF(COUNT(CASE WHEN sig_type = 'death' THEN fwd_c END), 0)
                  / {_RS})*1000000 + 0.5)/1000000.0 AS mean_ret_after_death
    FROM crosses GROUP BY code
    """,
)
def ma_crossover_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    cents = F.round(F.col("close") * 100, 0).cast("long")
    m = bars.select(
        "code",
        "d",
        F.sum(cents).over(w.rowsBetween(-4, 0)).alias("s5"),
        F.count(F.lit(1)).over(w.rowsBetween(-4, 0)).alias("n5"),
        F.sum(cents).over(w.rowsBetween(-19, 0)).alias("s20"),
        F.count(F.lit(1)).over(w.rowsBetween(-19, 0)).alias("n20"),
        (F.lead("close").over(w) / F.col("close") - 1).alias("fwd_ret"),
    ).filter(F.col("n20") >= 20)
    above = F.col("s5") * F.col("n20") > F.col("s20") * F.col("n5")
    sig = m.select(
        "code",
        "d",
        "fwd_ret",
        above.alias("above"),
        F.lag(above).over(w).alias("p_above"),
    ).filter(F.col("p_above").isNotNull())
    sig_type = (
        F.when(F.col("above") & ~F.col("p_above"), "golden")
        .when(~F.col("above") & F.col("p_above"), "death")
    )
    crosses = sig.select(
        "code",
        sig_type.alias("sig_type"),
        F.round(F.col("fwd_ret") * _RS, 0).cast("long").alias("fwd_c"),
    )
    g = F.when(F.col("sig_type") == "golden", F.col("fwd_c"))
    dth = F.when(F.col("sig_type") == "death", F.col("fwd_c"))
    return crosses.groupBy("code").agg(
        F.count_if(F.col("sig_type") == "golden").alias("n_golden"),
        F.count_if(F.col("sig_type") == "death").alias("n_death"),
        round6(F.sum(g) * 1.0 / F.count(g) / _RS).alias("mean_ret_after_golden"),
        round6(F.sum(dth) * 1.0 / F.count(dth) / _RS).alias("mean_ret_after_death"),
    )


# ---------------------------------------------------------------------------
# Intraday hour-of-day profile (new r6): the U-shaped liquidity curve —
# per hour bucket, event count, exact volume mass and its share of the
# total, and the fixed-point mean tick value. Runs on the raw tick
# stream (not bars): the microstructure axis of the reference's
# stock_3tick_db lake (`Project report.md:381` 高频微观库).
#
# Scale shape: single scan → 24-group aggregate, map-side combined; the
# global total is a broadcast of a 1-row aggregate (never a window over
# the stream).
# ---------------------------------------------------------------------------
@query(
    "intraday_hour_profile",
    oracle="""
    WITH t AS (
        SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
               CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS k,
               CAST(ROUND(value*100,0) AS BIGINT) AS v_c
        FROM events
    ), hourly AS (
        SELECT hr, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(k) AS BIGINT) AS volume,
               CAST(SUM(v_c) AS BIGINT) AS v_sum
        FROM t GROUP BY hr
    ), tot AS (
        SELECT CAST(SUM(volume) AS BIGINT) AS tv FROM hourly
    )
    SELECT hr, n_events, volume,
           FLOOR((volume*1.0/tv)*1000000 + 0.5)/1000000.0 AS volume_share,
           FLOOR((v_sum*1.0/n_events/100.0)*1000000 + 0.5)/1000000.0 AS mean_value
    FROM hourly, tot
    """,
)
def intraday_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        F.hour(F.col("ts").cast("timestamp")).cast("int").alias("hr"),
        F.regexp_extract("props", r"(\d+)", 1).cast("long").alias("k"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
    )
    hourly = t.groupBy("hr").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("volume"),
        F.sum("v_c").alias("v_sum"),
    )
    tot = hourly.agg(F.sum("volume").alias("tv"))
    return hourly.crossJoin(F.broadcast(tot)).select(
        "hr",
        "n_events",
        "volume",
        (
            F.floor(F.col("volume") * 1.0 / F.col("tv") * 1_000_000 + F.lit(0.5))
            / 1_000_000.0
        ).alias("volume_share"),
        (
            F.floor(
                F.col("v_sum") * 1.0 / F.col("n_events") / 100.0 * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000.0
        ).alias("mean_value"),
    )


# ---------------------------------------------------------------------------
# Volume-price correlation (new r6): per entity, the correlation between
# |return| and relative volume change — the "volume confirms the move"
# diagnostic. Inputs are identical doubles on both engines; corr is
# round6'd per code (single-valued aggregates, no rank boundary risk).
# ---------------------------------------------------------------------------
@query(
    "volume_price_corr",
    oracle=f"""
    WITH {O_BARS},
    x AS (
        SELECT code, d,
               abs(close / LAG(close) OVER w - 1) AS aret,
               volume*1.0 / NULLIF(LAG(volume) OVER w, 0) - 1 AS dvol
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    )
    SELECT code, CAST(COUNT(*) AS BIGINT) AS n_days,
           {o_round6('corr(aret, dvol)')} AS vol_price_corr
    FROM x WHERE aret IS NOT NULL AND dvol IS NOT NULL
    GROUP BY code
    HAVING corr(aret, dvol) IS NOT NULL
    """,
)
def volume_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    x = bars.select(
        "code",
        F.abs(F.col("close") / F.lag("close").over(w) - 1).alias("aret"),
        (
            F.col("volume") * 1.0 / F.nullif(F.lag("volume").over(w), F.lit(0)) - 1
        ).alias("dvol"),
    ).filter(F.col("aret").isNotNull() & F.col("dvol").isNotNull())
    return (
        x.groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.corr("aret", "dvol").alias("__c"),
        )
        .filter(F.col("__c").isNotNull())
        .select("code", "n_days", round6(F.col("__c")).alias("vol_price_corr"))
    )


# ---------------------------------------------------------------------------
# Extreme-day return concentration (new r6): what fraction of each
# entity's total absolute return mass sits in its 5 largest absolute
# days — the "miss the best days" concentration statistic. Exact
# integer order statistics and sums.
#
# Scale shape: one code-keyed lag + one code-keyed rank + one
# aggregate, all on the same key.
# ---------------------------------------------------------------------------
@query(
    "extreme_day_concentration",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND(abs(close / LAG(close) OVER w - 1)*{_RS},0) AS BIGINT) AS aret_c
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
    ), ranked AS (
        SELECT code, aret_c,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY aret_c DESC, d) AS rn
        FROM rets WHERE aret_c IS NOT NULL
    )
    SELECT code,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           FLOOR((SUM(CASE WHEN rn <= 5 THEN aret_c ELSE 0 END)*1.0
                  / NULLIF(SUM(aret_c), 0))*1000000 + 0.5)/1000000.0
             AS top5_abs_share
    FROM ranked GROUP BY code
    HAVING SUM(aret_c) > 0
    """,
)
def extreme_day_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "code",
        "d",
        F.round(F.abs(F.col("close") / F.lag("close").over(w) - 1) * _RS, 0)
        .cast("long")
        .alias("aret_c"),
    ).filter(F.col("aret_c").isNotNull())
    ranked = rets.select(
        "code",
        "aret_c",
        F.row_number()
        .over(Window.partitionBy("code").orderBy(F.desc("aret_c"), "d"))
        .alias("rn"),
    )
    top5 = F.sum(F.when(F.col("rn") <= 5, F.col("aret_c")).otherwise(0))
    tot = F.sum("aret_c")
    return (
        ranked.groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            top5.alias("__t"),
            tot.alias("__s"),
        )
        .filter(F.col("__s") > 0)
        .select(
            "code",
            "n_days",
            (
                F.floor(F.col("__t") * 1.0 / F.col("__s") * 1_000_000 + F.lit(0.5))
                / 1_000_000.0
            ).alias("top5_abs_share"),
        )
    )


# ---------------------------------------------------------------------------
# Sector breadth (new r6): per (date, sector), the share of names
# trading above their own 20-day moving average — the breadth heatmap
# behind "is the rally broad or narrow" (reference sector pages). The
# above-MA test compares integer cross-products (close·n vs Σcents), so
# the boolean is exact; sectors are the synthetic 5-sector IndClass
# (code % 5, the brinson/alpha-ind convention).
#
# Scale shape: one code-keyed window pass + one (d, sector) aggregate.
# ---------------------------------------------------------------------------
@query(
    "sector_breadth_daily",
    oracle=f"""
    WITH {O_BARS},
    m AS (
        SELECT code, d, code % 5 AS sector,
               CAST(ROUND(close*100,0) AS BIGINT) AS c_cents,
               CAST(SUM(CAST(ROUND(close*100,0) AS BIGINT)) OVER w20 AS BIGINT) AS s20,
               CAST(COUNT(*) OVER w20 AS BIGINT) AS n20
        FROM bars
        WINDOW w20 AS (PARTITION BY code ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT d, CAST(sector AS BIGINT) AS sector,
           CAST(COUNT(*) AS BIGINT) AS n_names,
           CAST(count_if(c_cents * n20 > s20) AS BIGINT) AS n_above_ma20,
           FLOOR((count_if(c_cents * n20 > s20)*1.0 / COUNT(*))*1000000 + 0.5)
             /1000000.0 AS breadth
    FROM m WHERE n20 >= 20
    GROUP BY d, sector
    """,
)
def sector_breadth_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w20 = Window.partitionBy("code").orderBy("d").rowsBetween(-19, 0)
    cents = F.round(F.col("close") * 100, 0).cast("long")
    m = bars.select(
        "d",
        (F.col("code") % 5).alias("sector"),
        cents.alias("c_cents"),
        F.sum(cents).over(w20).alias("s20"),
        F.count(F.lit(1)).over(w20).alias("n20"),
    ).filter(F.col("n20") >= 20)
    above = F.count_if(F.col("c_cents") * F.col("n20") > F.col("s20"))
    n = F.count(F.lit(1))
    return m.groupBy("d", "sector").agg(
        n.alias("n_names"),
        above.alias("n_above_ma20"),
        (F.floor(above * 1.0 / n * 1_000_000 + F.lit(0.5)) / 1_000_000.0).alias(
            "breadth"
        ),
    )


# ---------------------------------------------------------------------------
# OHLC range volatility estimators (new r7): per entity, the three
# classic daily-bar volatility estimators side by side — close-to-close
# (sample stddev of log returns), Parkinson (high/low range), and
# Garman-Klass (range + open/close body) — annualized at 252. The
# range estimators extract ~5-7x more information per bar than
# close-to-close, the standard microstructure upgrade on any OHLC
# panel (the reference's factor layer stores exactly these OHLC
# columns, `quant_db_ddl.md:95-105`).
#
# Determinism: log terms are quantized to integer 1e-4 units
# immediately (ROUND(ln(.)*1e4)), so all second moments are exact
# int64 sums on both engines (|ln(h/l)| <= ~9.1 on this panel ->
# x^2 <= 8.3e9, x30 days well inside int64); GK's per-day term is
# algebraically >= 0.11*x^2 (|ln(C/O)| <= ln(H/L) always), so the
# sqrt argument cannot go negative beyond quantization noise — round6
# normalizes a NaN from the degenerate case to NULL on both engines.
# ---------------------------------------------------------------------------
@query(
    "ohlc_vol_estimators",
    oracle=f"""
    WITH {O_BARS},
    t AS (
        -- positivity guards on every ln argument: a zero low/open/close
        -- makes Spark's log silently NULL while DuckDB raises "cannot
        -- take logarithm of zero" (caught by the r10 sf0.1 sweep) —
        -- the guard makes the NULL explicit and identical on both sides
        SELECT code,
               CASE WHEN low > 0 AND high > 0
                    THEN CAST(ROUND(ln(high / low) * 10000, 0) AS BIGINT)
               END AS x,
               CASE WHEN open > 0 AND close > 0
                    THEN CAST(ROUND(ln(close / open) * 10000, 0) AS BIGINT)
               END AS y,
               CASE WHEN close > 0
                     AND LAG(close) OVER (PARTITION BY code ORDER BY d) > 0
                    THEN CAST(ROUND(ln(close / LAG(close) OVER
                              (PARTITION BY code ORDER BY d)) * 10000, 0)
                         AS BIGINT)
               END AS z
        FROM bars
    ), m AS (
        SELECT code, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(COUNT(z) AS BIGINT) AS nz,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(z * z) AS BIGINT) AS szz
        FROM t GROUP BY code
    )
    SELECT code, n AS n_days,
           {o_round6('sqrt(sxx / 1e8 / (4 * ln(2) * n) * 252)')} AS parkinson_vol,
           {o_round6('sqrt((0.5 * sxx - 0.3862943611198906 * syy) / 1e8 / n * 252)')}
             AS garman_klass_vol,
           {o_round6('CASE WHEN nz >= 2 THEN '
                     'sqrt((szz * 1.0 - sz * 1.0 * sz / nz) / (nz - 1) / 1e8 * 252) END')}
             AS close_close_vol
    FROM m
    """,
)
def ohlc_vol_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    prev = F.lag("close").over(w)
    # positivity guards mirror the oracle (see its t CTE comment)
    t = bars.select(
        "code",
        F.when(
            (F.col("low") > 0) & (F.col("high") > 0),
            F.round(F.log(F.col("high") / F.col("low")) * 10_000, 0).cast("long"),
        ).alias("x"),
        F.when(
            (F.col("open") > 0) & (F.col("close") > 0),
            F.round(F.log(F.col("close") / F.col("open")) * 10_000, 0).cast("long"),
        ).alias("y"),
        F.when(
            (F.col("close") > 0) & (prev > 0),
            F.round(F.log(F.col("close") / prev) * 10_000, 0).cast("long"),
        ).alias("z"),
    )
    m = t.groupBy("code").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.count("z").alias("nz"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    import math

    gk_num = 0.5 * F.col("sxx") - (2 * math.log(2) - 1) * F.col("syy")
    cc_var = (F.col("szz") * 1.0 - F.col("sz") * 1.0 * F.col("sz") / F.col("nz")) / (
        F.col("nz") - 1
    )
    return m.select(
        "code",
        F.col("n").alias("n_days"),
        round6(
            F.sqrt(F.col("sxx") / 1e8 / (4 * math.log(2) * F.col("n")) * 252)
        ).alias("parkinson_vol"),
        round6(F.sqrt(gk_num / 1e8 / F.col("n") * 252)).alias("garman_klass_vol"),
        round6(
            F.when(F.col("nz") >= 2, F.sqrt(cc_var / 1e8 * 252))
        ).alias("close_close_vol"),
    )


# ---------------------------------------------------------------------------
# Kyle's lambda (new r7): per entity, the price-impact slope — OLS of
# the daily return (basis points) on SIGNED volume (volume carrying the
# candle direction), the classic microstructure illiquidity measure
# next to amihud_illiquidity / roll_spread_estimator. lambda_bp is
# basis points of price move per unit of signed volume.
#
# Determinism: returns quantized at 1e4 (the panel's 1e4 lesson — 9000x
# single-day moves), signed volume is already integral; all four OLS
# moments are exact int64 sums (max |r*sv| ~ 2.5e10 x 30 days), and the
# slope combines CAST-down BIGINT sums in double arithmetic exactly as
# vol_term_structure does.
# ---------------------------------------------------------------------------
@query(
    "kyle_lambda_daily",
    oracle=f"""
    WITH {O_BARS},
    t AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1)
                          * 10000, 0) AS BIGINT) AS r,
               volume * CASE WHEN close > open THEN 1
                             WHEN close < open THEN -1 ELSE 0 END AS sv
        FROM bars
    ), m AS (
        SELECT code, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r) AS BIGINT) AS sr,
               CAST(SUM(sv) AS BIGINT) AS ssv,
               CAST(SUM(r * sv) AS BIGINT) AS srv,
               CAST(SUM(sv * sv) AS BIGINT) AS svv
        FROM t WHERE r IS NOT NULL GROUP BY code
    )
    SELECT code, n AS n_days,
           {o_round6('(n * 1.0 * srv - sr * 1.0 * ssv) / (n * 1.0 * svv - ssv * 1.0 * ssv)')}
             AS lambda_bp,
           {o_round6('CASE WHEN (n * 1.0 * svv - ssv * 1.0 * ssv) > 0 THEN '
                     '(n * 1.0 * srv - sr * 1.0 * ssv) / sqrt(n * 1.0 * svv - ssv * 1.0 * ssv) '
                     '/ 10000.0 / sqrt(n * 1.0) END')} AS impact_tstat_scale
    FROM m WHERE n * svv - ssv * ssv > 0
    """,
)
def kyle_lambda_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    sv = F.col("volume") * F.when(F.col("close") > F.col("open"), 1).when(
        F.col("close") < F.col("open"), -1
    ).otherwise(0)
    t = bars.select(
        "code",
        "d",
        F.round((F.col("close") / F.lag("close").over(w) - 1) * 10_000, 0)
        .cast("long")
        .alias("r"),
        sv.alias("sv"),
    ).filter(F.col("r").isNotNull())
    m = t.groupBy("code").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("sr"),
        F.sum("sv").alias("ssv"),
        F.sum(F.col("r") * F.col("sv")).alias("srv"),
        F.sum(F.col("sv") * F.col("sv")).alias("svv"),
    )
    var_num = F.col("n") * 1.0 * F.col("svv") - F.col("ssv") * 1.0 * F.col("ssv")
    cov_num = F.col("n") * 1.0 * F.col("srv") - F.col("sr") * 1.0 * F.col("ssv")
    return m.filter(
        F.col("n") * F.col("svv") - F.col("ssv") * F.col("ssv") > 0
    ).select(
        "code",
        F.col("n").alias("n_days"),
        round6(cov_num / var_num).alias("lambda_bp"),
        round6(
            F.when(
                var_num > 0,
                cov_num / F.sqrt(var_num) / 10_000.0 / F.sqrt(F.col("n") * 1.0),
            )
        ).alias("impact_tstat_scale"),
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonal decomposition of market volume (new r7): the
# moving-average decomposition every seasonality screen starts with —
# total market volume per day, a CENTERED 7-day MA as trend, and the
# day-of-week seasonal component as the mean detrended value. All in
# integer "sevenths" (detr7 = 7*V - Sum7) so no float accumulates:
# seasonal = Sum(detr7) / (7*n) is one exact division per output row.
#
# Scale shape: one fact-sized (day) aggregate; everything after runs on
# the ~#days series (a deliberate driver-bounded tail, same convention
# as the other market-level queries).
# ---------------------------------------------------------------------------
@query(
    "seasonal_dow_volume",
    oracle=f"""
    WITH {O_BARS},
    daily AS (
        SELECT d, CAST(SUM(volume) AS BIGINT) AS v
        FROM bars GROUP BY d
    ), tr AS (
        SELECT d, v,
               CAST(SUM(v) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                    AS BIGINT) AS s7,
               CAST(COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                    AS BIGINT) AS c7
        FROM daily
    ), det AS (
        SELECT d, v, 7 * v - s7 AS detr7
        FROM tr WHERE c7 = 7
    )
    SELECT CAST(isodow(d) - 1 AS INT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {o_round6('SUM(v) * 1.0 / COUNT(*)')} AS avg_volume,
           {o_round6('CAST(SUM(detr7) AS BIGINT) / (7.0 * COUNT(*))')}
             AS seasonal_component
    FROM det GROUP BY isodow(d) - 1
    """,
)
def seasonal_dow_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    daily = bars.groupBy("d").agg(F.sum("volume").cast("long").alias("v"))
    # ~#days rows: the unpartitioned centered window is calendar-bounded
    # (30 days on this panel, ~250/yr in production), never fact-sized
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    det = (
        daily.select(
            "d",
            "v",
            F.sum("v").over(w7).alias("s7"),
            F.count(F.lit(1)).over(w7).alias("c7"),
        )
        .filter(F.col("c7") == 7)
        .withColumn("detr7", 7 * F.col("v") - F.col("s7"))
    )
    return det.groupBy(F.weekday("d").cast("int").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_days"),
        round6(F.sum("v") * 1.0 / F.count(F.lit(1))).alias("avg_volume"),
        round6(F.sum("detr7") / (7.0 * F.count(F.lit(1)))).alias(
            "seasonal_component"
        ),
    )


# ---------------------------------------------------------------------------
# Variance-ratio test (new r7): the Lo-MacKinlay random-walk check —
# per entity, VR(5) = Var(5-day overlapping log return) / (5 x Var(
# 1-day log return)). VR > 1 signals momentum, VR < 1 mean reversion;
# the standard microstructure/efficiency screen next to acf_lag_profile.
#
# Determinism: log returns quantized at 1e4 (int64); the overlapping
# 5-day sums are exact integer window sums; both variances come from
# exact integer moments, so the ratio is one double expression on both
# engines. Quantization bound: |z| <= ~9e4 (ln of the panel's 9000x
# move), z5 <= 4.5e5, z5^2 <= 2.1e11, x 30 days well inside int64.
# ---------------------------------------------------------------------------
@query(
    "variance_ratio_test",
    oracle=f"""
    WITH {O_BARS},
    t AS (
        -- positivity guard: Spark's log NULLs on a zero close, DuckDB
        -- raises (r10 sf0.1 sweep find — same class as ohlc_vol)
        SELECT code, d,
               CASE WHEN close > 0
                     AND LAG(close) OVER (PARTITION BY code ORDER BY d) > 0
                    THEN CAST(ROUND(ln(close / LAG(close) OVER
                              (PARTITION BY code ORDER BY d)) * 10000, 0)
                         AS BIGINT)
               END AS z
        FROM bars
    ), z5 AS (
        SELECT code, d, z,
               CAST(SUM(z) OVER (PARTITION BY code ORDER BY d
                                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS s5,
               CAST(COUNT(z) OVER (PARTITION BY code ORDER BY d
                                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS c5
        FROM t WHERE z IS NOT NULL
    ), m AS (
        SELECT code,
               CAST(COUNT(z) AS BIGINT) AS n1,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(z * z) AS BIGINT) AS szz,
               CAST(count_if(c5 = 5) AS BIGINT) AS n5,
               CAST(SUM(CASE WHEN c5 = 5 THEN s5 END) AS BIGINT) AS s5s,
               CAST(SUM(CASE WHEN c5 = 5 THEN s5 * s5 END) AS BIGINT) AS s5q
        FROM z5 GROUP BY code
    )
    SELECT code, n1 AS n_days,
           {o_round6('((s5q * 1.0 - s5s * 1.0 * s5s / n5) / (n5 - 1)) '
                     '/ (5.0 * (szz * 1.0 - sz * 1.0 * sz / n1) / (n1 - 1))')}
             AS vr5
    FROM m
    WHERE n5 >= 2 AND (szz * n1 - sz * sz) > 0
    """,
)
def variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    prev = F.lag("close").over(w)
    t = bars.select(
        "code",
        "d",
        F.when(
            (F.col("close") > 0) & (prev > 0),
            F.round(F.log(F.col("close") / prev) * 10_000, 0).cast("long"),
        ).alias("z"),
    ).filter(F.col("z").isNotNull())
    w5 = w.rowsBetween(-4, 0)
    z5 = t.select(
        "code",
        "z",
        F.sum("z").over(w5).alias("s5"),
        F.count("z").over(w5).alias("c5"),
    )
    full = F.col("c5") == 5
    m = z5.groupBy("code").agg(
        F.count("z").alias("n1"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.count_if(full).alias("n5"),
        F.sum(F.when(full, F.col("s5"))).alias("s5s"),
        F.sum(F.when(full, F.col("s5") * F.col("s5"))).alias("s5q"),
    )
    var1 = (F.col("szz") * 1.0 - F.col("sz") * 1.0 * F.col("sz") / F.col("n1")) / (
        F.col("n1") - 1
    )
    var5 = (F.col("s5q") * 1.0 - F.col("s5s") * 1.0 * F.col("s5s") / F.col("n5")) / (
        F.col("n5") - 1
    )
    return m.filter(
        (F.col("n5") >= 2) & (F.col("szz") * F.col("n1") - F.col("sz") * F.col("sz") > 0)
    ).select(
        "code",
        F.col("n1").alias("n_days"),
        round6(var5 / (5.0 * var1)).alias("vr5"),
    )


# ---------------------------------------------------------------------------
# Lead-lag cross-correlation profile (new r7): corr(r_A(t), r_B(t+L))
# for L in -3..+3 between the panel's canonical pair (the two lowest
# codes, the pairs_spread_zscore convention) — the lead-lag discovery
# scan that precedes building a pairs/leader-follower strategy. The
# AUTO-correlation twin is acf_lag_profile; this is the cross version.
#
# Determinism: returns quantized at 1e4; per-lag moments are exact
# int64 sums (|r| <= 9e7 on this panel -> r_a*r_b <= 8.1e15 x 30 rows);
# the corr combines CAST-down sums in double arithmetic. Row alignment
# is by per-series date rank, so a missing date shifts, not breaks, the
# lag indexing (both engines rank identically).
# ---------------------------------------------------------------------------
@query(
    "leadlag_cross_correlation",
    oracle=f"""
    WITH {O_BARS},
    two AS (
        SELECT code FROM (SELECT DISTINCT code FROM bars) ORDER BY code LIMIT 2
    ), rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1)
                          * 10000, 0) AS BIGINT) AS rq,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY d) - 1 AS rn
        FROM bars WHERE code IN (SELECT code FROM two)
    ), a AS (
        SELECT rn, rq AS x FROM rets
        WHERE code = (SELECT MIN(code) FROM two) AND rq IS NOT NULL
    ), b AS (
        SELECT rn, rq AS y FROM rets
        WHERE code = (SELECT MAX(code) FROM two) AND rq IS NOT NULL
    ), m AS (
        SELECT l.lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a.x) AS BIGINT) AS sx,
               CAST(SUM(b.y) AS BIGINT) AS sy,
               CAST(SUM(a.x * a.x) AS BIGINT) AS sxx,
               CAST(SUM(b.y * b.y) AS BIGINT) AS syy,
               CAST(SUM(a.x * b.y) AS BIGINT) AS sxy
        FROM range(-3, 4) l(lag)
        JOIN a ON TRUE
        JOIN b ON b.rn = a.rn + l.lag
        GROUP BY l.lag
    )
    SELECT CAST(lag AS INT) AS lag, n,
           {o_round6('(n * 1.0 * sxy - sx * 1.0 * sy) '
                     '/ sqrt(n * 1.0 * sxx - sx * 1.0 * sx) '
                     '/ sqrt(n * 1.0 * syy - sy * 1.0 * sy)')} AS xcorr
    FROM m
    WHERE n >= 3 AND n * sxx > sx * sx AND n * syy > sy * sy
    """,
)
def leadlag_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    two = [
        r["code"]
        for r in bars.select("code").distinct().orderBy("code").limit(2).collect()
    ]  # two scalars, the pair definition — not data-sized driver work
    if len(two) < 2:  # single-code panel: no pair exists — empty, like the oracle
        return spark.createDataFrame([], "lag int, n bigint, xcorr double")
    w = Window.partitionBy("code").orderBy("d")
    rets = (
        bars.filter(F.col("code").isin(two))
        .select(
            "code",
            F.round((F.col("close") / F.lag("close").over(w) - 1) * 10_000, 0)
            .cast("long")
            .alias("rq"),
            (F.row_number().over(w) - 1).alias("rn"),
        )
        .filter(F.col("rq").isNotNull())
    )
    a = rets.filter(F.col("code") == two[0]).select("rn", F.col("rq").alias("x"))
    b = rets.filter(F.col("code") == two[1]).select(
        F.col("rn").alias("brn"), F.col("rq").alias("y")
    )
    lags = a.sparkSession.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    m = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("brn") == F.col("rn") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    num = F.col("n") * 1.0 * F.col("sxy") - F.col("sx") * 1.0 * F.col("sy")
    dx = F.sqrt(F.col("n") * 1.0 * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx"))
    dy = F.sqrt(F.col("n") * 1.0 * F.col("syy") - F.col("sy") * 1.0 * F.col("sy"))
    return m.filter(
        (F.col("n") >= 3)
        & (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
        & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
    ).select("lag", "n", round6(num / dx / dy).alias("xcorr"))


# ---------------------------------------------------------------------------
# CUSUM changepoint alarms (new r7): the one-sided CUSUM statistic
# S_t = max(0, S_{t-1} + z_t - k) over daily returns, alarming when
# S_t > h — the sequential mean-shift detector a monitoring pipeline
# runs per entity. The recursion is NOT window-expressible directly,
# but factors through the prefix-sum identity
#     S_t = C_t - min(C_0..C_t),  C_t = cumsum(z - k)
# (with C_0 = 0 prepended), so both engines compute it with one
# cumulative sum and one running min — exact integer arithmetic at the
# 1e4 return quantization, no recursion, no Python.
#
# k (allowance) = 50 bp, h (threshold) = 300 bp, both in quantized
# units; alarms reset is deliberately NOT modeled (standard one-shot
# CUSUM surveillance: report excursions above h).
# ---------------------------------------------------------------------------
@query(
    "cusum_changepoint",
    oracle=f"""
    WITH {O_BARS},
    t AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1)
                          * 10000, 0) AS BIGINT) - 50 AS zk
        FROM bars
    ), c1 AS (
        -- DuckDB window calls cannot nest: stage the cumsum first
        SELECT code, d,
               CAST(SUM(zk) OVER (PARTITION BY code ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ct
        FROM t WHERE zk IS NOT NULL
    ), c AS (
        SELECT code, d, ct,
               CAST(LEAST(0, MIN(ct) OVER (PARTITION BY code ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                    AS BIGINT) AS mn
        FROM c1
    )
    SELECT code,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(count_if(ct - mn > 3000) AS BIGINT) AS n_alarm_days,
           MIN(CASE WHEN ct - mn > 3000 THEN d END) AS first_alarm,
           CAST(MAX(ct - mn) AS BIGINT) AS max_cusum
    FROM c GROUP BY code
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    zk = (
        F.round((F.col("close") / F.lag("close").over(w) - 1) * 10_000, 0).cast("long")
        - 50
    )
    t = bars.select("code", "d", zk.alias("zk")).filter(F.col("zk").isNotNull())
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    c = t.select(
        "code",
        "d",
        F.sum("zk").over(cum).alias("ct"),
        # C_0 = 0 prepend == clamp the running min at zero
        F.least(F.lit(0), F.min(F.sum("zk").over(cum)).over(cum)).alias("mn"),
    )
    s = F.col("ct") - F.col("mn")
    return c.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.count_if(s > 3000).alias("n_alarm_days"),
        F.min(F.when(s > 3000, F.col("d"))).alias("first_alarm"),
        F.max(s).alias("max_cusum"),
    )


# ---------------------------------------------------------------------------
# Block-bootstrap Sharpe confidence interval (new r7): the Monte-Carlo
# statistic made DETERMINISTIC and distributed — per entity, B=50
# circular-block resamples (block length 5) of the quantized daily
# returns, a Sharpe per resample from exact integer moments, and the
# 5th/95th order statistics as the CI. "Randomness" is an arithmetic
# hash (b*1000003 + j*7919) mod n for the block start — pure integer
# expressions both engines evaluate identically, so the whole bootstrap
# is value-hash reproducible (the property a compliance re-run needs).
#
# Scale shape: the resample index relation is (B x n) rows PER ENTITY,
# built by a broadcast cross join of two tiny ranges and joined back to
# the returns on (code, idx) — one code-keyed shuffle; per-(code, b)
# moments aggregate map-side; the order-statistic pick is a
# code-partitioned rank over B=50 rows per code.
# ---------------------------------------------------------------------------
_BB_B, _BB_L = 50, 5


@query(
    "bootstrap_sharpe_ci",
    oracle=f"""
    WITH {O_BARS},
    t AS (
        SELECT code,
               CAST(ROUND((close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1)
                          * 10000, 0) AS BIGINT) AS r,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY d) - 2 AS idx
        FROM bars
    ), z AS (
        SELECT code, r, idx, CAST(COUNT(*) OVER (PARTITION BY code) AS BIGINT) AS n
        FROM t WHERE r IS NOT NULL
    ), draws AS (
        -- resample b, position p (0..n-1): block j = p // L, offset p % L,
        -- source index = (hash(b, j) + p % L) % n
        SELECT z.code, b.b, z2.r
        FROM (SELECT DISTINCT code, n FROM z) z
        CROSS JOIN range({_BB_B}) b(b)
        -- position range covers a full trading year; p < n trims per code
        CROSS JOIN range(0, 400) p(p)
        JOIN z z2 ON z2.code = z.code
                 AND z2.idx = ((b.b * 1000003 + (p.p // {_BB_L}) * 7919)
                               + p.p % {_BB_L}) % z.n
        WHERE p.p < z.n
    ), stats AS (
        SELECT code, b, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r) AS BIGINT) AS s, CAST(SUM(r * r) AS BIGINT) AS q
        FROM draws GROUP BY code, b
    ), sharpe AS (
        SELECT code, b, n,
               CASE WHEN q * n > s * s THEN
                   FLOOR(s * 1.0 / n / sqrt((q * 1.0 - s * 1.0 * s / n) / (n - 1))
                         * sqrt(252.0) * 1000000 + 0.5) / 1000000.0
               END AS sh
        FROM stats
    ), ranked AS (
        SELECT code, sh,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY sh, b) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY code) AS BIGINT) AS nb
        FROM sharpe WHERE sh IS NOT NULL
    )
    SELECT code, MIN(nb) AS n_resamples,
           MIN(CASE WHEN rk = CAST(CEIL(nb * 0.05) AS BIGINT) THEN sh END) AS ci_lo,
           MIN(CASE WHEN rk = CAST(CEIL(nb * 0.95) AS BIGINT) THEN sh END) AS ci_hi
    FROM ranked GROUP BY code
    """,
)
def bootstrap_sharpe_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    t = bars.select(
        "code",
        F.round((F.col("close") / F.lag("close").over(w) - 1) * 10_000, 0)
        .cast("long")
        .alias("r"),
        (F.row_number().over(w) - 2).alias("idx"),
    ).filter(F.col("r").isNotNull())
    z = t.withColumn(
        "n",
        F.count(F.lit(1)).over(
            Window.partitionBy("code").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    spark_s = bars.sparkSession
    b = spark_s.range(_BB_B).select(F.col("id").alias("b"))
    p = spark_s.range(0, 400).select(F.col("id").alias("p"))
    codes = z.select("code", "n").distinct()
    draws = (
        codes.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(p))
        .filter(F.col("p") < F.col("n"))
        .withColumn(
            "idx",
            (
                (F.col("b") * 1000003 + F.floor(F.col("p") / _BB_L) * 7919)
                + F.col("p") % _BB_L
            )
            % F.col("n"),
        )
        .join(z.select("code", "idx", "r"), ["code", "idx"])
    )
    stats = draws.groupBy("code", "b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("s"),
        F.sum(F.col("r") * F.col("r")).alias("q"),
    )
    var_num = (F.col("q") * 1.0 - F.col("s") * 1.0 * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    sh = F.when(
        F.col("q") * F.col("n") > F.col("s") * F.col("s"),
        F.floor(
            F.col("s") * 1.0 / F.col("n") / F.sqrt(var_num) * F.sqrt(F.lit(252.0))
            * 1_000_000
            + F.lit(0.5)
        )
        / 1_000_000.0,
    )
    sharpe = stats.select("code", "b", sh.alias("sh")).filter(F.col("sh").isNotNull())
    rw = Window.partitionBy("code").orderBy("sh", "b")
    nb = F.count(F.lit(1)).over(
        Window.partitionBy("code").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    ranked = sharpe.select(
        "code", "sh", F.row_number().over(rw).alias("rk"), nb.alias("nb")
    )
    return ranked.groupBy("code").agg(
        F.min("nb").alias("n_resamples"),
        F.min(
            F.when(F.col("rk") == F.ceil(F.col("nb") * 0.05), F.col("sh"))
        ).alias("ci_lo"),
        F.min(
            F.when(F.col("rk") == F.ceil(F.col("nb") * 0.95), F.col("sh"))
        ).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (new r7): per entity, the median of all
# pairwise price slopes — the robust regression line the OLS-based
# regr_slope family cannot give (a single 9000x spike day drags OLS;
# the pairwise median shrugs it off). Pairs come from a within-entity
# rank self-join (n<=~250 calendar rows per entity, so pairs are
# calendar²-bounded PER ENTITY and entity-linear overall); slopes are
# quantized to integer 1e-6 cents/day before the exact lower-median
# order statistic.
# ---------------------------------------------------------------------------
@query(
    "theil_sen_trend",
    oracle=f"""
    WITH {O_BARS},
    t AS (
        SELECT code,
               CAST(ROUND(close * 100, 0) AS BIGINT) AS c,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY d) AS rn
        FROM bars
    ), pairs AS (
        SELECT a.code,
               CAST(FLOOR((b.c - a.c) * 1000000.0 / (b.rn - a.rn) + 0.5)
                    AS BIGINT) AS sq
        FROM t a JOIN t b ON b.code = a.code AND b.rn > a.rn
    ), ranked AS (
        SELECT code, sq,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY sq) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY code) AS BIGINT) AS np
        FROM pairs
    )
    SELECT code, MIN(np) AS n_pairs,
           MIN(CASE WHEN rk = (np + 1) // 2 THEN sq END) / 1000000.0 / 100.0
             AS theil_sen_slope
    FROM ranked GROUP BY code
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    t = bars.select(
        "code",
        F.round(F.col("close") * 100, 0).cast("long").alias("c"),
        F.row_number().over(w).alias("rn"),
    )
    a = t.select("code", F.col("c").alias("ca"), F.col("rn").alias("ra"))
    b = t.select(
        F.col("code").alias("code_b"), F.col("c").alias("cb"), F.col("rn").alias("rb")
    )
    pairs = (
        a.join(b, (F.col("code") == F.col("code_b")) & (F.col("rb") > F.col("ra")))
        .select(
            "code",
            F.floor(
                (F.col("cb") - F.col("ca")) * 1_000_000.0 / (F.col("rb") - F.col("ra"))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("sq"),
        )
    )
    rk = Window.partitionBy("code").orderBy("sq")
    np_ = F.count(F.lit(1)).over(
        Window.partitionBy("code").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    ranked = pairs.select(
        "code", "sq", F.row_number().over(rk).alias("rk"), np_.alias("np")
    )
    return ranked.groupBy("code").agg(
        F.min("np").alias("n_pairs"),
        (
            F.min(
                F.when(
                    F.col("rk") == F.floor((F.col("np") + 1) / 2), F.col("sq")
                )
            )
            / 1_000_000.0
            / 100.0
        ).alias("theil_sen_slope"),
    )


def _theil_sen_windowed(bars: DataFrame, n: int) -> DataFrame:
    """Trailing-n-day Theil-Sen slope per (code, day): pairwise slopes
    enumerated INSIDE a collect_list rows-frame with JVM higher-order
    functions (transform/flatten/array_sort), so pair work is bounded to
    n(n-1)/2 per output row — rows-linear overall, vs the full-calendar
    estimator's days² per entity. Same quantization (integer 1e-6
    cents/day) and same exact lower-median order statistic, so at a
    window covering the whole panel the last row reproduces
    theil_sen_trend bit-for-bit (golden-tested). Emits every row with
    >= 2 observations; n_pairs tells the caller the achieved depth."""
    w = Window.partitionBy("code").orderBy("d").rowsBetween(-(n - 1), 0)
    t = bars.select(
        "code", "d", F.round(F.col("close") * 100, 0).cast("long").alias("c")
    )
    win = t.select("code", "d", F.collect_list("c").over(w).alias("arr"))
    sz = F.size("arr")
    slopes = F.expr(
        "array_sort(flatten(transform(sequence(0, size(arr) - 2),"
        " i -> transform(sequence(i + 1, size(arr) - 1),"
        " j -> CAST(FLOOR((element_at(arr, j + 1) - element_at(arr, i + 1))"
        " * 1000000.0 / (j - i) + 0.5) AS BIGINT)))))"
    )
    staged = win.filter(sz >= 2).select(
        "code",
        "d",
        (sz * (sz - 1) / 2).cast("long").alias("n_pairs"),
        slopes.alias("__sq"),
    )
    med = F.element_at(
        F.col("__sq"), ((F.col("n_pairs") + 1) / 2).cast("int")
    )
    return staged.select(
        "code",
        "d",
        "n_pairs",
        (med / 1_000_000.0 / 100.0).alias("theil_sen_slope"),
    )


# ---------------------------------------------------------------------------
# Trailing-window Theil-Sen (new r9): the PRODUCTION form of
# theil_sen_trend — the reference's slope factors are all
# trailing-window (`database/functions/basic factor_function.md`, e.g.
# linear_reg_slope_20), and a full-history pairwise estimator is
# days²-per-entity (6000 trading days → 18M pairs/entity: the scale
# defect SCALING.md documents). Here every (code, day) gets the robust
# slope of its trailing 20 closes: 190 slope pairs per row enumerated
# inside the array — no self-join, no shuffle beyond the one code-axis
# window exchange — so total work is rows x 190 at ANY panel depth.
# The full-calendar query stays registered as the bench-scale twin;
# median preservation (windowed == full when the window covers the
# panel) is golden-tested.
# ---------------------------------------------------------------------------
@query(
    "theil_sen_trend_w20",
    oracle=f"""
    WITH {O_BARS},
    t AS (
        SELECT code, d, CAST(ROUND(close * 100, 0) AS BIGINT) AS c FROM bars
    ), win AS (
        SELECT code, d,
               list(c) OVER (PARTITION BY code ORDER BY d
                             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS arr
        FROM t
    ), slo AS (
        SELECT code, d,
               list_sort(flatten(list_transform(range(1, 20),
                   i -> list_transform(range(i + 1, 21),
                       j -> CAST(FLOOR((arr[j] - arr[i]) * 1000000.0 / (j - i)
                                       + 0.5) AS BIGINT))))) AS sq
        FROM win WHERE len(arr) = 20
    )
    SELECT code, d, CAST(190 AS BIGINT) AS n_pairs,
           sq[95] / 1000000.0 / 100.0 AS theil_sen_slope
    FROM slo
    """,
)
def theil_sen_trend_w20(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    # full 20-row windows only: the factor convention (min_periods = n),
    # and n_pairs == 190 iff the frame is full
    return _theil_sen_windowed(bars, 20).filter(F.col("n_pairs") == 190)


# ---------------------------------------------------------------------------
# Mean-reversion half-life (new r9): per code, the AR(1)
# Ornstein-Uhlenbeck half-life pairs traders size positions with — fit
# Δp_t = a + b·p_{t-1} by OLS and report halflife = −ln 2 / ln(1+b)
# when the process actually reverts (−1 < b < 0); a non-reverting code
# reports NULL rather than a fabricated horizon. Complements
# variance_ratio_test (detects reversion) with the actionable timescale,
# and pairs_spread_zscore (which assumes a reverting spread) with the
# estimator that validates the assumption.
#
# Determinism: the regression runs on INTEGER cents sums (n·Σxy − Σx·Σy
# — order-independent, bit-identical across engines), so the slope is
# one identical IEEE division; ln() is output-only (never ranked),
# 6dp-rounded on both sides. Overflow is ENGINEERED OUT, not assumed
# away: Spark would silently wrap int64 under non-ANSI mode while
# DuckDB errors, so a deeper/higher-priced panel could diverge with no
# signal — therefore the Σx², Σxy accumulations and the n·Σ − Σ·Σ
# products run in decimal(38,0) on the Spark side and HUGEINT (128-bit)
# on the DuckDB side. Both are exact for any panel up to ~1e38 in the
# co-moment products (a 1e10-row panel of 1e7-cent prices peaks near
# 1e31), and an overflow past that NULLs (Spark) / errors (DuckDB)
# loudly instead of wrapping.
#
# Scale shape: one code-keyed lag window + one aggregate per code —
# panel-linear, same shape as kyle_lambda_daily.
# ---------------------------------------------------------------------------
@query(
    "mean_reversion_halflife",
    oracle=f"""
    WITH {O_BARS},
    p AS (
        SELECT code, d, CAST(ROUND(close * 100, 0) AS BIGINT) AS c FROM bars
    ), xy AS (
        SELECT code,
               LAG(c) OVER (PARTITION BY code ORDER BY d) AS x,
               c - LAG(c) OVER (PARTITION BY code ORDER BY d) AS y
        FROM p
    ), m AS (
        -- HUGEINT (128-bit) accumulation: exact where BIGINT could
        -- overflow on a deep high-priced panel (DuckDB errors rather
        -- than wraps, but the point is to never get near the edge)
        SELECT code, CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx
        FROM xy WHERE x IS NOT NULL GROUP BY code
    ), fit AS (
        SELECT code, CAST(n AS BIGINT) AS n,
               CASE WHEN n >= 10 AND n * sxx > sx * sx
                    THEN CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE) END AS b
        FROM m
    )
    SELECT code, n AS n_days, {o_round6('b')} AS ar1_beta,
           {o_round6("CASE WHEN b > -1 AND b < 0"
                     " THEN -ln(2) / ln(1 + b) END")} AS halflife_days
    FROM fit
    """,
)
def mean_reversion_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    c = F.round(F.col("close") * 100, 0).cast("long")
    xy = bars.select(
        "code",
        F.lag(c).over(w).alias("x"),
        (c - F.lag(c).over(w)).alias("y"),
    ).filter(F.col("x").isNotNull())
    # decimal(38,0) accumulation: exact integer arithmetic with 38-digit
    # headroom — non-ANSI Spark silently wraps int64 products, so the
    # co-moments must never run through long multiplication (see block
    # comment; DuckDB twin uses HUGEINT)
    xd = F.col("x").cast("decimal(20,0)")
    yd = F.col("y").cast("decimal(20,0)")
    m = xy.groupBy("code").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    nd = F.col("n").cast("decimal(20,0)")
    b = F.when(
        (F.col("n") >= 10)
        & (nd * F.col("sxx") > F.col("sx") * F.col("sx")),
        (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
    )
    fit = m.select("code", F.col("n").alias("n_days"), b.alias("b"))
    hl = F.when(
        (F.col("b") > -1) & (F.col("b") < 0),
        -F.log(F.lit(2.0)) / F.log(F.lit(1.0) + F.col("b")),
    )
    return fit.select(
        "code",
        "n_days",
        round6(F.col("b")).alias("ar1_beta"),
        round6(hl).alias("halflife_days"),
    )


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled range (new r10): the classic long-memory
# diagnostic that completes the mean-reversion family — variance_ratio_test
# DETECTS departure from a random walk, mean_reversion_halflife gives
# the AR(1) TIMESCALE, and R/S Hurst classifies the regime from range
# statistics (H < 0.5 mean-reverting, ≈ 0.5 random walk, > 0.5
# trending; Hurst 1951 / Mandelbrot's R/S analysis). Per code: returns
# are split into non-overlapping windows of n ∈ {5, 10, 20} days; each
# window's rescaled range R/S = (max cumdev − min cumdev) / population
# std; H is the log-log slope of mean R/S against n — with the three n
# doubling, the slope collapses to (ln RS20 − ln RS5) / (2 ln 2).
#
# Determinism: returns quantized to the integer {_RS} grid; the window
# R/S is exact-integer up to ONE sqrt and one division — cumdevs are
# scaled integers (D_k = n·cum_k − k·S1), the variance radicand is
# n·Σr² − S1² in decimal(38,0) (Spark) / HUGEINT (DuckDB) (same
# overflow-proofing as mean_reversion_halflife; value values can make
# single-day ratios large), the DuckDB radicand→double cast goes
# through the 2^32 hi/lo split (the _o_hugeint_to_double convention —
# the native cast is off by 1 ulp past 2^53), and each window's R/S is
# floor-quantized to integer 1e-9 BEFORE the per-(code, n) mean, so the
# mean is an exact integer sum divided by a count. ln() is output-only
# (never ranked, never joined), 6dp-rounded on both sides, with 1/(2
# ln 2) supplied as the same double literal to both engines — the same
# accepted ulp class as mean_reversion_halflife's ln.
#
# Scale shape: three code-keyed window passes (one per n, all on the
# (code, n, wid) partitioning — never unpartitioned) + one aggregate
# per (code, n, window) — panel-linear with a 3× constant.
# ---------------------------------------------------------------------------
_HURST_INV_2LN2 = "0.7213475204444817"  # 1 / (2 ln 2), same literal both engines


def _o_huge_to_double(x: str) -> str:
    """2^32 hi/lo split HUGEINT→DOUBLE (correctly rounded past 2^53);
    local twin of alpha_queries._o_hugeint_to_double."""
    hi = f"CAST((({x}) - (({x}) % 4294967296)) // 4294967296 AS DOUBLE)"
    lo = f"CAST(({x}) % 4294967296 AS DOUBLE)"
    return f"({hi} * 4294967296.0 + {lo})"


@query(
    "hurst_rs_exponent",
    oracle=f"""
    WITH {O_BARS},
    r AS (
        SELECT code, d,
               CAST(FLOOR((close / LAG(close) OVER (PARTITION BY code ORDER BY d)
                           - 1) * {_RS} + 0.5) AS BIGINT) AS rq
        FROM bars
        -- qualify on rq, not on LAG(close): a mid-series ZERO close makes
        -- the next return undefined (NULL rq) while its lag is non-null —
        -- keeping that row shifts every later window's membership vs the
        -- Spark side's rq-filtered index (caught by the r10 sf0.1 sweep:
        -- one code with close = 0 diverged on all R/S columns)
        QUALIFY rq IS NOT NULL
    ), r2 AS (
        SELECT code, d, rq,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY d) - 1 AS i
        FROM r
    ), t AS (SELECT UNNEST([5, 10, 20]) AS n),
    ex AS (
        SELECT code, n, d, rq, i // n AS wid, i % n + 1 AS k
        FROM r2 CROSS JOIN t
    ), win AS (
        SELECT code, n, wid, rq, k,
               SUM(rq) OVER (PARTITION BY code, n, wid ORDER BY d) AS cum,
               SUM(rq) OVER (PARTITION BY code, n, wid) AS s1w
        FROM ex
    ), agg AS (
        SELECT code, n, wid, CAST(COUNT(*) AS BIGINT) AS c,
               SUM(CAST(rq AS HUGEINT)) AS s1,
               SUM(CAST(rq AS HUGEINT) * rq) AS s2,
               CAST(MAX(n * cum - k * s1w) - MIN(n * cum - k * s1w)
                    AS BIGINT) AS rr
        FROM win GROUP BY code, n, wid
    ), rs AS (
        SELECT code, n,
               CAST(FLOOR(CAST(rr AS DOUBLE)
                          / sqrt({_o_huge_to_double('n * s2 - s1 * s1')})
                          * 1000000000 + 0.5) AS BIGINT) AS rsq
        FROM agg WHERE c = n AND n * s2 - s1 * s1 > 0
    ), m AS (
        SELECT code, n, CAST(COUNT(*) AS BIGINT) AS nw,
               CAST(SUM(rsq) AS BIGINT) * 1.0 / COUNT(*) / 1000000000.0 AS rs_mean
        FROM rs GROUP BY code, n
    ), piv AS (
        SELECT code,
               MIN(CASE WHEN n = 5 THEN nw END) AS nw5,
               MIN(CASE WHEN n = 10 THEN nw END) AS nw10,
               MIN(CASE WHEN n = 20 THEN nw END) AS nw20,
               MIN(CASE WHEN n = 5 THEN rs_mean END) AS m5,
               MIN(CASE WHEN n = 10 THEN rs_mean END) AS m10,
               MIN(CASE WHEN n = 20 THEN rs_mean END) AS m20
        FROM m GROUP BY code
    )
    SELECT code, nw5, nw10, nw20,
           {o_round6('m5')} AS rs5, {o_round6('m10')} AS rs10,
           {o_round6('m20')} AS rs20,
           {o_round6(f"CASE WHEN m20 > 0 AND m5 > 0 THEN"
                     f" (ln(m20) - ln(m5)) * CAST({_HURST_INV_2LN2} AS DOUBLE)"
                     f" END")} AS hurst_rs
    FROM piv
    """,
)
def hurst_rs_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rq = F.floor(
        (F.col("close") / F.lag("close").over(w) - 1) * _RS + F.lit(0.5)
    ).cast("long")
    r = bars.select("code", "d", rq.alias("rq")).filter(F.col("rq").isNotNull())
    r2 = r.select(
        "code", "d", "rq", (F.row_number().over(w) - 1).alias("i")
    )
    sizes = spark.createDataFrame([(5,), (10,), (20,)], "n int")
    ex = r2.crossJoin(F.broadcast(sizes)).select(
        "code",
        "n",
        "d",
        "rq",
        (F.col("i") / F.col("n")).cast("int").alias("wid"),
        (F.col("i") % F.col("n") + 1).alias("k"),
    )
    pw = Window.partitionBy("code", "n", "wid")
    win = ex.select(
        "code",
        "n",
        "wid",
        "rq",
        "k",
        F.sum("rq").over(pw.orderBy("d")).alias("cum"),
        F.sum("rq").over(pw).alias("s1w"),
    )
    dk = F.col("n") * F.col("cum") - F.col("k") * F.col("s1w")
    rqd = F.col("rq").cast("decimal(20,0)")
    agg = win.groupBy("code", "n", "wid").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(rqd).alias("s1"),
        F.sum(rqd * rqd).alias("s2"),
        (F.max(dk) - F.min(dk)).cast("long").alias("rr"),
    )
    radicand = (
        F.col("n").cast("decimal(20,0)") * F.col("s2") - F.col("s1") * F.col("s1")
    )
    rs = (
        agg.filter((F.col("c") == F.col("n")) & (radicand > 0))
        .select(
            "code",
            "n",
            F.floor(
                F.col("rr").cast("double")
                / F.sqrt(radicand.cast("double"))
                * 1_000_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("rsq"),
        )
    )
    m = rs.groupBy("code", "n").agg(
        F.count(F.lit(1)).alias("nw"),
        (F.sum("rsq") * 1.0 / F.count(F.lit(1)) / 1_000_000_000.0).alias("rs_mean"),
    )
    pick = lambda n, c: F.min(F.when(F.col("n") == n, F.col(c)))  # noqa: E731
    piv = m.groupBy("code").agg(
        pick(5, "nw").alias("nw5"),
        pick(10, "nw").alias("nw10"),
        pick(20, "nw").alias("nw20"),
        pick(5, "rs_mean").alias("m5"),
        pick(10, "rs_mean").alias("m10"),
        pick(20, "rs_mean").alias("m20"),
    )
    hurst = F.when(
        (F.col("m20") > 0) & (F.col("m5") > 0),
        (F.log(F.col("m20")) - F.log(F.col("m5")))
        * F.lit(float(_HURST_INV_2LN2)),
    )
    return piv.select(
        "code",
        "nw5",
        "nw10",
        "nw20",
        round6(F.col("m5")).alias("rs5"),
        round6(F.col("m10")).alias("rs10"),
        round6(F.col("m20")).alias("rs20"),
        round6(hurst).alias("hurst_rs"),
    )


# ---------------------------------------------------------------------------
# Residual momentum (new r9): momentum computed on beta-HEDGED returns
# (Blitz/Huij/Martens' residual momentum): raw momentum is mostly a
# market-beta bet, so the factor sums the residuals ret − β·mkt over the
# trailing window instead. Reuses the rolling_beta_market machinery
# (fixed-point equal-weight market, 10-day beta); the residual is
# quantized to integer 1e-6 before the trailing sum, so the window
# aggregate is exact integer arithmetic — order-independent and
# bit-identical across engines.
#
# ACCEPTED ULP RISK (documented, not hidden): beta_10 is
# round6(cov/var) over float windowed co-moments. Cross-engine parity
# therefore relies on Spark and DuckDB producing bit-identical doubles
# for COVAR_SAMP/VAR_SAMP over the same ordered frame — which they do
# on this data (hash-verified at sf0.001/sf0.01 every session), but a
# quotient landing within one ulp of a 1e-6 rounding-grid boundary
# COULD flip the quantized beta on some other panel and cascade into a
# hash mismatch. This is the same residual risk class as
# rolling_beta_market (whose convention this factor deliberately
# reuses); the exact-integer alternative (pre-rounding cov and var to a
# fixed-point grid BEFORE the division) changes the estimator's values
# and was rejected to keep the published beta definition. The golden
# test pins the risk quantitatively: vs an exact-rational Python
# reference the quantized betas need a 5e-6 tolerance
# (tests/test_roundnine_golden.py).
#
# Scale shape: one code-axis window chain + one dates-sized broadcast
# join — identical to rolling_beta_market, panel-linear.
# ---------------------------------------------------------------------------
@query(
    "residual_momentum",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1 AS ret
        FROM bars
        QUALIFY ret IS NOT NULL
    ), mkt AS (
        SELECT d,
               SUM(CAST(ROUND(ret*{_RS},0) AS BIGINT)) / CAST(COUNT(*) AS DOUBLE) / {_RS}
                 AS mkt_ret
        FROM rets GROUP BY d
    ), j AS (
        SELECT r.code, r.d, r.ret, m.mkt_ret FROM rets r JOIN mkt m USING (d)
    ), beta AS (
        SELECT code, d, ret, mkt_ret,
               CASE WHEN COUNT(*) OVER w >= 10 AND VAR_SAMP(mkt_ret) OVER w > 0
                    THEN FLOOR((COVAR_SAMP(ret, mkt_ret) OVER w
                                / VAR_SAMP(mkt_ret) OVER w)*1000000 + 0.5)/1000000.0
               END AS beta_10
        FROM j
        WINDOW w AS (PARTITION BY code ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    ), resid AS (
        SELECT code, d,
               CAST(FLOOR((ret - beta_10 * mkt_ret)*{_RS} + 0.5) AS BIGINT) AS rq
        FROM beta WHERE beta_10 IS NOT NULL
    )
    SELECT code, d,
           CASE WHEN COUNT(*) OVER w2 >= 10
                THEN FLOOR((CAST(SUM(rq) OVER w2 AS DOUBLE) / {_RS})*1000000 + 0.5)
                     /1000000.0 END AS resid_mom_10
    FROM resid
    WINDOW w2 AS (PARTITION BY code ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """,
)
def residual_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "code", "d", (F.col("close") / F.lag("close").over(w) - 1).alias("ret")
    ).filter(F.col("ret").isNotNull())
    mkt = rets.groupBy("d").agg(
        (
            F.sum(F.round(F.col("ret") * _RS, 0).cast("long"))
            / F.count(F.lit(1)).cast("double")
            / _RS
        ).alias("mkt_ret")
    )
    j = rets.join(mkt, "d")
    frame = w.rowsBetween(-9, Window.currentRow)
    n = F.count(F.lit(1)).over(frame)
    var_m = F.var_samp("mkt_ret").over(frame)
    cov = F.covar_samp("ret", "mkt_ret").over(frame)
    beta = F.when((n >= 10) & (var_m > 0), round6(cov / var_m))
    resid = (
        j.withColumn("beta_10", beta)
        .filter(F.col("beta_10").isNotNull())
        .select(
            "code",
            "d",
            F.floor((F.col("ret") - F.col("beta_10") * F.col("mkt_ret")) * _RS + F.lit(0.5))
            .cast("long")
            .alias("rq"),
        )
    )
    frame2 = Window.partitionBy("code").orderBy("d").rowsBetween(-9, Window.currentRow)
    n2 = F.count(F.lit(1)).over(frame2)
    mom = F.when(
        n2 >= 10, round6(F.sum("rq").over(frame2).cast("double") / _RS)
    )
    return resid.select("code", "d", mom.alias("resid_mom_10"))


# ---------------------------------------------------------------------------
# RiskMetrics EWMA volatility (new r10): the industry-default
# exponentially-weighted vol estimate (J.P. Morgan RiskMetrics 1996,
# lambda = 0.94 daily) that completes the vol family — ohlc_vol_estimators
# gives range-based estimates, vol_term_structure the horizon curve, and
# this the recency-weighted filter every risk engine actually runs.
# sigma^2_t = (1 - lambda) * sum_k lambda^k r^2_{t-k}, truncated at 60
# lags (lambda^60 ~ 0.024: the dropped tail is < 2.5% of the weight and
# is part of the operator definition, not an approximation both engines
# could disagree on).
#
# Determinism: log returns quantized to the integer 1e4 grid and
# winsorized to |ln ret| <= 20 (an e^20 daily move is data corruption,
# and the clamp makes the term product r^2 * w <= 4e18 fit int64 BY
# CONSTRUCTION — no silent-wrap risk of the kind the r9 advice flagged);
# the lag weights are Python-computed integers round(0.94^k * 1e8)
# EMBEDDED IN BOTH ENGINES' plans, so no cross-libm pow() is ever
# evaluated at query time. Terms are exact int64; the 60-term sum
# accumulates in decimal(38,0) (Spark) / HUGEINT (DuckDB); one sqrt on
# identical doubles finishes.
#
# Scale shape (Spark): one partitionBy(code) ordered pass; the trailing
# 60-return window rides a collect_list whose JVM zip_with/aggregate
# does rows x 60 work with no Python and no self-join — the same
# bounded-array idiom as ts_rank_argmax_decay/theil_sen_trend_w20. The
# oracle uses the rows x 60 lag self-join instead (deliberately
# independent construction).
# ---------------------------------------------------------------------------
_EWMA_LAM = 0.94
_EWMA_K = 60
_EWMA_WS = 100_000_000  # weight grid: wq_k = round(lambda^k * 1e8)
_EWMA_WQ = [round(_EWMA_LAM**k * _EWMA_WS) for k in range(_EWMA_K)]
_EWMA_CAP = 200_000  # |ln ret| <= 20 on the 1e4 grid


@query(
    "ewma_vol_riskmetrics",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CASE WHEN close > 0
                     AND LAG(close) OVER (PARTITION BY code ORDER BY d) > 0
                    THEN GREATEST(-{_EWMA_CAP}, LEAST({_EWMA_CAP},
                         CAST(ROUND(ln(close / LAG(close) OVER
                             (PARTITION BY code ORDER BY d))*{_FM_S},0) AS BIGINT)))
               END AS rq
        FROM bars QUALIFY rq IS NOT NULL
    ), rets2 AS (
        SELECT code, d, rq,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY d) AS i
        FROM rets
    ), wq(k, w) AS (
        VALUES {", ".join(f"({k}, {w})" for k, w in enumerate(_EWMA_WQ))}
    ), terms AS (
        SELECT a.code, a.d, a.i, b.rq AS rqj, w.w
        FROM rets2 a
        JOIN rets2 b ON a.code = b.code AND b.i BETWEEN a.i - {_EWMA_K - 1} AND a.i
        JOIN wq w ON w.k = a.i - b.i
    ), agg AS (
        SELECT code, d, CAST(COUNT(*) AS BIGINT) AS n_obs,
               SUM(rqj*rqj*w) AS s
        FROM terms GROUP BY code, d, i
    )
    SELECT code, d, n_obs,
           FLOOR(sqrt((0.06 * (CAST(s AS DOUBLE)/1e16)) * 252)*1000000 + 0.5)
               /1000000.0 AS ewma_vol
    FROM agg WHERE n_obs >= 20
    """,
)
def ewma_vol_riskmetrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    prev = F.lag("close").over(w)
    rq_raw = F.when(
        (F.col("close") > 0) & (prev > 0),
        F.round(F.log(F.col("close") / prev) * _FM_S, 0).cast("long"),
    )
    # the clamp must live INSIDE the validity gate: greatest/least on
    # BOTH engines ignore NULL arguments, so clamping a NULL return
    # would resurrect it as +/-CAP (caught by the python golden)
    rq = F.when(
        rq_raw.isNotNull(),
        F.greatest(F.lit(-_EWMA_CAP), F.least(F.lit(_EWMA_CAP), rq_raw)),
    )
    rets = bars.select("code", "d", rq.alias("rq")).filter(F.col("rq").isNotNull())
    roll = Window.partitionBy("code").orderBy("d").rowsBetween(1 - _EWMA_K, 0)
    # arr[0] = current return, arr[k] = k-lagged (window order is ascending)
    arr = F.reverse(F.collect_list("rq").over(roll))
    wq_lit = F.array(*[F.lit(x).cast("long") for x in _EWMA_WQ])
    with_arr = rets.select(
        "code", "d", arr.alias("arr"), F.size(arr).alias("n_obs")
    ).filter(F.col("n_obs") >= 20)
    terms = F.zip_with(
        F.col("arr"),
        F.slice(wq_lit, 1, F.col("n_obs")),
        lambda r, wgt: r * r * wgt,  # <= 4e18 by the winsor cap: fits int64
    )
    s = F.aggregate(
        terms,
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x.cast("decimal(20,0)"),
    )
    return with_arr.select(
        "code",
        "d",
        F.col("n_obs").cast("long").alias("n_obs"),
        round6(
            F.sqrt((F.lit(0.06) * (s.cast("double") / F.lit(1e16))) * F.lit(252))
        ).alias("ewma_vol"),
    )


# ---------------------------------------------------------------------------
# Corwin-Schultz high-low spread estimator (new r10): the bid-ask spread
# proxy that needs only daily highs and lows (Corwin & Schultz 2012, "A
# Simple Way to Estimate Bid-Ask Spreads from Daily High and Low
# Prices") — completing the microstructure family next to
# roll_spread_estimator (covariance proxy), kyle_lambda_daily (price
# impact), and amihud_illiquidity (dollar-volume impact). Over each
# consecutive-day pair: beta = ln(H_t/L_t)^2 + ln(H_t+1/L_t+1)^2, gamma
# = ln(H2/L2)^2 over the two-day range, alpha = (sqrt(2*beta) -
# sqrt(beta))/(3 - 2*sqrt(2)) - sqrt(gamma/(3 - 2*sqrt(2))), spread
# S = 2(e^alpha - 1)/(1 + e^alpha), floored at 0 per the paper's
# negative-estimate convention. Per code: pair count, positive-estimate
# count, mean and max spread.
#
# Determinism: ln(H/L) is quantized to the integer 1e6 grid per day
# (the parkinson/garman-klass convention), so beta/gamma are identical
# doubles on both engines and every sqrt is IEEE-exact on identical
# inputs. The one non-exact libm call is exp(alpha): Java Math.exp and
# DuckDB's C libm may differ in the last ulp (~1e-16 relative), and the
# per-pair spread is then quantized to a 1e-8 grid — a flip needs the
# true value within ~1e-16 of a grid boundary, ~1e-8 probability per
# row; accepted and documented here (same class as residual_momentum's
# round6 quotient note).
#
# Scale shape: one partitionBy(code) ordered pass for the
# consecutive-day lead, one code-keyed aggregate. No joins, no Python.
# ---------------------------------------------------------------------------
@query(
    "corwin_schultz_spread",
    oracle=f"""
    WITH {O_BARS},
    v AS (
        SELECT code, d, high, low,
               CASE WHEN low > 0
                    THEN CAST(ROUND(ln(high/low)*1000000,0) AS BIGINT) END AS x
        FROM bars
    ), p AS (
        SELECT code, d, x,
               LEAD(x) OVER w AS xn,
               GREATEST(high, LEAD(high) OVER w) AS h2,
               LEAST(low, LEAD(low) OVER w) AS l2
        FROM v WINDOW w AS (PARTITION BY code ORDER BY d)
    ), q AS (
        SELECT code, x, xn,
               CASE WHEN l2 > 0
                    THEN CAST(ROUND(ln(h2/l2)*1000000,0) AS BIGINT) END AS g
        FROM p WHERE x IS NOT NULL AND xn IS NOT NULL
    ), e AS (
        SELECT code,
               CAST(x*x + xn*xn AS DOUBLE)/1e12 AS beta,
               CAST(g*g AS DOUBLE)/1e12 AS gamma
        FROM q WHERE g IS NOT NULL
    ), a AS (
        SELECT code,
               (sqrt(2*beta) - sqrt(beta))/(3 - 2*sqrt(2))
                   - sqrt(gamma/(3 - 2*sqrt(2))) AS alpha
        FROM e
    ), s AS (
        SELECT code,
               CAST(ROUND(GREATEST(2*(exp(alpha)-1)/(1+exp(alpha)), 0.0)
                          *100000000,0) AS BIGINT) AS sq
        FROM a
    )
    SELECT code, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(count_if(sq > 0) AS BIGINT) AS n_pos,
           FLOOR((SUM(sq)/100000000.0/COUNT(*))*1000000 + 0.5)/1000000.0
               AS mean_cs_spread,
           FLOOR((MAX(sq)/100000000.0)*1000000 + 0.5)/1000000.0
               AS max_cs_spread
    FROM s GROUP BY code
    """,
)
def corwin_schultz_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    x = F.when(
        F.col("low") > 0,
        F.round(F.log(F.col("high") / F.col("low")) * 1_000_000, 0).cast("long"),
    )
    v = bars.select("code", "d", "high", "low", x.alias("x"))
    p = v.select(
        "code",
        F.col("x"),
        F.lead("x").over(w).alias("xn"),
        F.greatest("high", F.lead("high").over(w)).alias("h2"),
        F.least("low", F.lead("low").over(w)).alias("l2"),
    ).filter(F.col("x").isNotNull() & F.col("xn").isNotNull())
    g = F.when(
        F.col("l2") > 0,
        F.round(F.log(F.col("h2") / F.col("l2")) * 1_000_000, 0).cast("long"),
    )
    q = p.select("code", "x", "xn", g.alias("g")).filter(F.col("g").isNotNull())
    beta = (F.col("x") * F.col("x") + F.col("xn") * F.col("xn")).cast("double") / F.lit(
        1e12
    )
    gamma = (F.col("g") * F.col("g")).cast("double") / F.lit(1e12)
    k = F.lit(3.0) - F.lit(2.0) * F.sqrt(F.lit(2.0))
    alpha = (F.sqrt(F.lit(2.0) * beta) - F.sqrt(beta)) / k - F.sqrt(gamma / k)
    spread = F.lit(2.0) * (F.exp(alpha) - 1) / (F.lit(1.0) + F.exp(alpha))
    sq = F.round(F.greatest(spread, F.lit(0.0)) * 100_000_000, 0).cast("long")
    s = q.select("code", sq.alias("sq"))
    return s.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_if(F.col("sq") > 0).alias("n_pos"),
        round6(F.sum("sq") / 100_000_000.0 / F.count(F.lit(1))).alias(
            "mean_cs_spread"
        ),
        round6(F.max("sq") / 100_000_000.0).alias("max_cs_spread"),
    )


# ---------------------------------------------------------------------------
# Engle-Granger cointegration screen (new r10): the statistical-arbitrage
# pair test proper — top_correlated_pairs finds candidates by return
# correlation, pairs_spread_zscore trades ONE chosen pair; this closes
# the loop with the test that justifies the choice (Engle & Granger
# 1987). For the top 20 return-correlated pairs: step 1 regresses
# ln-price of b on ln-price of a (hedge beta + intercept) over the
# overlapping days; step 2 runs the no-constant ADF regression
# delta_e_t = rho * e_{t-1} on the step-1 residual and reports the
# t-statistic (more negative = stronger mean reversion = cointegrated)
# plus the implied half-life -ln(2)/ln(1+rho).
#
# Determinism: ln-levels quantized to the integer 1e6 grid; both OLS
# passes accumulate co-moments in decimal(20/38,0) (Spark) / HUGEINT
# (DuckDB) — ln(close) of any positive double is within +-745, so the
# squared-level products would fit int64 only with ~2x margin at 30
# days; decimal removes the silent-wrap risk entirely (the
# mean_reversion_halflife convention). beta/alpha/residual arithmetic
# runs on identical doubles; residuals re-quantize to a 1e8 grid before
# pass 2, so pass 2 is again exact-integer. The ln(1+rho) half-life is
# the one accepted cross-libm ulp risk (round6 grid, same class as
# residual_momentum's documented quotient note).
#
# Scale shape: the candidate scan is the universe^2-bounded date-keyed
# self-join documented at top_correlated_pairs (blocked by sector or a
# factor model at 100 TB); everything after is keyed by the 20-row pair
# list — broadcast onto the levels panel, two partitionBy(pair) passes.
# ---------------------------------------------------------------------------
def _o_coint(blocked: bool) -> str:
    nblk = f"{_O_NBLK},\n    " if blocked else ""
    return f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1 AS ret
        FROM bars QUALIFY ret IS NOT NULL
    ),
    {nblk}{_o_cand(blocked, limit=20)},
    lev AS (
        SELECT code, d, CAST(ROUND(ln(close)*1000000,0) AS BIGINT) AS lq
        FROM bars WHERE close > 0
    ),
    pp AS (
        SELECT c.ca, c.cb, c.n_days, c.c, x.d,
               x.lq AS xq, y.lq AS yq
        FROM cand c
        JOIN lev x ON x.code = c.ca
        JOIN lev y ON y.code = c.cb AND y.d = x.d
    ),
    mom_a AS (
        SELECT ca, cb, MAX(n_days) AS n_days, MAX(c) AS c,
               COUNT(*) AS n,
               SUM(CAST(xq AS HUGEINT)) AS sx,
               SUM(CAST(yq AS HUGEINT)) AS sy,
               SUM(CAST(xq AS HUGEINT)*yq) AS sxy,
               SUM(CAST(xq AS HUGEINT)*xq) AS sxx
        FROM pp GROUP BY ca, cb
    ),
    fit AS (
        SELECT ca, cb, n_days, c,
               CAST(n*sxy - sx*sy AS DOUBLE)
                   / CAST(n*sxx - sx*sx AS DOUBLE) AS b,
               n, sx, sy
        FROM mom_a WHERE n >= 20 AND n*sxx - sx*sx <> 0
    ),
    fit2 AS (
        SELECT ca, cb, n_days, c, b,
               (CAST(sy AS DOUBLE) - b*CAST(sx AS DOUBLE))/n AS a0
        FROM fit
    ),
    resid AS (
        SELECT p.ca, p.cb, p.d,
               CAST(ROUND((p.yq - f.b*p.xq - f.a0)*100, 0) AS BIGINT) AS eq
        FROM pp p JOIN fit2 f ON p.ca = f.ca AND p.cb = f.cb
    ),
    difs AS (
        SELECT ca, cb, eq,
               LAG(eq) OVER (PARTITION BY ca, cb ORDER BY d) AS el
        FROM resid
    ),
    mom_b AS (
        SELECT ca, cb,
               CAST(COUNT(*) AS BIGINT) AS nd,
               SUM(CAST(el AS HUGEINT)*(eq-el)) AS sed,
               SUM(CAST(el AS HUGEINT)*el) AS see,
               SUM(CAST(eq-el AS HUGEINT)*(eq-el)) AS sdd
        FROM difs WHERE el IS NOT NULL GROUP BY ca, cb
    ),
    adf AS (
        SELECT ca, cb, nd,
               CAST(sed AS DOUBLE)/CAST(see AS DOUBLE) AS rho,
               CAST(sdd AS DOUBLE) AS sddd, CAST(sed AS DOUBLE) AS sedd,
               CAST(see AS DOUBLE) AS seed
        FROM mom_b WHERE nd >= 3 AND see > 0
    )
    SELECT f.ca AS code_a, f.cb AS code_b, f.n_days, f.c AS correlation,
           FLOOR(f.b*1000000 + 0.5)/1000000.0 AS hedge_beta,
           CASE WHEN a.rho IS NOT NULL
                 AND (a.sddd - a.rho*a.sedd) > 0
                THEN FLOOR((a.rho / sqrt((a.sddd - a.rho*a.sedd)
                                         /(a.nd - 1)/a.seed))*1000000 + 0.5)
                     /1000000.0
           END AS adf_t,
           CASE WHEN a.rho > -1 AND a.rho < 0
                THEN FLOOR((-ln(2)/ln(1+a.rho))*1000000 + 0.5)/1000000.0
           END AS halflife_days
    FROM fit2 f LEFT JOIN adf a ON f.ca = a.ca AND f.cb = a.cb
    """


@query("cointegration_screen", oracle=_o_coint(blocked=False))
def cointegration_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _coint_impl(spark, sf_dir, n_blocks=None)


@query("cointegration_screen_blocked", oracle=_o_coint(blocked=True))
def cointegration_screen_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked production twin (new r11): identical Engle-Granger
    formula, candidate domain restricted to universe-sized code blocks —
    see the pair-domain blocking block comment at
    top_correlated_pairs_blocked (10× replica: pair domain 112M → 3.25M,
    candidate wall ~90 s → 7.9 s; universe-linear with block count ∝
    universe)."""
    return _coint_impl(spark, sf_dir, n_blocks=_pair_blocks(spark, sf_dir))


def _coint_impl(
    spark: SparkSession, sf_dir: str, n_blocks: int | None
) -> DataFrame:
    from ..session import managed_persist

    bars = managed_persist(bars_table(spark, sf_dir))
    w = Window.partitionBy("code").orderBy("d")
    rets = bars.select(
        "code", "d", (F.col("close") / F.lag("close").over(w) - 1).alias("ret")
    ).filter(F.col("ret").isNotNull())
    cand = _cand_pairs(rets, n_blocks, limit=20)
    lev = bars.filter(F.col("close") > 0).select(
        "code", "d", F.round(F.log("close") * 1_000_000, 0).cast("long").alias("lq")
    )
    x = lev.select(F.col("code").alias("ca"), "d", F.col("lq").alias("xq"))
    y = lev.select(
        F.col("code").alias("cb_y"), F.col("d").alias("d_y"), F.col("lq").alias("yq")
    )
    pp = managed_persist(
        x.join(F.broadcast(cand), "ca")
        .join(y, (F.col("cb") == F.col("cb_y")) & (F.col("d") == F.col("d_y")))
        .select("ca", "cb", "d", "n_days", "c", "xq", "yq")
    )
    xd = F.col("xq").cast("decimal(20,0)")
    yd = F.col("yq").cast("decimal(20,0)")
    mom_a = pp.groupBy("ca", "cb").agg(
        F.max("n_days").alias("n_days"),
        F.max("c").alias("c"),
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    nd = F.col("n").cast("decimal(20,0)")
    den = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    fit = (
        mom_a.filter((F.col("n") >= 20) & (den != 0))
        .select(
            "ca",
            "cb",
            "n_days",
            "c",
            ((nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
             / den.cast("double")).alias("b"),
            "n",
            "sx",
            "sy",
        )
    )
    fit2 = (
        fit.select(
            "ca",
            "cb",
            "n_days",
            "c",
            "b",
            ((F.col("sy").cast("double") - F.col("b") * F.col("sx").cast("double"))
             / F.col("n")).alias("a0"),
        )
    )
    resid = pp.join(
        F.broadcast(fit2.select("ca", "cb", "b", "a0")), ["ca", "cb"]
    ).select(
        "ca",
        "cb",
        "d",
        F.round((F.col("yq") - F.col("b") * F.col("xq") - F.col("a0")) * 100, 0)
        .cast("long")
        .alias("eq"),
    )
    wp = Window.partitionBy("ca", "cb").orderBy("d")
    difs = resid.select(
        "ca", "cb", "eq", F.lag("eq").over(wp).alias("el")
    ).filter(F.col("el").isNotNull())
    eld = F.col("el").cast("decimal(20,0)")
    ded = (F.col("eq") - F.col("el")).cast("decimal(20,0)")
    mom_b = difs.groupBy("ca", "cb").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum(eld * ded).alias("sed"),
        F.sum(eld * eld).alias("see"),
        F.sum(ded * ded).alias("sdd"),
    )
    adf = mom_b.filter((F.col("nd") >= 3) & (F.col("see") > 0)).select(
        "ca",
        "cb",
        "nd",
        (F.col("sed").cast("double") / F.col("see").cast("double")).alias("rho"),
        F.col("sdd").cast("double").alias("sddd"),
        F.col("sed").cast("double").alias("sedd"),
        F.col("see").cast("double").alias("seed"),
    )
    # broadcast the RIGHT side of the left join (broadcasting the left
    # side of a left-outer is unsupported and was a no-op warning)
    out = fit2.join(F.broadcast(adf), ["ca", "cb"], "left")
    var_num = F.col("sddd") - F.col("rho") * F.col("sedd")
    adf_t = F.when(
        F.col("rho").isNotNull() & (var_num > 0),
        round6(
            F.col("rho")
            / F.sqrt(var_num / (F.col("nd") - 1) / F.col("seed"))
        ),
    )
    hl = F.when(
        (F.col("rho") > -1) & (F.col("rho") < 0),
        round6(-F.log(F.lit(2.0)) / F.log(F.lit(1.0) + F.col("rho"))),
    )
    return out.select(
        F.col("ca").alias("code_a"),
        F.col("cb").alias("code_b"),
        "n_days",
        F.col("c").alias("correlation"),
        round6(F.col("b")).alias("hedge_beta"),
        adf_t.alias("adf_t"),
        hl.alias("halflife_days"),
    )


# ---------------------------------------------------------------------------
# Ulcer index + Martin ratio (new r10): the drawdown-PAIN complement to
# backtest_drawdown (depth) and underwater_duration (time) — Peter
# Martin's ulcer index is the RMS of the running percentage drawdown,
# and the Martin ratio (a.k.a. ulcer performance index) divides total
# return by it, penalizing strategies that grind underwater even when
# max drawdown looks shallow.
#
# Determinism: closes on the integer cents grid; the running max is an
# integer window max; the per-day drawdown ratio cents/runmax is one
# IEEE division on identical integers, quantized to a 1e8 grid before
# squaring; the squared-drawdown sum accumulates in decimal(38,0) /
# HUGEINT. Rows before the first positive close carry no drawdown
# definition and are excluded on both engines.
#
# Scale shape: one partitionBy(code) ordered pass (running max + the
# first/last row_number picks), one code-keyed aggregate. No joins.
# ---------------------------------------------------------------------------
@query(
    "ulcer_index_martin",
    oracle=f"""
    WITH {O_BARS},
    c AS (
        SELECT code, d, CAST(ROUND(close*100,0) AS BIGINT) AS cents
        FROM bars
    ), r AS (
        SELECT code, d, cents,
               MAX(cents) OVER (PARTITION BY code ORDER BY d
                                ROWS UNBOUNDED PRECEDING) AS mx
        FROM c
    ), p AS (
        SELECT code, d, cents, mx,
               CAST(ROUND((CAST(cents AS DOUBLE)/mx - 1)*100000000,0) AS BIGINT)
                   AS dq,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY d) AS rf,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY d DESC) AS rl
        FROM r WHERE mx > 0
    ), agg AS (
        SELECT code,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               SUM(CAST(dq AS HUGEINT)*dq) AS s2,
               MIN(dq) AS mindq,
               MAX(CASE WHEN rf = 1 THEN cents END) AS cf,
               MAX(CASE WHEN rl = 1 THEN cents END) AS cl
        FROM p GROUP BY code
    ), m AS (
        SELECT code, n_days,
               sqrt(CAST(s2 AS DOUBLE)/n_days)/1000000.0 AS ui,
               mindq/1000000.0 AS maxdd,
               CASE WHEN cf > 0
                    THEN (CAST(cl AS DOUBLE)/cf - 1)*100 END AS tr_pct
        FROM agg
    )
    SELECT code, n_days,
           FLOOR(ui*1000000 + 0.5)/1000000.0 AS ulcer_index,
           FLOOR(maxdd*1000000 + 0.5)/1000000.0 AS max_drawdown_pct,
           CASE WHEN ui > 0 AND tr_pct IS NOT NULL
                THEN FLOOR((tr_pct/ui)*1000000 + 0.5)/1000000.0
           END AS martin_ratio
    FROM m
    """,
)
def ulcer_index_martin(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    cents = F.round(F.col("close") * 100, 0).cast("long")
    r = bars.select(
        "code",
        "d",
        cents.alias("cents"),
        F.max(cents).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("mx"),
    )
    p = r.filter(F.col("mx") > 0).select(
        "code",
        "cents",
        F.round((F.col("cents").cast("double") / F.col("mx") - 1) * 100_000_000, 0)
        .cast("long")
        .alias("dq"),
        F.row_number().over(w).alias("rf"),
        F.row_number()
        .over(Window.partitionBy("code").orderBy(F.col("d").desc()))
        .alias("rl"),
    )
    dqd = F.col("dq").cast("decimal(20,0)")
    agg = p.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(dqd * dqd).alias("s2"),
        F.min("dq").alias("mindq"),
        F.max(F.when(F.col("rf") == 1, F.col("cents"))).alias("cf"),
        F.max(F.when(F.col("rl") == 1, F.col("cents"))).alias("cl"),
    )
    ui = F.sqrt(F.col("s2").cast("double") / F.col("n_days")) / 1_000_000.0
    tr_pct = F.when(
        F.col("cf") > 0, (F.col("cl").cast("double") / F.col("cf") - 1) * 100
    )
    m = agg.select(
        "code",
        "n_days",
        ui.alias("ui"),
        (F.col("mindq") / 1_000_000.0).alias("maxdd"),
        tr_pct.alias("tr_pct"),
    )
    return m.select(
        "code",
        "n_days",
        round6(F.col("ui")).alias("ulcer_index"),
        round6(F.col("maxdd")).alias("max_drawdown_pct"),
        F.when(
            (F.col("ui") > 0) & F.col("tr_pct").isNotNull(),
            round6(F.col("tr_pct") / F.col("ui")),
        ).alias("martin_ratio"),
    )


# ---------------------------------------------------------------------------
# VPIN — volume-synchronized probability of informed trading (new r10):
# Easley, Lopez de Prado & O'Hara (2012)'s flow-toxicity measure, the
# microstructure family's order-flow member next to kyle_lambda_daily
# (price impact) and the spread estimators. Per code: trades are signed
# by the TICK RULE (sign of the price change, carrying the last nonzero
# sign through ties — a stateful classification expressed as
# last_value(ignore nulls) on both engines, no recursion), volume is
# partitioned into ~20 equal-volume buckets, and VPIN is the
# volume-weighted mean absolute order-flow imbalance sum|buy−sell| /
# sum(vol). Whole trades are assigned to the bucket of their cumulative
# volume (the event-level no-split simplification; production VPIN
# splits straddling trades — at this event granularity the difference
# is one trade per bucket boundary, and the simplification is part of
# the operator definition both engines share).
#
# Determinism: everything is integer (signs in {-1,1}, integer volumes,
# integer cumulative sums, integer bucket ids) until ONE final division
# quantized by round6 — no float accumulation anywhere.
#
# Scale shape: one partitionBy(code) ordered pass (sign carry +
# cumulative volume), one (code, bucket) aggregate, one code aggregate.
# ---------------------------------------------------------------------------
@query(
    "vpin_flow_toxicity",
    oracle="""
    WITH t AS (
        SELECT user_id AS code, ts, event_id, value AS p,
               CAST(regexp_extract(props, '(\\d+)', 1) AS INT) AS k
        FROM events
    ), sgn0 AS (
        SELECT code, ts, event_id, k,
               CASE WHEN p > LAG(p) OVER w THEN 1
                    WHEN p < LAG(p) OVER w THEN -1 END AS s0
        FROM t WINDOW w AS (PARTITION BY code ORDER BY ts, event_id)
    ), sgn AS (
        SELECT code, ts, event_id, k,
               LAST_VALUE(s0 IGNORE NULLS) OVER
                   (PARTITION BY code ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS s
        FROM sgn0
    ), signed AS (
        SELECT code, ts, event_id, k, s,
               SUM(CAST(k AS BIGINT)) OVER
                   (PARTITION BY code ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(CAST(k AS BIGINT)) OVER (PARTITION BY code) AS total
        FROM sgn WHERE s IS NOT NULL
    ), bucketed AS (
        SELECT code, total, GREATEST(cum - 1, 0) // ((total + 19) // 20) AS bucket,
               s * CAST(k AS BIGINT) AS sv, CAST(k AS BIGINT) AS v
        FROM signed WHERE total > 0
    ), per_bucket AS (
        SELECT code, bucket,
               ABS(SUM(sv)) AS imb, SUM(v) AS vol
        FROM bucketed GROUP BY code, bucket
    )
    SELECT code,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(vol) AS BIGINT) AS total_vol,
           FLOOR((CAST(SUM(imb) AS DOUBLE)/CAST(SUM(vol) AS DOUBLE))
                 *1000000 + 0.5)/1000000.0 AS vpin
    FROM per_bucket GROUP BY code
    """,
)
def vpin_flow_toxicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("code"),
        "ts",
        "event_id",
        F.col("value").alias("p"),
        F.regexp_extract("props", r"(\d+)", 1).cast("int").alias("k"),
    )
    w = Window.partitionBy("code").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    s0 = (
        F.when(F.col("p") > F.lag("p").over(w), 1)
        .when(F.col("p") < F.lag("p").over(w), -1)
    )
    sgn = ev.select(
        "code", "ts", "event_id", "k", s0.alias("s0")
    ).select(
        "code",
        "ts",
        "event_id",
        "k",
        F.last("s0", ignorenulls=True).over(wc).alias("s"),
    )
    signed = sgn.filter(F.col("s").isNotNull()).select(
        "code",
        "k",
        "s",
        F.sum(F.col("k").cast("long")).over(wc).alias("cum"),
        F.sum(F.col("k").cast("long")).over(Window.partitionBy("code")).alias("total"),
    )
    # integer floor-div: Spark has no // operator — use SQL DIV via expr.
    # GREATEST(cum-1, 0): a leading k=0 row gives cum=0, where truncating
    # (Spark DIV / DuckDB //) and flooring (Python //) division disagree
    # on the negative operand — clamping to 0 makes all three agree
    bucketed = signed.filter(F.col("total") > 0).select(
        "code",
        F.expr("GREATEST(cum - 1, 0) DIV ((total + 19) DIV 20)").alias("bucket"),
        (F.col("s") * F.col("k").cast("long")).alias("sv"),
        F.col("k").cast("long").alias("v"),
    )
    per_bucket = bucketed.groupBy("code", "bucket").agg(
        F.abs(F.sum("sv")).alias("imb"), F.sum("v").alias("vol")
    )
    return per_bucket.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("vol").alias("total_vol"),
        round6(
            F.sum("imb").cast("double") / F.sum("vol").cast("double")
        ).alias("vpin"),
    )


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test (new r10): the formal "is there ANY serial
# correlation in the first 10 lags" test that completes the time-series
# diagnostics family — acf_lag_profile reports the individual lag
# correlations, variance_ratio_test targets the random-walk null at two
# horizons, and Ljung-Box (1978) aggregates: Q = n(n+2) * sum_k
# rho_k^2/(n-k), compared against the chi-square(10) 95% critical value
# 18.307.
#
# Determinism: sample autocorrelations (full-sample mean and
# denominator, the textbook rho_k — NOT a Pearson corr of lagged
# pairs) are computed on SCALED-CENTERED integers m_t = n*rq_t − S
# (rq on the 1e4 grid, S = sum rq): (r_t − rbar)(r_{t−k} − rbar) =
# m_t*m_{t−k}/n², and the n² cancels in rho_k, so every rho is a ratio
# of exact integers (products in decimal(38,0)/HUGEINT — |m| can reach
# ~6e9 on this corpus, so int64 products would wrap). Q's arithmetic
# then runs on identical doubles; the reject flag compares them to an
# identical constant.
#
# Scale shape: one code-keyed ordered pass (10 lags in one window
# chain), one code-keyed 12-sum aggregate. No joins.
# ---------------------------------------------------------------------------
_LB_LAGS = 10
_LB_CRIT = 18.307  # chi-square(10), 95%


_LB_RETS_CTE = f"""rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{_FM_S},0) AS BIGINT)
                   AS rq
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
        QUALIFY rq IS NOT NULL
    )"""

# ARCH series: SQUARED returns on the coarser 1e2 grid — squares of the
# 1e4 grid would push the scaled-centered products past the 128-bit
# accumulators on this corpus's outlier returns; 1%-resolution returns
# keep m*m <= ~1e27 with two decades of headroom, and the grid is part
# of the operator definition shared by both engines.
_ARCH_S = 100
_LB_ARCH_CTE = f"""rets AS (
        SELECT code, d, r*r AS rq FROM (
            SELECT code, d,
                   CAST(ROUND((close / LAG(close) OVER w - 1)*{_ARCH_S},0)
                        AS BIGINT) AS r
            FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
        ) WHERE r IS NOT NULL
    )"""


def _lb_q_sql(rets_cte: str = _LB_RETS_CTE) -> str:
    terms = " + ".join(
        f"p{k}*p{k}/(n-{k})" for k in range(1, _LB_LAGS + 1)
    )
    lags = ",\n               ".join(
        f"LAG(m,{k}) OVER w AS m{k}" for k in range(1, _LB_LAGS + 1)
    )
    sums = ",\n               ".join(
        f"SUM(m*m{k}) AS c{k}" for k in range(1, _LB_LAGS + 1)
    )
    rhos = ",\n               ".join(
        f"CAST(c{k} AS DOUBLE)/CAST(s0 AS DOUBLE) AS p{k}"
        for k in range(1, _LB_LAGS + 1)
    )
    return f"""
    WITH {O_BARS},
    {rets_cte}, stats AS (
        SELECT code, d, rq,
               COUNT(*) OVER (PARTITION BY code) AS n,
               SUM(rq) OVER (PARTITION BY code) AS s
        FROM rets
    ), cm AS (
        SELECT code, d, n, CAST(n*rq - s AS HUGEINT) AS m
        FROM stats
    ), lagd AS (
        SELECT code, n, m,
               {lags}
        FROM cm WINDOW w AS (PARTITION BY code ORDER BY d)
    ), agg AS (
        SELECT code, MAX(n) AS n, SUM(m*m) AS s0,
               {sums}
        FROM lagd GROUP BY code
        HAVING MAX(n) >= 20
    ), rho AS (
        SELECT code, n,
               {rhos}
        FROM agg WHERE s0 > 0
    ), q AS (
        SELECT code, n,
               CAST(n*(n+2) AS DOUBLE) * ({terms}) AS q10
        FROM rho
    )
    SELECT code, CAST(n AS BIGINT) AS n_obs,
           FLOOR(q10*1000000 + 0.5)/1000000.0 AS lb_q10,
           CAST(q10 > {_LB_CRIT} AS INT) AS reject_5pct
    FROM q
    """


def _lb_q_frame(rets: DataFrame) -> DataFrame:
    """Shared Ljung-Box tail: from a (code, d, rq) series to the
    (code, n_obs, lb_q10, reject_5pct) statistic."""
    w = Window.partitionBy("code").orderBy("d")
    pc = Window.partitionBy("code")
    cm = rets.select(
        "code",
        "d",
        F.count(F.lit(1)).over(pc).alias("n"),
        ((F.count(F.lit(1)).over(pc) * F.col("rq")) - F.sum("rq").over(pc))
        .cast("decimal(20,0)")
        .alias("m"),
    )
    lagd = cm.select(
        "code",
        "n",
        "m",
        *[F.lag("m", k).over(w).alias(f"m{k}") for k in range(1, _LB_LAGS + 1)],
    )
    agg = (
        lagd.groupBy("code")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.col("m") * F.col("m")).alias("s0"),
            *[
                F.sum(F.col("m") * F.col(f"m{k}")).alias(f"c{k}")
                for k in range(1, _LB_LAGS + 1)
            ],
        )
        .filter((F.col("n") >= 20) & (F.col("s0") > 0))
    )
    rho = agg.select(
        "code",
        "n",
        *[
            (F.col(f"c{k}").cast("double") / F.col("s0").cast("double")).alias(
                f"p{k}"
            )
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    terms = [
        F.col(f"p{k}") * F.col(f"p{k}") / (F.col("n") - k)
        for k in range(1, _LB_LAGS + 1)
    ]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    q10 = (F.col("n") * (F.col("n") + 2)).cast("double") * acc
    q = rho.select("code", "n", q10.alias("q10"))
    return q.select(
        "code",
        F.col("n").cast("long").alias("n_obs"),
        round6(F.col("q10")).alias("lb_q10"),
        (F.col("q10") > _LB_CRIT).cast("int").alias("reject_5pct"),
    )


@query("ljung_box_q", oracle=_lb_q_sql())
def ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rq = F.round((F.col("close") / F.lag("close").over(w) - 1) * _FM_S, 0).cast(
        "long"
    )
    rets = bars.select("code", "d", rq.alias("rq")).filter(F.col("rq").isNotNull())
    return _lb_q_frame(rets)


# ---------------------------------------------------------------------------
# ARCH effect (volatility clustering) test (new r10): Ljung-Box Q on the
# SQUARED return series — the practical stand-in for Engle's ARCH LM
# test (the two are asymptotically equivalent diagnostics for
# conditional heteroskedasticity). Squared returns cluster when
# volatility does, so a significant Q on r² with an insignificant Q on
# r is the classic "no return predictability, strong vol
# predictability" signature that motivates the EWMA/GARCH vol family
# (ewma_vol_riskmetrics above). Same exact-integer construction as
# ljung_box_q; see _LB_ARCH_CTE for the grid note.
# ---------------------------------------------------------------------------
@query("arch_effect_q", oracle=_lb_q_sql(_LB_ARCH_CTE))
def arch_effect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    r = F.round((F.col("close") / F.lag("close").over(w) - 1) * _ARCH_S, 0).cast(
        "long"
    )
    rets = (
        bars.select("code", "d", r.alias("r"))
        .filter(F.col("r").isNotNull())
        .select("code", "d", (F.col("r") * F.col("r")).alias("rq"))
    )
    return _lb_q_frame(rets)


# ---------------------------------------------------------------------------
# Tracking error + information ratio vs the equal-weight index (new
# r10): the active-management twins — market_index_history builds the
# benchmark, rolling_beta_market measures co-movement; this measures
# DEVIATION: TE = sample std of the per-day excess return vs the
# equal-weight market, IR = mean excess / TE, annualized sqrt(252).
#
# Determinism: returns on the 1e4 grid; the per-day market mean is
# floor-quantized to a 1e8 grid (sum*1e4 is an exact double well below
# 2^53, one IEEE division by the day's name count), so the excess
# series is integer on the 1e8 grid; its first two moments accumulate
# in decimal/HUGEINT and one sqrt + one division finish.
#
# Scale shape: one code-keyed lag pass, one day-keyed aggregate, one
# day-keyed join back (day-cardinality build side — calendar-bounded),
# one code-keyed aggregate.
# ---------------------------------------------------------------------------
@query(
    "tracking_error_ir",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{_FM_S},0) AS BIGINT)
                   AS rq
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
        QUALIFY rq IS NOT NULL
    ), mkt AS (
        SELECT d, CAST(FLOOR(SUM(rq)*10000.0/COUNT(*) + 0.5) AS BIGINT) AS mq
        FROM rets GROUP BY d
    ), ex AS (
        SELECT r.code, r.rq*10000 - m.mq AS eq
        FROM rets r JOIN mkt m USING (d)
    ), agg AS (
        SELECT code, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(eq AS HUGEINT)) AS se,
               SUM(CAST(eq AS HUGEINT)*eq) AS se2
        FROM ex GROUP BY code HAVING COUNT(*) >= 10
    ), m2 AS (
        SELECT code, n,
               (CAST(n AS DOUBLE)*CAST(se2 AS DOUBLE)
                - CAST(se AS DOUBLE)*CAST(se AS DOUBLE))
                   /n/(n-1) AS var_e,
               CAST(se AS DOUBLE)/n AS mean_e
        FROM agg
    )
    SELECT code, n AS n_days,
           FLOOR((sqrt(var_e)/100000000.0)*1000000 + 0.5)/1000000.0
               AS tracking_error,
           CASE WHEN var_e > 0
                THEN FLOOR((mean_e/sqrt(var_e)*sqrt(252))*1000000 + 0.5)
                     /1000000.0
           END AS info_ratio_ann
    FROM m2 WHERE var_e >= 0
    """,
)
def tracking_error_ir(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rq = F.round((F.col("close") / F.lag("close").over(w) - 1) * _FM_S, 0).cast(
        "long"
    )
    rets = bars.select("code", "d", rq.alias("rq")).filter(F.col("rq").isNotNull())
    mkt = rets.groupBy("d").agg(
        F.floor(F.sum("rq") * 10000.0 / F.count(F.lit(1)) + F.lit(0.5))
        .cast("long")
        .alias("mq")
    )
    ex = rets.join(mkt, "d").select(
        "code", (F.col("rq") * 10000 - F.col("mq")).alias("eq")
    )
    eqd = F.col("eq").cast("decimal(20,0)")
    agg = (
        ex.groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(eqd).alias("se"),
            F.sum(eqd * eqd).alias("se2"),
        )
        .filter(F.col("n") >= 10)
    )
    var_e = (
        (F.col("n").cast("double") * F.col("se2").cast("double")
         - F.col("se").cast("double") * F.col("se").cast("double"))
        / F.col("n")
        / (F.col("n") - 1)
    )
    mean_e = F.col("se").cast("double") / F.col("n")
    m2 = agg.select(
        "code", "n", var_e.alias("var_e"), mean_e.alias("mean_e")
    ).filter(F.col("var_e") >= 0)
    return m2.select(
        "code",
        F.col("n").alias("n_days"),
        round6(F.sqrt("var_e") / 100_000_000.0).alias("tracking_error"),
        F.when(
            F.col("var_e") > 0,
            round6(
                F.col("mean_e") / F.sqrt("var_e") * F.sqrt(F.lit(252.0))
            ),
        ).alias("info_ratio_ann"),
    )


# ---------------------------------------------------------------------------
# Inverse-volatility portfolio backtest (new r10): the simplest risk-
# parity construction — weight each name by the reciprocal of its
# trailing-20-day volatility (min 10 obs), rebalance daily, earn the
# NEXT day's return (weights from day d close, return d+1: no
# look-ahead). Emits the daily portfolio return and the cumulative log
# return — the strategy-composition layer over the vol estimators.
#
# Determinism: trailing vol from decimal/HUGEINT integer moments of
# 1e4-grid returns; the raw weight is floor-quantized to an integer
# (1e6/vol), so the day's weight normalization and the weighted return
# are ratios of exact integer sums (products in decimal — tiny-vol
# names make wq large); ln(1+r) on identical doubles is the one
# accepted cross-libm ulp risk (round6/1e8 grids). Days where the
# portfolio return is <= -100% contribute NULL to the log path (both
# engines skip NULLs in the cumulative sum).
#
# Scale shape: one code-keyed ordered pass (trailing moments + lead),
# one day-keyed aggregate, one day-grain cumulative window (calendar-
# bounded — allow-listed).
# ---------------------------------------------------------------------------
@query(
    "inverse_vol_portfolio",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{_FM_S},0) AS BIGINT)
                   AS rq
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
        QUALIFY rq IS NOT NULL
    ), mom AS (
        SELECT code, d, rq,
               LEAD(rq) OVER (PARTITION BY code ORDER BY d) AS rq_next,
               COUNT(*) OVER tw AS n_w,
               SUM(CAST(rq AS HUGEINT)) OVER tw AS s1,
               SUM(CAST(rq AS HUGEINT)*rq) OVER tw AS s2
        FROM rets
        WINDOW w AS (PARTITION BY code ORDER BY d),
               tw AS (PARTITION BY code ORDER BY d
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), vol AS (
        SELECT code, d, rq_next, n_w,
               sqrt((CAST(n_w AS DOUBLE)*CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                    /n_w/(n_w-1))/{_FM_S} AS v
        FROM mom WHERE n_w >= 10
    ), wts AS (
        SELECT code, d, rq_next,
               CAST(FLOOR(1000000.0/v + 0.5) AS BIGINT) AS wq
        FROM vol WHERE v > 0 AND rq_next IS NOT NULL
    ), port AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n_names,
               CAST(SUM(CAST(wq AS HUGEINT)*rq_next) AS DOUBLE)
                   / CAST(SUM(CAST(wq AS HUGEINT)) AS DOUBLE) / {_FM_S} AS pr
        FROM wts GROUP BY d
    ), logd AS (
        SELECT d, n_names, pr,
               CASE WHEN pr > -1
                    THEN CAST(FLOOR(ln(1+pr)*100000000 + 0.5) AS BIGINT)
               END AS lq
        FROM port
    )
    SELECT d, n_names,
           FLOOR(pr*1000000 + 0.5)/1000000.0 AS port_ret,
           FLOOR((SUM(lq) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                  /100000000.0)*1000000 + 0.5)/1000000.0 AS cum_log_ret
    FROM logd
    """,
)
def inverse_vol_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    tw = w.rowsBetween(-19, 0)
    rq = F.round((F.col("close") / F.lag("close").over(w) - 1) * _FM_S, 0).cast(
        "long"
    )
    rets = bars.select("code", "d", rq.alias("rq")).filter(F.col("rq").isNotNull())
    rqd = F.col("rq").cast("decimal(20,0)")
    mom = rets.select(
        "code",
        "d",
        F.lead("rq").over(w).alias("rq_next"),
        F.count(F.lit(1)).over(tw).alias("n_w"),
        F.sum(rqd).over(tw).alias("s1"),
        F.sum(rqd * rqd).over(tw).alias("s2"),
    ).filter(F.col("n_w") >= 10)
    v = (
        F.sqrt(
            (F.col("n_w").cast("double") * F.col("s2").cast("double")
             - F.col("s1").cast("double") * F.col("s1").cast("double"))
            / F.col("n_w")
            / (F.col("n_w") - 1)
        )
        / _FM_S
    )
    vol = mom.select("code", "d", "rq_next", v.alias("v"))
    wts = vol.filter((F.col("v") > 0) & F.col("rq_next").isNotNull()).select(
        "d",
        "rq_next",
        F.floor(1_000_000.0 / F.col("v") + F.lit(0.5)).cast("long").alias("wq"),
    )
    wqd = F.col("wq").cast("decimal(20,0)")
    port = wts.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_names"),
        (
            F.sum(wqd * F.col("rq_next")).cast("double")
            / F.sum(wqd).cast("double")
            / _FM_S
        ).alias("pr"),
    )
    lq = F.when(
        F.col("pr") > -1,
        F.floor(F.log(F.lit(1.0) + F.col("pr")) * 100_000_000 + F.lit(0.5)).cast(
            "long"
        ),
    )
    logd = port.select("d", "n_names", "pr", lq.alias("lq"))
    # day-grain cumulative window: the relation is CALENDAR-bounded (one
    # row per trading day) — allow-listed in test_plan_shape
    cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return logd.select(
        "d",
        "n_names",
        round6(F.col("pr")).alias("port_ret"),
        round6(F.sum("lq").over(cum) / 100_000_000.0).alias("cum_log_ret"),
    )


# ---------------------------------------------------------------------------
# Granger causality screen (new r10): does one name's return LEAD the
# other's? (Granger 1969, lag-1 bivariate form.) For the same top-20
# return-correlated pairs as cointegration_screen, BOTH directions: the
# F-statistic comparing the unrestricted y_t = c + phi*y_{t-1} +
# beta*x_{t-1} against the restricted y_t = c + phi*y_{t-1}:
# F = (RSS_r - RSS_u) / (RSS_u/(n-3)). Completes the pair family —
# leadlag_cross_correlation finds the lag structure, cointegration the
# level equilibrium, this the directional predictability with a formal
# statistic. The two directions run as ONE plan: the pair panel is
# unioned with swapped (y, x) roles under a `dir` tag, so a single
# moment aggregate and a single F expression serve both.
#
# Determinism: returns on the 1e4 grid; all moments are integer sums in
# decimal/HUGEINT; central moments m = n*S_ab - S_a*S_b and the
# OLS/RSS/F chain run on identical doubles (exact-integer-valued
# inputs, identical IEEE rounding). Degenerate pairs (singular normal
# equations, zero residual variance) emit NULL for that direction.
#
# Scale shape: the candidate scan is the documented universe^2-bounded
# self-join (blocked at 100 TB); everything after is keyed by the
# broadcast 20-row pair list — one ordered pass per (pair, dir), one
# aggregate, one 2-row pivot per pair.
# ---------------------------------------------------------------------------
def _o_granger(blocked: bool) -> str:
    nblk = f"{_O_NBLK},\n    " if blocked else ""
    return f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               close / LAG(close) OVER (PARTITION BY code ORDER BY d) - 1 AS ret
        FROM bars QUALIFY ret IS NOT NULL
    ),
    {nblk}{_o_cand(blocked, limit=20, with_days=False)},
    rq AS (
        SELECT code, d, CAST(ROUND(ret*{_FM_S},0) AS BIGINT) AS q FROM rets
    ),
    pp AS (
        SELECT cd.ca, cd.cb, cd.c, x.d, x.q AS xq, y.q AS yq
        FROM cand cd
        JOIN rq x ON x.code = cd.ca
        JOIN rq y ON y.code = cd.cb AND y.d = x.d
    ),
    dirs AS (
        SELECT ca, cb, c, d, 'ab' AS dir, yq AS y, xq AS x FROM pp
        UNION ALL
        SELECT ca, cb, c, d, 'ba' AS dir, xq AS y, yq AS x FROM pp
    ),
    lagd AS (
        SELECT ca, cb, c, dir, y, x,
               LAG(y) OVER w AS yl, LAG(x) OVER w AS xl
        FROM dirs WINDOW w AS (PARTITION BY ca, cb, dir ORDER BY d)
    ),
    mom AS (
        SELECT ca, cb, dir, MAX(c) AS c,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(yl AS HUGEINT)) AS sy1,
               SUM(CAST(xl AS HUGEINT)) AS sx1,
               SUM(CAST(y AS HUGEINT)*y) AS syy,
               SUM(CAST(y AS HUGEINT)*yl) AS syy1,
               SUM(CAST(y AS HUGEINT)*xl) AS syx1,
               SUM(CAST(yl AS HUGEINT)*yl) AS sy1y1,
               SUM(CAST(xl AS HUGEINT)*xl) AS sx1x1,
               SUM(CAST(yl AS HUGEINT)*xl) AS sy1x1
        FROM lagd WHERE yl IS NOT NULL AND xl IS NOT NULL
        GROUP BY ca, cb, dir
    ),
    cm AS (
        SELECT ca, cb, dir, c, n,
               CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS m_yy,
               CAST(n AS DOUBLE)*CAST(syy1 AS DOUBLE)
                   - CAST(sy AS DOUBLE)*CAST(sy1 AS DOUBLE) AS m_yy1,
               CAST(n AS DOUBLE)*CAST(syx1 AS DOUBLE)
                   - CAST(sy AS DOUBLE)*CAST(sx1 AS DOUBLE) AS m_yx1,
               CAST(n AS DOUBLE)*CAST(sy1y1 AS DOUBLE)
                   - CAST(sy1 AS DOUBLE)*CAST(sy1 AS DOUBLE) AS m_y1y1,
               CAST(n AS DOUBLE)*CAST(sx1x1 AS DOUBLE)
                   - CAST(sx1 AS DOUBLE)*CAST(sx1 AS DOUBLE) AS m_x1x1,
               CAST(n AS DOUBLE)*CAST(sy1x1 AS DOUBLE)
                   - CAST(sy1 AS DOUBLE)*CAST(sx1 AS DOUBLE) AS m_y1x1
        FROM mom WHERE n >= 10
    ),
    fstat AS (
        SELECT ca, cb, dir, c, n,
               CASE WHEN m_y1y1 > 0
                     AND m_y1y1*m_x1x1 - m_y1x1*m_y1x1 > 0
                     AND (m_yy - ((m_yy1*m_x1x1 - m_yx1*m_y1x1)
                                  /(m_y1y1*m_x1x1 - m_y1x1*m_y1x1))*m_yy1
                               - ((m_yx1*m_y1y1 - m_yy1*m_y1x1)
                                  /(m_y1y1*m_x1x1 - m_y1x1*m_y1x1))*m_yx1)
                         /n > 0
                    THEN ((m_yy - m_yy1*m_yy1/m_y1y1)/n
                          - (m_yy - ((m_yy1*m_x1x1 - m_yx1*m_y1x1)
                                     /(m_y1y1*m_x1x1 - m_y1x1*m_y1x1))*m_yy1
                                  - ((m_yx1*m_y1y1 - m_yy1*m_y1x1)
                                     /(m_y1y1*m_x1x1 - m_y1x1*m_y1x1))*m_yx1)
                            /n)
                         / ((m_yy - ((m_yy1*m_x1x1 - m_yx1*m_y1x1)
                                     /(m_y1y1*m_x1x1 - m_y1x1*m_y1x1))*m_yy1
                                  - ((m_yx1*m_y1y1 - m_yy1*m_y1x1)
                                     /(m_y1y1*m_x1x1 - m_y1x1*m_y1x1))*m_yx1)
                            /n/(n - 3))
               END AS f
        FROM cm
    )
    SELECT ca AS code_a, cb AS code_b,
           MAX(n) AS n_obs, MAX(c) AS correlation,
           FLOOR(MAX(CASE WHEN dir = 'ab' THEN f END)*1000000 + 0.5)/1000000.0
               AS f_a_causes_b,
           FLOOR(MAX(CASE WHEN dir = 'ba' THEN f END)*1000000 + 0.5)/1000000.0
               AS f_b_causes_a
    FROM fstat GROUP BY ca, cb
    """


@query("granger_causality_screen", oracle=_o_granger(blocked=False))
def granger_causality_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _granger_impl(spark, sf_dir, n_blocks=None)


@query("granger_causality_screen_blocked", oracle=_o_granger(blocked=True))
def granger_causality_screen_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked production twin (new r11): identical lag-1 bivariate
    Granger F formula, candidate domain restricted to universe-sized
    code blocks — see the pair-domain blocking block comment at
    top_correlated_pairs_blocked."""
    return _granger_impl(spark, sf_dir, n_blocks=_pair_blocks(spark, sf_dir))


def _granger_impl(
    spark: SparkSession, sf_dir: str, n_blocks: int | None
) -> DataFrame:
    from ..session import managed_persist

    bars = managed_persist(bars_table(spark, sf_dir))
    w = Window.partitionBy("code").orderBy("d")
    rets = managed_persist(
        bars.select(
            "code", "d", (F.col("close") / F.lag("close").over(w) - 1).alias("ret")
        ).filter(F.col("ret").isNotNull())
    )
    cand = _cand_pairs(rets, n_blocks, limit=20, with_days=False)
    rqc = F.round(F.col("ret") * _FM_S, 0).cast("long")
    rq = rets.select("code", "d", rqc.alias("q"))
    x = rq.select(F.col("code").alias("ca"), "d", F.col("q").alias("xq"))
    y = rq.select(
        F.col("code").alias("cb_y"), F.col("d").alias("d_y"), F.col("q").alias("yq")
    )
    pp = (
        x.join(F.broadcast(cand), "ca")
        .join(y, (F.col("cb") == F.col("cb_y")) & (F.col("d") == F.col("d_y")))
        .select("ca", "cb", "c", "d", "xq", "yq")
    )
    dirs = pp.select(
        "ca", "cb", "c", "d", F.lit("ab").alias("dir"),
        F.col("yq").alias("y"), F.col("xq").alias("x"),
    ).unionByName(
        pp.select(
            "ca", "cb", "c", "d", F.lit("ba").alias("dir"),
            F.col("xq").alias("y"), F.col("yq").alias("x"),
        )
    )
    wp = Window.partitionBy("ca", "cb", "dir").orderBy("d")
    lagd = dirs.select(
        "ca", "cb", "c", "dir", "y", "x",
        F.lag("y").over(wp).alias("yl"),
        F.lag("x").over(wp).alias("xl"),
    ).filter(F.col("yl").isNotNull() & F.col("xl").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(20,0)")
    mom = (
        lagd.groupBy("ca", "cb", "dir")
        .agg(
            F.max("c").alias("c"),
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("y")).alias("sy"),
            F.sum(dec("yl")).alias("sy1"),
            F.sum(dec("xl")).alias("sx1"),
            F.sum(dec("y") * dec("y")).alias("syy"),
            F.sum(dec("y") * dec("yl")).alias("syy1"),
            F.sum(dec("y") * dec("xl")).alias("syx1"),
            F.sum(dec("yl") * dec("yl")).alias("sy1y1"),
            F.sum(dec("xl") * dec("xl")).alias("sx1x1"),
            F.sum(dec("yl") * dec("xl")).alias("sy1x1"),
        )
        .filter(F.col("n") >= 10)
    )
    nd = F.col("n").cast("double")
    dbl = lambda c: F.col(c).cast("double")
    cm = mom.select(
        "ca", "cb", "dir", "c", "n",
        (nd * dbl("syy") - dbl("sy") * dbl("sy")).alias("m_yy"),
        (nd * dbl("syy1") - dbl("sy") * dbl("sy1")).alias("m_yy1"),
        (nd * dbl("syx1") - dbl("sy") * dbl("sx1")).alias("m_yx1"),
        (nd * dbl("sy1y1") - dbl("sy1") * dbl("sy1")).alias("m_y1y1"),
        (nd * dbl("sx1x1") - dbl("sx1") * dbl("sx1")).alias("m_x1x1"),
        (nd * dbl("sy1x1") - dbl("sy1") * dbl("sx1")).alias("m_y1x1"),
    )
    det = F.col("m_y1y1") * F.col("m_x1x1") - F.col("m_y1x1") * F.col("m_y1x1")
    b1 = (F.col("m_yy1") * F.col("m_x1x1") - F.col("m_yx1") * F.col("m_y1x1")) / det
    b2 = (F.col("m_yx1") * F.col("m_y1y1") - F.col("m_yy1") * F.col("m_y1x1")) / det
    rss_u = (F.col("m_yy") - b1 * F.col("m_yy1") - b2 * F.col("m_yx1")) / F.col("n")
    rss_r = (F.col("m_yy") - F.col("m_yy1") * F.col("m_yy1") / F.col("m_y1y1")) / F.col(
        "n"
    )
    fexpr = F.when(
        (F.col("m_y1y1") > 0) & (det > 0) & (rss_u > 0),
        (rss_r - rss_u) / (rss_u / (F.col("n") - 3)),
    )
    fstat = cm.select("ca", "cb", "dir", "c", "n", fexpr.alias("f"))
    return fstat.groupBy("ca", "cb").agg(
        F.max("n").cast("long").alias("n_obs"),
        F.max("c").alias("correlation"),
        round6(F.max(F.when(F.col("dir") == "ab", F.col("f")))).alias(
            "f_a_causes_b"
        ),
        round6(F.max(F.when(F.col("dir") == "ba", F.col("f")))).alias(
            "f_b_causes_a"
        ),
    ).select(
        F.col("ca").alias("code_a"),
        F.col("cb").alias("code_b"),
        "n_obs",
        "correlation",
        "f_a_causes_b",
        "f_b_causes_a",
    )


# ---------------------------------------------------------------------------
# Downside risk panel: Omega ratio + downside deviation (new r10): the
# gain/loss-asymmetry metrics risk_adjusted_ratios (Sharpe/Sortino/
# Calmar) and ulcer_index_martin don't carry — Omega(0) = sum(gains) /
# sum(losses) (Keating & Shadwick 2002: the ratio of the upper to lower
# partial moment at the threshold, here 0), the downside deviation
# sqrt(mean(min(r,0)^2)) annualized, and the gain/loss day counts.
#
# Determinism: pure integer partial sums of 1e4-grid returns up to two
# final divisions and one sqrt — no float accumulation.
#
# Scale shape: one code-keyed lag pass + one code-keyed aggregate.
# ---------------------------------------------------------------------------
@query(
    "omega_downside_panel",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{_FM_S},0) AS BIGINT)
                   AS rq
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
        QUALIFY rq IS NOT NULL
    ), agg AS (
        SELECT code,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(count_if(rq > 0) AS BIGINT) AS n_up,
               CAST(count_if(rq < 0) AS BIGINT) AS n_down,
               SUM(CASE WHEN rq > 0 THEN CAST(rq AS HUGEINT) ELSE 0 END) AS gains,
               SUM(CASE WHEN rq < 0 THEN CAST(-rq AS HUGEINT) ELSE 0 END) AS losses,
               SUM(CASE WHEN rq < 0 THEN CAST(rq AS HUGEINT)*rq ELSE 0 END) AS d2
        FROM rets GROUP BY code HAVING COUNT(*) >= 10
    )
    SELECT code, n_days, n_up, n_down,
           CASE WHEN losses > 0
                THEN FLOOR((CAST(gains AS DOUBLE)/CAST(losses AS DOUBLE))
                           *1000000 + 0.5)/1000000.0
           END AS omega,
           FLOOR((sqrt(CAST(d2 AS DOUBLE)/n_days)/{_FM_S}*sqrt(252))
                 *1000000 + 0.5)/1000000.0 AS downside_dev_ann
    FROM agg
    """,
)
def omega_downside_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rq = F.round((F.col("close") / F.lag("close").over(w) - 1) * _FM_S, 0).cast(
        "long"
    )
    rets = bars.select("code", rq.alias("rq")).filter(F.col("rq").isNotNull())
    rqd = F.col("rq").cast("decimal(20,0)")
    zero = F.lit(0).cast("decimal(20,0)")
    agg = (
        rets.groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.count_if(F.col("rq") > 0).alias("n_up"),
            F.count_if(F.col("rq") < 0).alias("n_down"),
            F.sum(F.when(F.col("rq") > 0, rqd).otherwise(zero)).alias("gains"),
            F.sum(F.when(F.col("rq") < 0, -rqd).otherwise(zero)).alias("losses"),
            F.sum(F.when(F.col("rq") < 0, rqd * rqd).otherwise(zero)).alias("d2"),
        )
        .filter(F.col("n_days") >= 10)
    )
    return agg.select(
        "code",
        "n_days",
        "n_up",
        "n_down",
        F.when(
            F.col("losses") > 0,
            round6(F.col("gains").cast("double") / F.col("losses").cast("double")),
        ).alias("omega"),
        round6(
            F.sqrt(F.col("d2").cast("double") / F.col("n_days"))
            / _FM_S
            * F.sqrt(F.lit(252.0))
        ).alias("downside_dev_ann"),
    )


# ---------------------------------------------------------------------------
# Fama-MacBeth with Newey-West standard errors (new r10): the textbook
# FM inference correction — the per-day momentum slope series from
# fama_macbeth_mom is serially correlated (overlapping 5-day momentum
# windows guarantee it), so the iid t-stat overstates significance;
# Newey-West (1987) with L=3 Bartlett weights (1 - l/4: exactly
# representable doubles) is the standard fix. One row: the mean daily
# premium, the iid t, the NW t, and the lag-1 autocorrelation of the
# slope series that motivates the correction.
#
# Determinism: day slopes are exact-integer OLS ratios quantized to a
# 1e8 grid; the slope series' autocovariances run on scaled-centered
# integers (m_t = T*gq_t - S) in decimal/HUGEINT; the variance /
# t-stat arithmetic runs on identical doubles.
#
# Scale shape: the panel work is the same day-keyed shuffle as
# fama_macbeth_mom; the series layer is day-grain (calendar-bounded —
# the unpartitioned lag window is allow-listed like rank_ic_daily).
# ---------------------------------------------------------------------------
@query(
    "fama_macbeth_nw",
    oracle=f"""
    WITH {O_BARS},
    panel AS (
        SELECT code, d,
               close / LAG(close, 5) OVER w - 1 AS x,
               LEAD(close) OVER w / close - 1 AS y
        FROM bars
        WINDOW w AS (PARTITION BY code ORDER BY d)
    ), q AS (
        SELECT d,
               CAST(ROUND(x*{_FM_S},0) AS BIGINT) AS xq,
               CAST(ROUND(y*{_FM_S},0) AS BIGINT) AS yq
        FROM panel WHERE x IS NOT NULL AND y IS NOT NULL
    ), m AS (
        SELECT d, CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(CAST(xq AS HUGEINT)) AS sx, SUM(CAST(yq AS HUGEINT)) AS sy,
               SUM(CAST(xq AS HUGEINT)*yq) AS sxy,
               SUM(CAST(xq AS HUGEINT)*xq) AS sxx
        FROM q GROUP BY d
    ), g AS (
        SELECT d,
               CAST(FLOOR(GREATEST(-1000000000000.0, LEAST(1000000000000.0,
                 (CAST(n*sxy - sx*sy AS DOUBLE)
                  /CAST(n*sxx - sx*sx AS DOUBLE))*100000000)) + 0.5)
                    AS BIGINT) AS gq
        FROM m WHERE n*sxx - sx*sx <> 0
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t, SUM(gq) AS s FROM g
    ), cm AS (
        SELECT d, t, s, CAST(t AS HUGEINT)*gq - s AS mm FROM g, stats
    ), lagd AS (
        SELECT t, s, mm,
               LAG(mm, 1) OVER wd AS m1,
               LAG(mm, 2) OVER wd AS m2,
               LAG(mm, 3) OVER wd AS m3
        FROM cm WINDOW wd AS (ORDER BY d)
    ), acov AS (
        SELECT MAX(t) AS t, MAX(s) AS s,
               SUM(mm*mm) AS c0, SUM(mm*m1) AS c1,
               SUM(mm*m2) AS c2, SUM(mm*m3) AS c3
        FROM lagd
    )
    SELECT t AS n_days,
           FLOOR((CAST(s AS DOUBLE)/t/100000000.0)*1000000 + 0.5)/1000000.0
               AS mean_premium,
           CASE WHEN t > 3 AND CAST(c0 AS DOUBLE) > 0 THEN
             FLOOR(((CAST(s AS DOUBLE)/t/100000000.0)
                    / sqrt(CAST(c0 AS DOUBLE)
                           /CAST(t AS DOUBLE)/CAST(t AS DOUBLE)/(t-1)/t/1e16))
                   *1000000 + 0.5)/1000000.0
           END AS t_iid,
           CASE WHEN t > 3
                 AND (CAST(c0 AS DOUBLE)
                      + 2*(0.75*CAST(c1 AS DOUBLE) + 0.5*CAST(c2 AS DOUBLE)
                           + 0.25*CAST(c3 AS DOUBLE))) > 0 THEN
             FLOOR(((CAST(s AS DOUBLE)/t/100000000.0)
                    / sqrt((CAST(c0 AS DOUBLE)
                            + 2*(0.75*CAST(c1 AS DOUBLE)
                                 + 0.5*CAST(c2 AS DOUBLE)
                                 + 0.25*CAST(c3 AS DOUBLE)))
                           /CAST(t AS DOUBLE)/CAST(t AS DOUBLE)
                           /CAST(t AS DOUBLE)/CAST(t AS DOUBLE)/1e16))
                   *1000000 + 0.5)/1000000.0
           END AS t_nw3,
           CASE WHEN CAST(c0 AS DOUBLE) > 0 THEN
             FLOOR((CAST(c1 AS DOUBLE)/CAST(c0 AS DOUBLE))*1000000 + 0.5)
               /1000000.0
           END AS slope_acf1
    FROM acov
    """,
)
def fama_macbeth_nw(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    panel = bars.select(
        "code",
        "d",
        (F.col("close") / F.lag("close", 5).over(w) - 1).alias("x"),
        (F.lead("close").over(w) / F.col("close") - 1).alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    xq = F.round(F.col("x") * _FM_S, 0).cast("long")
    yq = F.round(F.col("y") * _FM_S, 0).cast("long")
    xd, yd = F.col("xq").cast("decimal(20,0)"), F.col("yq").cast("decimal(20,0)")
    m = (
        panel.select("d", xq.alias("xq"), yq.alias("yq"))
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xd).alias("sx"),
            F.sum(yd).alias("sy"),
            F.sum(xd * yd).alias("sxy"),
            F.sum(xd * xd).alias("sxx"),
        )
    )
    # decimal co-moments: a 1300-name day with 1e16-scale product sums
    # overflows n*sxy in int64 (DuckDB errors, Spark wraps — caught at
    # sf0.1; the same fix is applied to fama_macbeth_mom/_summary)
    ndec = F.col("n").cast("decimal(20,0)")
    den = ndec * F.col("sxx") - F.col("sx") * F.col("sx")
    num = ndec * F.col("sxy") - F.col("sx") * F.col("sy")
    # slope winsor at |beta| <= 1e4 (1e12 on the grid): a degenerate
    # near-singular day can emit an astronomical slope whose centered
    # autocovariance product would overflow even 128-bit accumulators
    # (DuckDB errors, Spark wraps silently — caught at sf0.1); the clamp
    # sits INSIDE the validity filter (greatest/least ignore NULLs)
    gq_raw = F.floor(
        num.cast("double") / den.cast("double") * 100_000_000 + F.lit(0.5)
    ).cast("long")
    g = m.filter(den != 0).select(
        "d",
        F.greatest(
            F.lit(-1_000_000_000_000), F.least(F.lit(1_000_000_000_000), gq_raw)
        ).alias("gq"),
    )
    glob = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # day-grain series: the unpartitioned windows below are calendar-
    # bounded (one row per trading day) — allow-listed in test_plan_shape
    wd = Window.orderBy("d")
    cm = g.select(
        "d",
        F.count(F.lit(1)).over(glob).alias("t"),
        F.sum("gq").over(glob).alias("s"),
        (
            F.count(F.lit(1)).over(glob).cast("decimal(20,0)")
            * F.col("gq").cast("decimal(20,0)")
            - F.sum("gq").over(glob).cast("decimal(20,0)")
        ).alias("mm"),
    )
    lagd = cm.select(
        "t",
        "s",
        "mm",
        F.lag("mm", 1).over(wd).alias("m1"),
        F.lag("mm", 2).over(wd).alias("m2"),
        F.lag("mm", 3).over(wd).alias("m3"),
    )
    acov = lagd.groupBy().agg(
        F.max("t").alias("t"),
        F.max("s").alias("s"),
        F.sum(F.col("mm") * F.col("mm")).alias("c0"),
        F.sum(F.col("mm") * F.col("m1")).alias("c1"),
        F.sum(F.col("mm") * F.col("m2")).alias("c2"),
        F.sum(F.col("mm") * F.col("m3")).alias("c3"),
    )
    td = F.col("t").cast("double")
    mean = F.col("s").cast("double") / F.col("t") / 100_000_000.0
    c = lambda k: F.col(f"c{k}").cast("double")
    nw_num = c(0) + 2 * (
        F.lit(0.75) * c(1) + F.lit(0.5) * c(2) + F.lit(0.25) * c(3)
    )
    se_iid = F.sqrt(c(0) / td / td / (F.col("t") - 1) / F.col("t") / F.lit(1e16))
    se_nw = F.sqrt(nw_num / td / td / td / td / F.lit(1e16))
    return acov.select(
        F.col("t").alias("n_days"),
        round6(mean).alias("mean_premium"),
        F.when((F.col("t") > 3) & (c(0) > 0), round6(mean / se_iid)).alias(
            "t_iid"
        ),
        F.when((F.col("t") > 3) & (nw_num > 0), round6(mean / se_nw)).alias(
            "t_nw3"
        ),
        F.when(c(0) > 0, round6(c(1) / c(0))).alias("slope_acf1"),
    )


# ---------------------------------------------------------------------------
# Shared CTE for the market-relative panels (new r11): per-code daily
# returns on the 1e4 grid plus the equal-weight market return on the
# SAME grid (mq = round-half-up of the integer-sum mean — one double
# division on identical integers, then an identical FLOOR, so both
# engines hold the same BIGINT).
# ---------------------------------------------------------------------------
_O_RETS_MKT = f"""rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{_FM_S},0) AS BIGINT)
                   AS rq
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
        QUALIFY rq IS NOT NULL
    ),
    mkt AS (
        SELECT d,
               CAST(FLOOR(CAST(SUM(rq) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT)
                   AS mq
        FROM rets GROUP BY d
    ),
    joined AS (
        SELECT r.code, r.d, r.rq, m.mq FROM rets r JOIN mkt m USING (d)
    )"""


def _rets_mkt_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _O_RETS_MKT: (code, d, rq, mq) — the market leg is
    a day-keyed aggregate broadcast back onto the panel (bounded by the
    calendar, so the broadcast is safe at any universe size). The rets
    relation is persisted so the panel build (events scan → bar
    aggregate → lag window) runs ONCE, not once per leg — without it
    the plan re-derives the whole panel for the market aggregate (plan
    audit, round 11: 8 exchanges → 5)."""
    from ..session import managed_persist

    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rq = F.round((F.col("close") / F.lag("close").over(w) - 1) * _FM_S, 0).cast(
        "long"
    )
    rets = managed_persist(
        bars.select("code", "d", rq.alias("rq")).filter(F.col("rq").isNotNull())
    )
    mkt = rets.groupBy("d").agg(
        F.floor(
            F.sum("rq").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
        )
        .cast("long")
        .alias("mq")
    )
    return rets.join(F.broadcast(mkt), "d").select("code", "d", "rq", "mq")


# ---------------------------------------------------------------------------
# Up/down capture ratios (new r11): the consultant-standard asymmetry
# panel — how much of the market's up-day move a name captures vs how
# much of the down-day pain it takes. capture = Σ(code ret | mkt
# up/down) / Σ(mkt ret | same days), computed over the days the code
# actually traded, so both sums range over the identical day set.
#
# Determinism: both numerator and denominator are exact integer sums on
# the shared 1e4 grid; one final IEEE division each, round6'd.
#
# Scale shape: one code-keyed lag pass, one day-keyed aggregate
# (calendar-bounded, broadcast back), one code-keyed aggregate.
# ---------------------------------------------------------------------------
@query(
    "updown_capture",
    oracle=f"""
    WITH {O_BARS},
    {_O_RETS_MKT}
    SELECT code,
           CAST(count_if(mq > 0) AS BIGINT) AS n_up,
           CAST(count_if(mq < 0) AS BIGINT) AS n_down,
           CASE WHEN count_if(mq > 0) > 0 THEN
             FLOOR((CAST(SUM(CASE WHEN mq > 0 THEN rq END) AS DOUBLE)
                    / CAST(SUM(CASE WHEN mq > 0 THEN mq END) AS DOUBLE))
                   *1000000 + 0.5)/1000000.0
           END AS up_capture,
           CASE WHEN count_if(mq < 0) > 0 THEN
             FLOOR((CAST(SUM(CASE WHEN mq < 0 THEN rq END) AS DOUBLE)
                    / CAST(SUM(CASE WHEN mq < 0 THEN mq END) AS DOUBLE))
                   *1000000 + 0.5)/1000000.0
           END AS down_capture
    FROM joined GROUP BY code
    """,
)
def updown_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _rets_mkt_joined(spark, sf_dir)
    up, down = F.col("mq") > 0, F.col("mq") < 0
    n_up = F.count_if(up)
    n_down = F.count_if(down)
    return j.groupBy("code").agg(
        n_up.alias("n_up"),
        n_down.alias("n_down"),
        F.when(
            n_up > 0,
            round6(
                F.sum(F.when(up, F.col("rq"))).cast("double")
                / F.sum(F.when(up, F.col("mq"))).cast("double")
            ),
        ).alias("up_capture"),
        F.when(
            n_down > 0,
            round6(
                F.sum(F.when(down, F.col("rq"))).cast("double")
                / F.sum(F.when(down, F.col("mq"))).cast("double")
            ),
        ).alias("down_capture"),
    )


# ---------------------------------------------------------------------------
# Downside/upside semi-beta (new r11, Ang-Chen-Xing 2006): the CAPM beta
# estimated separately on down-market and up-market days — the downside
# beta prices crash risk that the symmetric beta (rolling_beta_market)
# averages away; the spread beta_down − beta_up is the asymmetry factor.
#
# Determinism: per-side OLS moments are integer sums of 1e4-grid
# returns in decimal(20,0)/HUGEINT (the cointegration convention); the
# beta ratio runs on identical doubles. Sides with < 5 days or a
# degenerate market variance emit NULL.
#
# Scale shape: same three passes as updown_capture; the per-side
# moments come out of ONE code-keyed aggregate (conditional sums), not
# two scans.
# ---------------------------------------------------------------------------
@query(
    "semibeta_downside",
    oracle=f"""
    WITH {O_BARS},
    {_O_RETS_MKT},
    m AS (
        SELECT code,
               CAST(count_if(mq < 0) AS BIGINT) AS nd,
               SUM(CASE WHEN mq < 0 THEN CAST(rq AS HUGEINT) END) AS sxd,
               SUM(CASE WHEN mq < 0 THEN CAST(mq AS HUGEINT) END) AS smd,
               SUM(CASE WHEN mq < 0 THEN CAST(rq AS HUGEINT)*mq END) AS sxmd,
               SUM(CASE WHEN mq < 0 THEN CAST(mq AS HUGEINT)*mq END) AS smmd,
               CAST(count_if(mq > 0) AS BIGINT) AS nu,
               SUM(CASE WHEN mq > 0 THEN CAST(rq AS HUGEINT) END) AS sxu,
               SUM(CASE WHEN mq > 0 THEN CAST(mq AS HUGEINT) END) AS smu,
               SUM(CASE WHEN mq > 0 THEN CAST(rq AS HUGEINT)*mq END) AS sxmu,
               SUM(CASE WHEN mq > 0 THEN CAST(mq AS HUGEINT)*mq END) AS smmu
        FROM joined GROUP BY code
    )
    SELECT code, nd AS n_down, nu AS n_up,
           CASE WHEN nd >= 5 AND nd*smmd - smd*smd > 0 THEN
             FLOOR((CAST(nd*sxmd - sxd*smd AS DOUBLE)
                    / CAST(nd*smmd - smd*smd AS DOUBLE))*1000000 + 0.5)/1000000.0
           END AS beta_down,
           CASE WHEN nu >= 5 AND nu*smmu - smu*smu > 0 THEN
             FLOOR((CAST(nu*sxmu - sxu*smu AS DOUBLE)
                    / CAST(nu*smmu - smu*smu AS DOUBLE))*1000000 + 0.5)/1000000.0
           END AS beta_up,
           CASE WHEN nd >= 5 AND nd*smmd - smd*smd > 0
                 AND nu >= 5 AND nu*smmu - smu*smu > 0 THEN
             FLOOR((CAST(nd*sxmd - sxd*smd AS DOUBLE)
                      / CAST(nd*smmd - smd*smd AS DOUBLE)
                    - CAST(nu*sxmu - sxu*smu AS DOUBLE)
                      / CAST(nu*smmu - smu*smu AS DOUBLE))*1000000 + 0.5)/1000000.0
           END AS beta_spread
    FROM m
    """,
)
def semibeta_downside(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _rets_mkt_joined(spark, sf_dir)
    dn, up = F.col("mq") < 0, F.col("mq") > 0
    dec = lambda c: F.col(c).cast("decimal(20,0)")
    m = j.groupBy("code").agg(
        F.count_if(dn).alias("nd"),
        F.sum(F.when(dn, dec("rq"))).alias("sxd"),
        F.sum(F.when(dn, dec("mq"))).alias("smd"),
        F.sum(F.when(dn, dec("rq") * dec("mq"))).alias("sxmd"),
        F.sum(F.when(dn, dec("mq") * dec("mq"))).alias("smmd"),
        F.count_if(up).alias("nu"),
        F.sum(F.when(up, dec("rq"))).alias("sxu"),
        F.sum(F.when(up, dec("mq"))).alias("smu"),
        F.sum(F.when(up, dec("rq") * dec("mq"))).alias("sxmu"),
        F.sum(F.when(up, dec("mq") * dec("mq"))).alias("smmu"),
    )

    def beta(n, sx, sm, sxm, smm):
        nn = F.col(n).cast("decimal(20,0)")
        den = nn * F.col(smm) - F.col(sm) * F.col(sm)
        num = nn * F.col(sxm) - F.col(sx) * F.col(sm)
        ok = (F.col(n) >= 5) & (den > 0)
        return ok, num.cast("double") / den.cast("double")

    okd, bd = beta("nd", "sxd", "smd", "sxmd", "smmd")
    oku, bu = beta("nu", "sxu", "smu", "sxmu", "smmu")
    return m.select(
        "code",
        F.col("nd").alias("n_down"),
        F.col("nu").alias("n_up"),
        F.when(okd, round6(bd)).alias("beta_down"),
        F.when(oku, round6(bu)).alias("beta_up"),
        F.when(okd & oku, round6(bd - bu)).alias("beta_spread"),
    )


# ---------------------------------------------------------------------------
# Coskewness / cokurtosis with the market (new r11, Harvey-Siddique 2000
# / Kraus-Litzenberger): the higher-moment systematic-risk panel —
# standardized coskew E[(r−μr)(m−μm)²]/(σr·σm²) prices exposure to
# market VARIANCE shocks, cokurt E[(r−μr)(m−μm)³]/(σr·σm³) to market
# skew shocks; both are what the covariance-only beta family
# (rolling_beta_market, semibeta_downside) cannot see.
#
# Determinism: scaled-centered integers (the Ljung-Box convention):
# mx_t = n·rq_t − Σrq and mm_t = n·mq_t − Σmq are EXACT integers on the
# shared 1e4 grid, so (r−μ)(m−μ)^k ∝ mx·mm^k is an exact-integer
# product accumulated in decimal(38,0)/HUGEINT; the standardized ratios
# then run on identical doubles (the n powers cancel:
# coskew = Σmx·mm²·√n / (√Σmx² · Σmm²), cokurt = Σmx·mm³·n /
# (√Σmx² · Σmm²^1.5)). Bound: |mm| ≤ n·5e3, so Σ|mx·mm³| ≤ n²·(5e3·n)⁴
# /… — at a 36,500-day panel the cokurt sum peaks ~4e37, inside the
# 128-bit accumulators with ~4× margin; a panel 10× deeper than THAT
# needs a coarser grid (documented, same class as _ARCH_S).
#
# Scale shape: the same three passes as updown_capture plus one
# code-keyed window to attach (n, Σrq, Σmq) — no extra shuffle (the
# window rides the groupBy(code) clustering).
# ---------------------------------------------------------------------------
@query(
    "comoment_coskew",
    oracle=f"""
    WITH {O_BARS},
    {_O_RETS_MKT},
    tot AS (
        SELECT code, d, rq, mq,
               CAST(COUNT(*) OVER pc AS BIGINT) AS n,
               SUM(rq) OVER pc AS sr, SUM(mq) OVER pc AS sm
        FROM joined WINDOW pc AS (PARTITION BY code)
    ), cm AS (
        SELECT code, n,
               CAST(n AS HUGEINT)*rq - sr AS mx,
               CAST(n AS HUGEINT)*mq - sm AS mm
        FROM tot
    ), agg AS (
        SELECT code, MAX(n) AS n,
               SUM(mx*mx) AS sxx, SUM(mm*mm) AS smm,
               SUM(mx*mm*mm) AS sxmm, SUM(mx*mm*mm*mm) AS sxmmm
        FROM cm GROUP BY code HAVING MAX(n) >= 10
    )
    SELECT code, n AS n_days,
           CASE WHEN sxx > 0 AND smm > 0 THEN
             FLOOR((CAST(sxmm AS DOUBLE) * sqrt(CAST(n AS DOUBLE))
                    / sqrt(CAST(sxx AS DOUBLE)) / CAST(smm AS DOUBLE))
                   *1000000 + 0.5)/1000000.0
           END AS coskew,
           CASE WHEN sxx > 0 AND smm > 0 THEN
             FLOOR((CAST(sxmmm AS DOUBLE) * CAST(n AS DOUBLE)
                    / sqrt(CAST(sxx AS DOUBLE))
                    / pow(CAST(smm AS DOUBLE), 1.5))
                   *1000000 + 0.5)/1000000.0
           END AS cokurt
    FROM agg
    """,
)
def comoment_coskew(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _rets_mkt_joined(spark, sf_dir)
    pc = Window.partitionBy("code")
    tot = j.select(
        "code",
        "rq",
        "mq",
        F.count(F.lit(1)).over(pc).alias("n"),
        F.sum("rq").over(pc).alias("sr"),
        F.sum("mq").over(pc).alias("sm"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    cm = tot.select(
        "code",
        "n",
        (nd * F.col("rq") - F.col("sr")).cast("decimal(38,0)").alias("mx"),
        (nd * F.col("mq") - F.col("sm")).cast("decimal(38,0)").alias("mm"),
    )
    agg = (
        cm.groupBy("code")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.col("mx") * F.col("mx")).alias("sxx"),
            F.sum(F.col("mm") * F.col("mm")).alias("smm"),
            F.sum(F.col("mx") * F.col("mm") * F.col("mm")).alias("sxmm"),
            F.sum(
                F.col("mx") * F.col("mm") * F.col("mm") * F.col("mm")
            ).alias("sxmmm"),
        )
        .filter(F.col("n") >= 10)
    )
    ok = (F.col("sxx") > 0) & (F.col("smm") > 0)
    dn = F.col("n").cast("double")
    coskew = (
        F.col("sxmm").cast("double")
        * F.sqrt(dn)
        / F.sqrt(F.col("sxx").cast("double"))
        / F.col("smm").cast("double")
    )
    cokurt = (
        F.col("sxmmm").cast("double")
        * dn
        / F.sqrt(F.col("sxx").cast("double"))
        / F.pow(F.col("smm").cast("double"), F.lit(1.5))
    )
    return agg.select(
        "code",
        F.col("n").alias("n_days"),
        F.when(ok, round6(coskew)).alias("coskew"),
        F.when(ok, round6(cokurt)).alias("cokurt"),
    )


# ---------------------------------------------------------------------------
# Trade-duration clustering (new r11, Engle-Russell 1998 ACD
# motivation): inter-event arrival durations per code — the mean gap,
# the coefficient of variation (cv > 1 = overdispersed vs Poisson =
# durations CLUSTER, the microstructure activity-burst signature), and
# the lag-1 duration autocorrelation (the persistence an ACD model
# would fit).
#
# Determinism: durations are exact integer SECONDS (epoch-micros
# difference floor-divided by 1e6 — identical integer division on both
# engines); cv and acf1 use the scaled-centered-integer convention in
# decimal/HUGEINT (|m| ≤ n·span_s ~ 1.2e11 at a 4k-event code — far
# inside 128-bit even cubed... squared; acf1 is a ratio of exact
# integers).
#
# Scale shape: one code-keyed ordered pass (lag), one code-keyed
# aggregate. No joins, no calendar assumptions.
# ---------------------------------------------------------------------------
@query(
    "duration_clustering",
    oracle="""
    WITH ev AS (
        SELECT user_id AS code, epoch_us(ts) AS t, event_id
        FROM events
    ), durs AS (
        SELECT code, t, event_id,
               (t - LAG(t) OVER (PARTITION BY code ORDER BY t, event_id))
                   // 1000000 AS dur
        FROM ev QUALIFY dur IS NOT NULL
    ), tot AS (
        SELECT code, t, event_id, dur,
               CAST(COUNT(*) OVER pc AS BIGINT) AS n,
               SUM(dur) OVER pc AS s
        FROM durs WINDOW pc AS (PARTITION BY code)
    ), cm AS (
        SELECT code, n, s,
               CAST(n AS HUGEINT)*dur - s AS m,
               LAG(CAST(n AS HUGEINT)*dur - s)
                   OVER (PARTITION BY code ORDER BY t, event_id) AS ml
        FROM tot
    ), agg AS (
        SELECT code, MAX(n) AS n, MAX(s) AS s,
               SUM(m*m) AS smm,
               SUM(CASE WHEN ml IS NOT NULL THEN m*ml END) AS sml
        FROM cm GROUP BY code HAVING MAX(n) >= 10
    )
    SELECT code, n AS n_gaps,
           FLOOR((CAST(s AS DOUBLE)/n)*1000000 + 0.5)/1000000.0
               AS mean_gap_s,
           CASE WHEN s > 0 THEN
             FLOOR((sqrt(CAST(smm AS DOUBLE)/n)/CAST(s AS DOUBLE))
                   *1000000 + 0.5)/1000000.0
           END AS cv,
           CASE WHEN smm > 0 THEN
             FLOOR((CAST(sml AS DOUBLE)/CAST(smm AS DOUBLE))*1000000 + 0.5)
               /1000000.0
           END AS acf1
    FROM agg
    """,
)
def duration_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("code"),
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t"),
        "event_id",
    )
    w = Window.partitionBy("code").orderBy("t", "event_id")
    durs = ev.select(
        "code",
        "t",
        "event_id",
        F.expr("(t - LAG(t) OVER (PARTITION BY code ORDER BY t, event_id))"
               " DIV 1000000").alias("dur"),
    ).filter(F.col("dur").isNotNull())
    pc = Window.partitionBy("code")
    tot = durs.select(
        "code",
        "t",
        "event_id",
        "dur",
        F.count(F.lit(1)).over(pc).alias("n"),
        F.sum("dur").over(pc).alias("s"),
    )
    m = (F.col("n").cast("decimal(38,0)") * F.col("dur") - F.col("s")).cast(
        "decimal(38,0)"
    )
    cm = tot.select(
        "code", "n", "s", m.alias("m"), F.lag(m).over(w).alias("ml")
    )
    agg = (
        cm.groupBy("code")
        .agg(
            F.max("n").alias("n"),
            F.max("s").alias("s"),
            F.sum(F.col("m") * F.col("m")).alias("smm"),
            F.sum(
                F.when(F.col("ml").isNotNull(), F.col("m") * F.col("ml"))
            ).alias("sml"),
        )
        .filter(F.col("n") >= 10)
    )
    return agg.select(
        "code",
        F.col("n").alias("n_gaps"),
        round6(F.col("s").cast("double") / F.col("n")).alias("mean_gap_s"),
        F.when(
            F.col("s") > 0,
            round6(
                F.sqrt(F.col("smm").cast("double") / F.col("n"))
                / F.col("s").cast("double")
            ),
        ).alias("cv"),
        F.when(
            F.col("smm") > 0,
            round6(F.col("sml").cast("double") / F.col("smm").cast("double")),
        ).alias("acf1"),
    )


# ---------------------------------------------------------------------------
# Lottery-demand MAX factor (new r11, Bali-Cakici-Whitelaw 2011): the
# mean of each name's 5 LARGEST daily returns over the panel (plus the
# single max) — the "lottery" characteristic that predicts LOW
# subsequent returns (investors overpay for jackpot skew). Completes
# the distribution-tail family: var_cvar_daily owns the LEFT tail, this
# owns the right.
#
# Determinism: top-5 selection is a row_number over (rq DESC, d) on
# integer returns with a full date tie-break — identical row sets on
# both engines; the mean is an exact integer sum / 5.
#
# Scale shape: one code-keyed lag pass + one code-keyed ordered
# window (rides the same partitioning) + one aggregate. No joins.
# ---------------------------------------------------------------------------
@query(
    "lottery_max_factor",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{_FM_S},0) AS BIGINT)
                   AS rq
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
        QUALIFY rq IS NOT NULL
    ), ranked AS (
        SELECT code, rq,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY rq DESC, d)
                   AS rn,
               CAST(COUNT(*) OVER (PARTITION BY code) AS BIGINT) AS n
        FROM rets
    )
    SELECT code, MAX(n) AS n_days,
           FLOOR((MAX(CASE WHEN rn = 1 THEN rq END)/{_FM_S}.0)
                 *1000000 + 0.5)/1000000.0 AS max1,
           FLOOR((CAST(SUM(CASE WHEN rn <= 5 THEN rq END) AS DOUBLE)
                  /5.0/{_FM_S})*1000000 + 0.5)/1000000.0 AS max5_mean
    FROM ranked WHERE n >= 20 GROUP BY code
    """,
)
def lottery_max_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rq = F.round((F.col("close") / F.lag("close").over(w) - 1) * _FM_S, 0).cast(
        "long"
    )
    rets = bars.select("code", "d", rq.alias("rq")).filter(F.col("rq").isNotNull())
    pc = Window.partitionBy("code")
    ranked = rets.select(
        "code",
        "rq",
        F.row_number()
        .over(pc.orderBy(F.col("rq").desc(), "d"))
        .alias("rn"),
        F.count(F.lit(1)).over(pc).alias("n"),
    ).filter(F.col("n") >= 20)
    return ranked.groupBy("code").agg(
        F.max("n").alias("n_days"),
        round6(
            F.max(F.when(F.col("rn") == 1, F.col("rq"))) / float(_FM_S)
        ).alias("max1"),
        round6(
            F.sum(F.when(F.col("rn") <= 5, F.col("rq"))).cast("double")
            / 5.0
            / _FM_S
        ).alias("max5_mean"),
    )


# ---------------------------------------------------------------------------
# Volume profile / point of control (new r11): the market-profile view —
# bucket each name's price range into 20 equal-width bins, accumulate
# volume per bin, and report the POC (the modal bin: where the most
# volume traded), its price bounds, and its volume share. The
# volume-weighted complement to histogram_value_bins (row counts) and
# m4_downsample_close (time buckets).
#
# Determinism: integer cents, integer bucket width
# GREATEST((range+19)//20, 1), truncating integer division on
# non-negative offsets (Spark DIV ≡ DuckDB // there), integer volume
# sums; POC tie-break = lowest bucket. The share is one IEEE division.
#
# Scale shape: one code-keyed min/max aggregate broadcast back (window
# over code, same partitioning), one (code, bucket) aggregate, one
# code-keyed argmax. No joins beyond the window reuse.
# ---------------------------------------------------------------------------
@query(
    "volume_profile_poc",
    oracle=f"""
    WITH {O_BARS},
    c AS (
        SELECT code, CAST(ROUND(close*100,0) AS BIGINT) AS cents,
               CAST(volume AS BIGINT) AS v
        FROM bars
    ), rng AS (
        SELECT code, cents, v,
               MIN(cents) OVER pc AS mn,
               GREATEST((MAX(cents) OVER pc - MIN(cents) OVER pc + 19) // 20, 1)
                   AS width
        FROM c WINDOW pc AS (PARTITION BY code)
    ), bucketed AS (
        SELECT code, mn, width, (cents - mn) // width AS bucket, v
        FROM rng
    ), per_bucket AS (
        SELECT code, MAX(mn) AS mn, MAX(width) AS width, bucket,
               CAST(SUM(v) AS BIGINT) AS vol
        FROM bucketed GROUP BY code, bucket
    ), tot AS (
        SELECT code, CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(vol) AS BIGINT) AS total_vol
        FROM per_bucket GROUP BY code
    ), poc AS (
        SELECT code, mn, width, bucket, vol,
               ROW_NUMBER() OVER (PARTITION BY code
                                  ORDER BY vol DESC, bucket) AS rn
        FROM per_bucket
    )
    SELECT p.code, t.n_buckets, t.total_vol,
           (p.mn + p.bucket*p.width)/100.0 AS poc_price_lo,
           (p.mn + (p.bucket + 1)*p.width)/100.0 AS poc_price_hi,
           FLOOR((CAST(p.vol AS DOUBLE)/t.total_vol)*1000000 + 0.5)/1000000.0
               AS poc_vol_share
    FROM poc p JOIN tot t USING (code) WHERE p.rn = 1 AND t.total_vol > 0
    """,
)
def volume_profile_poc(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    c = bars.select(
        "code",
        F.round(F.col("close") * 100, 0).cast("long").alias("cents"),
        F.col("volume").cast("long").alias("v"),
    )
    pc = Window.partitionBy("code")
    rng = c.select(
        "code",
        "cents",
        "v",
        F.min("cents").over(pc).alias("mn"),
        F.greatest(
            (F.max("cents").over(pc) - F.min("cents").over(pc) + 19) / F.lit(20),
            F.lit(1),
        )
        .cast("long")
        .alias("width"),
    )
    bucketed = rng.select(
        "code",
        "mn",
        "width",
        F.expr("(cents - mn) DIV width").alias("bucket"),
        "v",
    )
    per_bucket = bucketed.groupBy("code", "bucket").agg(
        F.max("mn").alias("mn"),
        F.max("width").alias("width"),
        F.sum("v").alias("vol"),
    )
    tot = per_bucket.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("vol").alias("total_vol"),
    )
    poc = per_bucket.select(
        "code",
        "mn",
        "width",
        "bucket",
        "vol",
        F.row_number()
        .over(pc.orderBy(F.col("vol").desc(), "bucket"))
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    return (
        poc.join(tot, "code")
        .filter(F.col("total_vol") > 0)
        .select(
            "code",
            "n_buckets",
            "total_vol",
            ((F.col("mn") + F.col("bucket") * F.col("width")) / 100.0).alias(
                "poc_price_lo"
            ),
            (
                (F.col("mn") + (F.col("bucket") + 1) * F.col("width")) / 100.0
            ).alias("poc_price_hi"),
            round6(
                F.col("vol").cast("double") / F.col("total_vol")
            ).alias("poc_vol_share"),
        )
    )


# ---------------------------------------------------------------------------
# Conditional drawdown at risk, CDaR 95 (new r11 late, Chekhlov-
# Uryasev-Zabarankin 2005): the drawdown-TAIL statistic the family
# still lacked — var_cvar_daily owns the return tail, ulcer_index the
# drawdown RMS, backtest_drawdown the single max; CDaR_95 is the mean
# of the WORST 5% of daily drawdown observations, the portfolio-
# optimization-native risk measure between "max" (too pessimistic) and
# "average" (too forgiving).
#
# Determinism: the ulcer convention — integer cents, integer running
# max, per-day drawdown quantized to the 1e8 grid; the tail is an
# exact-integer selection (row_number over (dq ASC, d), k = exact
# ceil(n/20) = (n+19)//20) and the mean one division of integer sums.
#
# Scale shape: one partitionBy(code) ordered pass (running max + tail
# rank ride the same sort), one code-keyed aggregate. No joins.
# ---------------------------------------------------------------------------
@query(
    "drawdown_at_risk",
    oracle=f"""
    WITH {O_BARS},
    c AS (
        SELECT code, d, CAST(ROUND(close*100,0) AS BIGINT) AS cents
        FROM bars
    ), r AS (
        SELECT code, d, cents,
               MAX(cents) OVER (PARTITION BY code ORDER BY d
                                ROWS UNBOUNDED PRECEDING) AS mx
        FROM c
    ), p AS (
        SELECT code, d,
               CAST(ROUND((CAST(cents AS DOUBLE)/mx - 1)*100000000,0) AS BIGINT)
                   AS dq
        FROM r WHERE mx > 0
    ), ranked AS (
        SELECT code, dq,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY dq, d) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY code) AS BIGINT) AS n
        FROM p
    ), agg AS (
        SELECT code, MAX(n) AS n_days, (MAX(n) + 19) // 20 AS k,
               MIN(dq) AS mindq,
               SUM(CASE WHEN rn <= (n + 19) // 20 THEN dq END) AS tail_sum
        FROM ranked GROUP BY code HAVING MAX(n) >= 20
    )
    SELECT code, n_days, k AS k_tail,
           FLOOR((-mindq/100000000.0)*1000000 + 0.5)/1000000.0 AS max_drawdown,
           FLOOR((-CAST(tail_sum AS DOUBLE)/k/100000000.0)*1000000 + 0.5)
             /1000000.0 AS cdar_95
    FROM agg
    """,
)
def drawdown_at_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    c = bars.select(
        "code", "d", F.round(F.col("close") * 100, 0).cast("long").alias("cents")
    )
    r = c.select("code", "d", "cents", F.max("cents").over(wc).alias("mx"))
    p = r.filter(F.col("mx") > 0).select(
        "code",
        "d",
        F.round((F.col("cents").cast("double") / F.col("mx") - 1) * 100_000_000, 0)
        .cast("long")
        .alias("dq"),
    )
    pc = Window.partitionBy("code")
    ranked = p.select(
        "code",
        "dq",
        F.row_number().over(pc.orderBy("dq", "d")).alias("rn"),
        F.count(F.lit(1)).over(pc).alias("n"),
    )
    agg = (
        ranked.groupBy("code")
        .agg(
            F.max("n").alias("n_days"),
            F.expr("(MAX(n) + 19) DIV 20").alias("k"),
            F.min("dq").alias("mindq"),
            F.sum(
                F.when(F.expr("rn <= (n + 19) DIV 20"), F.col("dq"))
            ).alias("tail_sum"),
        )
        .filter(F.col("n_days") >= 20)
    )
    return agg.select(
        "code",
        "n_days",
        F.col("k").alias("k_tail"),
        round6(-F.col("mindq") / 100_000_000.0).alias("max_drawdown"),
        round6(
            -F.col("tail_sum").cast("double") / F.col("k") / 100_000_000.0
        ).alias("cdar_95"),
    )


# ---------------------------------------------------------------------------
# Month-of-year seasonality panel (new r11 late): the calendar-anomaly
# axis calendar_dow_effect doesn't cover — the January-effect family
# (Rozeff-Kinney 1976). Per calendar month across the whole universe:
# observation count, mean daily return, the one-sample t-stat against
# zero, and the hit rate. The t-stat is what dow_effect lacks — it
# turns "January looks higher" into a testable magnitude.
#
# Determinism: returns on the 1e8 grid; S and Q = Σr² accumulate in
# decimal(38,0)/HUGEINT (Q would pass int64 at ~3,700 obs of ±50%
# days — a 100× replica month holds ~800k obs); mean/t arithmetic runs
# on identical doubles from exact integers.
#
# Scale shape: one lag window per entity, then a 12-bucket map-side-
# combined aggregate.
# ---------------------------------------------------------------------------
@query(
    "calendar_month_effect",
    oracle=f"""
    WITH {O_BARS},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{_RS},0) AS BIGINT)
                   AS ret_c
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
        QUALIFY ret_c IS NOT NULL
    ), agg AS (
        SELECT CAST(month(d) AS INT) AS mth,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               SUM(CAST(ret_c AS HUGEINT)) AS s,
               SUM(CAST(ret_c AS HUGEINT)*ret_c) AS q,
               CAST(count_if(ret_c > 0) AS BIGINT) AS n_up
        FROM rets GROUP BY month(d)
    )
    SELECT mth, n_obs,
           FLOOR((CAST(s AS DOUBLE)/n_obs/{_RS})*1000000 + 0.5)/1000000.0
               AS mean_ret,
           CASE WHEN n_obs > 1
                 AND CAST(n_obs AS HUGEINT)*q - s*s > 0 THEN
             FLOOR(((CAST(s AS DOUBLE)/n_obs)
                    / sqrt((CAST(n_obs AS DOUBLE)*CAST(q AS DOUBLE)
                            - CAST(s AS DOUBLE)*CAST(s AS DOUBLE))
                           /n_obs/(n_obs - 1)/n_obs))*1000000 + 0.5)/1000000.0
           END AS t_stat,
           FLOOR((n_up*1.0/n_obs)*1000000 + 0.5)/1000000.0 AS hit_rate
    FROM agg
    """,
)
def calendar_month_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    ret_c = F.round((F.col("close") / F.lag("close").over(w) - 1) * _RS, 0).cast(
        "long"
    )
    rets = bars.select("d", ret_c.alias("ret_c")).filter(F.col("ret_c").isNotNull())
    dec = F.col("ret_c").cast("decimal(38,0)")
    agg = rets.groupBy(F.month("d").cast("int").alias("mth")).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(dec).alias("s"),
        F.sum(dec * dec).alias("q"),
        F.count_if(F.col("ret_c") > 0).alias("n_up"),
    )
    nd = F.col("n_obs").cast("double")
    sd, qd = F.col("s").cast("double"), F.col("q").cast("double")
    var_num = (
        F.col("n_obs").cast("decimal(38,0)") * F.col("q") - F.col("s") * F.col("s")
    )
    t = (sd / nd) / F.sqrt((nd * qd - sd * sd) / nd / (nd - 1) / nd)
    return agg.select(
        "mth",
        "n_obs",
        round6(sd / nd / _RS).alias("mean_ret"),
        F.when((F.col("n_obs") > 1) & (var_num > 0), round6(t)).alias("t_stat"),
        round6(F.col("n_up") * 1.0 / F.col("n_obs")).alias("hit_rate"),
    )


# ---------------------------------------------------------------------------
# CUSUM mean-shift statistic (new r12, Brown-Durbin-Evans class): the
# structural-break panel — max_k |n*S_k - k*T| scaled by sigma*n^1.5,
# with the break LOCATION (the day attaining the max, earliest on
# ties) reported as a fraction of the sample. The regime-change
# question ("did this name's mean return shift mid-sample?") that the
# stationary panels (acf, ljung-box, variance ratio) assume away.
#
# Determinism: S_k (running sum), B_k = n*S_k - k*T, and the argmax
# selection (|B_k| DESC, d ASC) are exact integers on the 1e4 grid in
# decimal(38,0)/HUGEINT; the statistic is one double division against
# sqrt((nQ - T^2) * n), round6'd.
#
# Scale shape: one code-keyed ordered pass (running sum + row number),
# one code-keyed aggregate to fetch (n, T, Q), one broadcast-back join
# (code-keyed, panel-bounded), one argmax window. No data-sized joins.
# ---------------------------------------------------------------------------
@query(
    "cusum_break_stat",
    oracle=f"""
    WITH {{O_BARS}},
    rets AS (
        SELECT code, d,
               CAST(ROUND((close / LAG(close) OVER w - 1)*{{_FM_S}},0) AS BIGINT)
                   AS rq
        FROM bars WINDOW w AS (PARTITION BY code ORDER BY d)
        QUALIFY rq IS NOT NULL
    ), c AS (
        SELECT code, d, rq,
               SUM(CAST(rq AS HUGEINT)) OVER (PARTITION BY code ORDER BY d
                   ROWS UNBOUNDED PRECEDING) AS sk,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY d) AS k
        FROM rets
    ), tot AS (
        SELECT code, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(rq AS HUGEINT)) AS t,
               SUM(CAST(rq AS HUGEINT)*rq) AS q
        FROM rets GROUP BY code
        HAVING COUNT(*) >= 20
           AND COUNT(*)*SUM(CAST(rq AS HUGEINT)*rq)
               - SUM(CAST(rq AS HUGEINT))*SUM(CAST(rq AS HUGEINT)) > 0
    ), b AS (
        SELECT c.code, c.d, c.k, tot.n, tot.t, tot.q,
               ABS(CAST(tot.n AS HUGEINT)*c.sk - CAST(c.k AS HUGEINT)*tot.t)
                   AS bk
        FROM c JOIN tot USING (code)
    ), pick AS (
        SELECT code, d, k, n, t, q, bk,
               ROW_NUMBER() OVER (PARTITION BY code ORDER BY bk DESC, d) AS rn
        FROM b
    )
    SELECT code, n AS n_days,
           FLOOR((CAST(bk AS DOUBLE)
                  / sqrt(CAST((CAST(n AS HUGEINT)*q - t*t) AS DOUBLE)
                         * CAST(n AS DOUBLE)))*1000000 + 0.5)/1000000.0
               AS cusum_stat,
           FLOOR((CAST(k AS DOUBLE)/n)*1000000 + 0.5)/1000000.0 AS break_frac
    FROM pick WHERE rn = 1
    """.replace("{O_BARS}", O_BARS).replace("{_FM_S}", str(_FM_S)),
)
def cusum_break_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir)
    w = Window.partitionBy("code").orderBy("d")
    rq = F.round((F.col("close") / F.lag("close").over(w) - 1) * _FM_S, 0).cast(
        "long"
    )
    from ..session import managed_persist

    # persisted: the rets relation feeds both the running-sum pass and
    # the per-code totals (one panel build, not two)
    rets = managed_persist(
        bars.select("code", "d", rq.alias("rq")).filter(F.col("rq").isNotNull())
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    c = rets.select(
        "code",
        "d",
        F.sum(dec("rq")).over(wc).alias("sk"),
        F.row_number().over(w).alias("k"),
    )
    tot = (
        rets.groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("rq")).alias("t"),
            F.sum(dec("rq") * dec("rq")).alias("q"),
        )
        .filter(
            (F.col("n") >= 20)
            & (dec("n") * F.col("q") - F.col("t") * F.col("t") > 0)
        )
    )
    b = c.join(F.broadcast(tot), "code").select(
        "code",
        "d",
        "k",
        "n",
        "t",
        "q",
        F.abs(dec("n") * F.col("sk") - dec("k") * F.col("t")).alias("bk"),
    )
    pick = Window.partitionBy("code").orderBy(F.col("bk").desc(), "d")
    stat = F.col("bk").cast("double") / F.sqrt(
        (dec("n") * F.col("q") - F.col("t") * F.col("t")).cast("double")
        * F.col("n").cast("double")
    )
    return (
        b.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "code",
            F.col("n").alias("n_days"),
            round6(stat).alias("cusum_stat"),
            round6(F.col("k").cast("double") / F.col("n")).alias("break_frac"),
        )
    )


