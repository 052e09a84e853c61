"""Cross-sectional operators: per-date slices across all entities.

Reference semantics: pandas groupby(date) ranks/demeaning inside the
Alpha101 P2/P4 stages (`alpha101_engine.py:90-98`,
`Project report.md:748-758`). Each op is a pure Column builder over a
`partitionBy(date)` window — one shuffle per re-partitioning axis, shared
by every cross-sectional column computed in the same stage.
"""

from __future__ import annotations

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F

from .timeseries import ColumnOrName, _col


def date_window(date: str = "trade_date") -> WindowSpec:
    return Window.partitionBy(date)


def cs_rank(x: ColumnOrName, date: str = "trade_date") -> Column:
    """pandas .rank(pct=True) within one date: average tie rank / count,
    result in (0, 1] (alpha101_engine.py:90-93). NOTE this is *not*
    percent_rank() (which is (rank-1)/(n-1)); the average-tie/n convention
    matches the reference exactly."""
    c = _col(x)
    # nulls LAST (matching DuckDB/pandas defaults) so non-null ranks start
    # at 1 even when the column has nulls; null inputs rank as null.
    ordered = Window.partitionBy(date).orderBy(c.asc_nulls_last())
    r_min = F.rank().over(ordered)
    # tie count via the peers frame (RANGE CURRENT ROW..CURRENT ROW) — it
    # shares the partitionBy(date) exchange of rank() instead of forcing a
    # second hash partitioning on (date, value) per ranked column; ranking
    # k columns is then ONE date-axis shuffle + k sorts, not k shuffles.
    ties = F.count(c).over(ordered.rangeBetween(Window.currentRow, Window.currentRow))
    n = F.count(c).over(date_window(date))
    avg_rank = r_min + (ties - 1) / 2.0
    return F.when(c.isNotNull(), avg_rank / n)


def with_cs_rank_block(
    df, specs: dict[str, str], date: str = "trade_date", keep: tuple[str, ...] | None = None
):
    """Compute MANY cross-sectional pct-average ranks in ONE vectorized
    pass: {out_col: src_col} → each out_col is cs_rank(src_col) within the
    date, with identical numerics (average tie rank (r_min+r_max)/2 is an
    exact .5-step double on both paths, divided once by the non-null
    count; null in → null out).

    Why not k cs_rank window columns: every ranked column is its own
    orderBy, so Catalyst plans k separate Sort+Window passes, each
    buffering the FULL row width — measured ~100 passes × ~330 carried
    columns on the Alpha101 DAG, the dominant cost of the whole factor
    build. One grouped-pandas pass ranks all k columns in C (pandas
    rank) per date instead.

    Shape: ``groupBy(date).applyInPandas`` — NOT mapInPandas. The grouped
    form declares ClusteredDistribution(date), so Catalyst itself
    guarantees a date is never ranked in fragments (the earlier
    mapInPandas version relied on an unenforced "input is already
    date-clustered" contract that a future upstream repartition would
    have broken silently), and when the input already went through a
    partitionBy(date) window stage the existing exchange satisfies the
    distribution — no new shuffle, just a near-free sort on the already
    date-prefixed rows. Pandas memory is O(one date's cross-section),
    not O(partition), so the block survives any input scale without a
    size-derived partition count.

    NaN policy: the sources must be NULL-or-finite (SQL arithmetic yields
    NULL, not NaN). pandas would silently rank NaN as null while the
    window cs_rank ranks it greatest, so a NaN input raises at runtime
    (raise_error guard below) instead of diverging quietly.

    `keep`: the Python function is a column-pruning BARRIER — Catalyst
    cannot see through it, so without help every upstream intermediate
    flows through the block (and through every downstream exchange) even
    when nothing ever reads it again. Pass the set of columns genuinely
    referenced downstream and the block projects down to keep ∪ sources
    first, restoring pruning for the whole upstream plan. Dropping a
    needed column fails analysis loudly at build time, so the list is
    safe to maintain mechanically.
    """
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    if keep is not None:
        cols = list(dict.fromkeys([*keep, *specs.values()]))
        df = df.select(*cols)
    out_schema = StructType(
        df.schema.fields + [StructField(o, DoubleType()) for o in specs]
    )
    items = list(specs.items())

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        ranked = {
            out: pdf[src].rank(method="average", pct=True) for out, src in items
        }
        return pd.concat([pdf, pd.DataFrame(ranked)], axis=1)

    out = df.groupBy(date).applyInPandas(compute, schema=out_schema)
    # Arrow hands SQL NULL to pandas as NaN and the NaN rank comes back as
    # NaN, not NULL — restore the null mask from the source column. The
    # isnan branch makes a true-NaN source loud (it would otherwise rank
    # differently from the window cs_rank / the SQL oracle).
    # selectExpr strings, not Column algebra: the wrapper is ~15 py4j
    # round-trips per ranked column as Columns (~85 columns × 3 blocks in
    # the alpha DAG ≈ seconds of driver construction); as SQL text the
    # whole projection is ONE parse call.
    return out.selectExpr(
        *[f"`{c}`" for c in df.columns],
        *[
            f"CASE WHEN `{src}` IS NOT NULL AND isnan(`{src}`) "
            f"THEN raise_error('cs_rank block: NaN in source column {src}') "
            f"WHEN `{src}` IS NOT NULL THEN `{out_col}` END AS `{out_col}`"
            for out_col, src in items
        ],
    )


def cs_scale(x: ColumnOrName, a: float = 1.0, date: str = "trade_date") -> Column:
    """Rescale so sum(|x|) == a per date (alpha101_engine.py:95-98)."""
    c = _col(x)
    return c * a / F.sum(F.abs(c)).over(date_window(date))


def cs_demean(x: ColumnOrName, date: str = "trade_date", *groups: str) -> Column:
    """indneutralize: x - mean(x) within (date, group...) —
    industry-demeaning (`Project report.md:748-757`)."""
    c = _col(x)
    return c - F.avg(c).over(Window.partitionBy(date, *groups))


def cs_demean_fixed(
    x: ColumnOrName, date: str = "trade_date", *groups: str, scale: int = 100_000_000
) -> Column:
    """indneutralize with engine-exact arithmetic: the group mean is taken
    over fixed-point-quantized values (integer sum — order-independent —
    then two IEEE divisions), so Spark and a SQL oracle produce the same
    bits where a plain AVG's summation order could differ. Used by the
    alpha DAG's industry-neutralized factors.

    Scale note: the (date, group...) window needs rows clustered by
    (date, group); hashpartitioning(date) from the surrounding
    cross-sectional stage already satisfies that ClusteredDistribution,
    so this adds a sort, not a shuffle."""
    c = _col(x)
    q = F.floor(c * scale + F.lit(0.5)).cast("decimal(38,0)")
    win = Window.partitionBy(date, *groups)
    s = F.sum(F.when(c.isNotNull(), q)).over(win).cast("double")
    n = F.count(c).over(win).cast("double")
    return c - s / n / scale


def cs_zscore(x: ColumnOrName, date: str = "trade_date") -> Column:
    c = _col(x)
    w = date_window(date)
    return (c - F.avg(c).over(w)) / F.stddev_samp(c).over(w)


def cs_ntile(x: ColumnOrName, n: int, date: str = "trade_date", *tie_break: str) -> Column:
    """Quantile bucket 1..n per date (pd.qcut analog,
    `pages/5_Alpha lab.py:129`). Pass tie_break columns to make bucket
    assignment deterministic under ties."""
    order = [_col(x)] + [F.col(t) for t in tie_break]
    return F.ntile(n).over(Window.partitionBy(date).orderBy(*order))


def histogram_bin(x: ColumnOrName, edges: list[float]) -> Column:
    """Fixed-edge binning (pd.cut analog, `pages/1_Market overview.py:99-102`).
    Returns the 1-based bucket index; NULL outside [edges[0], edges[-1])."""
    c = _col(x)
    expr = F.lit(None).cast("int")
    for i in range(len(edges) - 1, 0, -1):
        expr = F.when((c >= edges[i - 1]) & (c < edges[i]), i).otherwise(expr)
    return expr
