"""Table catalog over the parquet lakehouse.

The reference's tables live in ClickHouse with declared DDL
(`database/ddl/*.md` in the reference repo); here the lakehouse is parquet
and the catalog is this module: one `spark.read.parquet` per table, lazily,
with column pruning / predicate pushdown left to Catalyst.

Test data layout (TESTDATA.md): ``{sf_dir}/{table}.parquet`` for
``region nation customer supplier part orders lineitem events documents
embeddings``.

Scale notes (100 TB design):
- reads are plain parquet scans -> vectorized reader + pushdown for free.
- production layout convention (mirrors the reference's
  PARTITION BY toYear/toYYYYMM + ORDER BY clustering,
  reference `database/ddl/quant_db_ddl.md:108`, `Project report.md:414-422`):
  `write_partitioned` writes fact tables partitioned by a date-derived
  column and sorted within partitions by the cluster key so parquet
  row-group min/max statistics can skip data on the cluster key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import session_table

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that are safe to broadcast-hint when joined to a
# fact table (the reference's meta_*/rel_* star-schema dims,
# `Project report.md:428`). Only tables whose size is FIXED (independent of
# the data scale) belong here: customer/supplier/part grow with the scale
# factor, so forcing a broadcast of them would OOM at 100 TB — they are
# left to AQE, which broadcasts at runtime only when the actual size fits.
DIM_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects; spark.sql.legacy.parquet.nanosAsLong (set once in
        # session.get_spark / tune_existing — not here: a reader must not
        # mutate session config) surfaces it as raw long nanos, converted
        # via integer division (ns values exceed 2^53, so no double math).
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.parquet(path)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Analyzed-plan memo: every `spark.read.parquet(path)` re-lists the path
# and re-reads footers for schema inference — a driver-side job costing
# 98-275 ms per call on this host (optimization guide §1/§6: file listing
# and planning are driver-side, single-process work). Queries call
# load_table 1-4x each, so a 293-query session re-derives the SAME
# immutable schemas hundreds of times. `load_table` keeps the analyzed
# DataFrame (a lazy plan — NO data is cached; every execution still scans
# parquet) in `session_table`, keyed on the file's stat signature, so a
# rewritten file can never be served a stale plan and a new session never
# reuses a dead JVM's plan. This is exactly what a catalog table
# (Hive/Iceberg metadata) gives for free; bare-path reads have to
# memoize it here.
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    return session_table(spark, "table", (path,), (path,), lambda: _read_table(spark, path, name))


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so `spark.sql` queries see the
    same names the DuckDB oracle uses."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Lakehouse write convention: partition dirs for pruning + sort within
    partitions for row-group skipping (the Spark analogue of the
    reference's PARTITION BY + ORDER BY MergeTree layout)."""
    (
        df.repartition(*partition_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )
