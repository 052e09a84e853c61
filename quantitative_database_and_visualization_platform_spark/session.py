"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every setting is
chosen to also be correct on a large cluster:

- AQE on (runtime coalescing, skew-join splitting, plan re-optimization).
- ``spark.sql.session.timeZone=UTC`` so timestamp semantics match the
  DuckDB oracle (naive-UTC) exactly.
- Arrow enabled for the few pandas-UDF operators (EMA family).
- shuffle partitions sized to the local core count; on a real cluster AQE
  coalesces from a higher initial number, so we only pin it when running
  locally.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from contextlib import contextmanager
from typing import TypeVar

from pyspark.sql import SparkSession

_T = TypeVar("_T")


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "qdvp-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cores = cpu_count()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalesces by SHUFFLE BYTES, but the window-heavy factor
        # stages are CPU-bound with tiny compressed shuffle output: the
        # default 1MB floor collapsed the 101-alpha entity-axis stage to
        # 5 tasks on 32 cores (43s of the 75s build). A 16KB floor lets
        # parallelism-first coalescing keep all cores busy; at production
        # scale partitions are far above 1MB so the floor never binds.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI mode (Spark 4 default) turns zero-variance corr/covar windows
        # into DIVIDE_BY_ZERO errors; the reference/pandas/DuckDB semantics
        # are NULL on degenerate windows, so run non-ANSI.
        .config("spark.sql.ansi.enabled", "false")
        # events.ts is parquet TIMESTAMP(NANOS), which the vectorized reader
        # rejects; read as long nanos (converted in sources.catalog).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # every PySpark API call otherwise captures the Python call site
        # (stack inspection + a JVM round-trip) for error enrichment; the
        # alpha DAG's ~66k construction calls pay that tax for nothing
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return _quiet_window_warnings(builder.getOrCreate())


def _quiet_window_warnings(spark: SparkSession) -> SparkSession:
    """Silence ``WindowExec: No Partition Defined`` for the ALLOWLISTED
    bounded windows only — every remaining unpartitioned window in the
    repo runs over a relation bounded by construction (nation² pair
    grids, k-bucket series, ~500-row sketch cumulatives; the exact list
    and row-count proofs live in tests/test_plan_shape.py's
    BOUNDED_WINDOW_ALLOWLIST), and the plan red-line test there FAILS
    the build if anyone adds a new unpartitioned window over an
    unbounded relation. So the warning carries no signal here, and
    suppressing it keeps the bench tail clean instead of sending every
    future reader off to re-investigate a known-bounded window."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # noqa: BLE001 — cosmetic; never fail a session over logging
        pass
    return spark


# --- managed persist registry -----------------------------------------------
# Query builders persist() intermediates (dedup signatures, bucketed
# tables) that the CALLER materializes; in a long-lived session running
# many queries those cached blocks would otherwise accumulate and pressure
# executor memory. Builders register via managed_persist; harnesses
# (bench.py, oracle_check) call release_managed() after each query's
# action completes. Deliberately session-lived leaves (bars, alpha,
# shingles, ...) live in `session_table` and are NOT registered.

_MANAGED: list = []


def managed_persist(df):
    df = df.persist()
    _MANAGED.append(df)
    return df


def release_managed() -> None:
    while _MANAGED:
        try:
            _MANAGED.pop().unpersist()
        except Exception:  # noqa: BLE001 — session may already be gone
            pass


# --- session tables -----------------------------------------------------------
# Shared tables are materialized once per session and read back as leaves
# (Shark's in-memory table store): the daily-bar panel, the alpha/IC
# tables, shingles, n-gram pairs, the IVF chain, the catalog's analyzed
# plans and the counts derived from them all live in `session_table`.

_tables: dict[tuple, tuple[tuple, object]] = {}
_tables_ctx: tuple | None = None


def path_sig(path: str) -> tuple:
    """Cheap content signature: (mtime_ns, size) of the file, or of every
    direct child of a directory — an in-place rewrite changes it."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        with os.scandir(path) as it:
            entries = sorted((e.name, e.stat().st_mtime_ns, e.stat().st_size) for e in it)
        return tuple(entries)
    except OSError:
        # missing path: let the reader raise its own (Spark) error
        return ("<missing>",)


def context_key(spark: SparkSession) -> tuple[str, int]:
    """Stable identity of the SparkContext that `session_table` entries
    belong to.

    ``id(spark.sparkContext)`` is NOT stable: after a context is stopped
    and garbage-collected, CPython can reuse the same id for a new
    context, which would return a stale localCheckpoint'd DataFrame bound
    to the dead JVM. (applicationId, startTime) is unique per real
    context and never reused.
    """
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


def session_table(
    spark: SparkSession, name: str, inputs: tuple[str, ...], params: tuple, build: Callable[[], _T]
) -> _T:
    """``build()``'s value, built once per session and input version.

    One entry is kept per (name, params) for the live SparkContext,
    stored with the `path_sig` of every path in `inputs` — the parquet
    files the value derives from. A call whose input signatures all
    match returns the stored value; otherwise it rebuilds and replaces
    the entry, so a file rewritten in place is never served stale and the
    superseded build is dropped. Entries of a stopped context are dropped
    when a new context first uses the store: PySpark runs one
    SparkContext per process, so they can never be served again."""
    global _tables_ctx
    ctx = context_key(spark)
    if ctx != _tables_ctx:
        _tables.clear()
        _tables_ctx = ctx
    key = (name, params)
    sigs = tuple(path_sig(p) for p in inputs)
    hit = _tables.get(key)
    if hit is not None and hit[0] == sigs:
        return hit[1]
    value = build()
    _tables[key] = (sigs, value)
    return value


# --- leaf builds --------------------------------------------------------------

_AQE = "spark.sql.adaptive.enabled"
_aqe_lock = threading.Lock()
_aqe_depth = 0
_aqe_restore: tuple | None = None


@contextmanager
def aqe_off(spark: SparkSession):
    """Run a leaf build with AQE off.

    AQE re-plans the remaining DAG after every shuffle stage: pure
    driver overhead for the fixed-shape leaf builds (~25 s of the alpha
    build at sf0.1); the leaves are consumed with AQE restored. The
    setting is session-global, and builds nest (`_ngram_pairs` →
    `_shingles_table` → `checkpoint_sized`) and may overlap across
    threads, so open regions are counted: the first to open saves the
    prior value and turns AQE off, the last to close restores it. A
    save/restore per region restores in the wrong order when two
    regions overlap and leaves AQE off for the rest of the session. The
    count is per process: a region opened on a second SparkSession while
    another session's region is open leaves the second one's setting
    alone."""
    global _aqe_depth, _aqe_restore
    with _aqe_lock:
        if _aqe_depth == 0:
            _aqe_restore = (spark, spark.conf.get(_AQE))
            spark.conf.set(_AQE, "false")
        _aqe_depth += 1
    try:
        yield
    finally:
        with _aqe_lock:
            _aqe_depth -= 1
            if _aqe_depth == 0:
                owner, prior = _aqe_restore
                owner.conf.set(_AQE, prior)


def leaf_partitions(spark, n_rows: int, row_bytes: int, floor: int = 4) -> int:
    """Data-sized partition count for a materialized leaf: ~64 MB of
    rows per partition, floored at min(defaultParallelism, floor).

    The floor exists because broadcast-BUILD chains over a leaf run at
    leaf parallelism with no exchange to re-spread them (measured at
    sf0.1, warm medians: cointegration_screen 8.7 s on a 1-partition
    bars leaf, 1.9 s at 4); the ceiling-by-bytes exists because a
    32-partition leaf of a 4 MB panel turns every one of a query's leaf
    scans into 32 micro-tasks (cointegration_screen 6.0 s at 32). At
    production scale the bytes term dominates and the floor never
    binds. `row_bytes` is a per-row unsafe-format estimate used only for
    SIZING, never correctness."""
    return max(
        min(spark.sparkContext.defaultParallelism, floor),
        -(-n_rows * row_bytes // (64 << 20)),
    )


def checkpoint_sized(spark, df, row_bytes: int, floor: int = 4):
    """Eager localCheckpoint re-materialized at `leaf_partitions` count.

    A raw checkpoint leaf inherits shuffle.partitions from its build — a
    core-count constant. The coalesce is RE-CHECKPOINTED because a lazy
    Coalesce over raw blocks measured 1.7x slower than physically merged
    blocks (interleaved A/B, same session). AQE is off for the build
    jobs (re-planning overhead only; the leaf is consumed under AQE)."""
    with aqe_off(spark):
        leaf = df.localCheckpoint(eager=True)
        target = leaf_partitions(spark, leaf.count(), row_bytes, floor)
        if target < leaf.rdd.getNumPartitions():
            leaf = leaf.coalesce(target).localCheckpoint(eager=True)
        return leaf


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our config to a session we did
    not create (the driver hands us one)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # see get_spark: keep CPU-bound window stages parallel at bench scale
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
    # a driver-built session defaults to 10MB broadcast / 200 shuffle
    # partitions; both are runtime-settable and matter at gate scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    spark.conf.set("spark.sql.shuffle.partitions", str(max(cpu_count(), 8)))
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    return _quiet_window_warnings(spark)
