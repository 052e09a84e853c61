"""`session_table`: the one store behind every session-materialized leaf,
and `aqe_off`: the one place a build turns AQE off.

1. Every shared build declares the parquet files it derives from, and a
   call rebuilds when any of them was rewritten in place — a long-lived
   session over tables that ingest or compaction rewrites must never
   serve a build of the old file. A build whose inputs did not change is
   returned as the identical object.

2. AQE-off regions nest (`_ngram_pairs` → `_shingles_table` →
   `checkpoint_sized`) and may overlap across threads; however they
   interleave, the session's setting ends where it started.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
from contextlib import nullcontext

import duckdb
import pytest
from conftest import SF_SMOKE as SF
from pyspark.sql import functions as F

from quantitative_database_and_visualization_platform_spark.factors.panel import bars_table
from quantitative_database_and_visualization_platform_spark.plans import alpha_queries as aq
from quantitative_database_and_visualization_platform_spark.plans.backtest_queries import _n_codes
from quantitative_database_and_visualization_platform_spark.plans.pipeline_queries import (
    _ivf_chain,
    _n_docs,
    _n_vecs,
    _ngram_pairs,
    _shingles_table,
)
from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table

AQE = "spark.sql.adaptive.enabled"

# in-place rewrites: each keeps about half the rows of the original
REWRITES = {
    "documents": "doc_id % 2 = 0",
    "embeddings": "vec_id % 2 = 0",
    "events": "user_id % 2 = 0",
}


def _rewrite(sf_dir: str, table: str) -> None:
    con = duckdb.connect()
    try:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SF}/{table}.parquet')"
            f" WHERE {REWRITES[table]}) TO '{sf_dir}/{table}.parquet' (FORMAT PARQUET)"
        )
    finally:
        con.close()


def _builds(spark, sf_dir: str) -> dict:
    """Every session-table consumer, with the input each derives from."""
    assigned, cents = _ivf_chain(spark, sf_dir)
    return {
        "documents": {
            "load_table": load_table(spark, sf_dir, "documents"),
            "shingles": _shingles_table(spark, sf_dir),
            "n_docs": _n_docs(spark, sf_dir),
            "ngram_pairs": _ngram_pairs(spark, sf_dir),
        },
        "embeddings": {
            "load_table": load_table(spark, sf_dir, "embeddings"),
            "ivf_assigned": assigned,
            "ivf_cents": cents,
            "n_vecs": _n_vecs(spark, sf_dir),
        },
        "events": {
            "load_table": load_table(spark, sf_dir, "events"),
            "bars": bars_table(spark, sf_dir),
            "n_codes": _n_codes(spark, sf_dir),
        },
        "nation": {"load_table": load_table(spark, sf_dir, "nation")},
    }


def _rows(v):
    """Comparable content of a build: sorted rows, array cells as lists."""
    if isinstance(v, int):
        return v
    return sorted(
        tuple(tuple(c) if isinstance(c, list) else c for c in r) for r in v.collect()
    )


def test_session_tables_rebuild_when_an_input_is_rewritten(spark, tmp_path):
    live = tmp_path / "live"
    live.mkdir()
    for t in ("documents", "embeddings", "events", "nation"):
        shutil.copyfile(f"{SF}/{t}.parquet", live / f"{t}.parquet")
    old = _builds(spark, str(live))
    # contents are read now: a lazy plan collected after the rewrite
    # would read the new file
    old_rows = {t: {n: _rows(v) for n, v in b.items()} for t, b in old.items()}

    for i, step in enumerate((("documents",), ("embeddings", "events"))):
        for t in step:
            _rewrite(str(live), t)
        fresh = tmp_path / f"fresh{i}"
        shutil.copytree(live, fresh)
        got = _builds(spark, str(live))
        want = _builds(spark, str(fresh))  # a directory never seen: first builds
        for table, builds in got.items():
            for name, value in builds.items():
                label = f"{table}/{name} after rewriting {step}"
                if table in step:
                    rows = _rows(value)
                    assert rows == _rows(want[table][name]), label
                    assert rows != old_rows[table][name], f"{label}: served stale"
                    old_rows[table][name] = rows
                else:
                    assert value is old[table][name], f"{label}: unchanged input rebuilt"
        old = got


def test_session_table_keys_on_params_and_input_signatures(spark, tmp_path):
    from quantitative_database_and_visualization_platform_spark.session import session_table

    f = tmp_path / "a.parquet"
    d = tmp_path / "b.parquet"
    f.write_bytes(b"1")
    d.mkdir()
    (d / "part-0").write_bytes(b"1")
    calls: list[tuple] = []

    def get(params=("p",)):
        def build():
            calls.append(params)
            return object()

        return session_table(spark, "stub", (str(f), str(d)), params, build)

    a = get()
    assert get() is a and len(calls) == 1
    other = get(("q",))
    assert other is not a and len(calls) == 2
    assert get() is a, "a second params entry must not evict the first"

    f.write_bytes(b"22")  # file rewritten: size changes
    b = get()
    assert b is not a and len(calls) == 3 and get() is b
    (d / "part-1").write_bytes(b"1")  # directory input gains a file
    c = get()
    assert c is not b and len(calls) == 4 and get() is c
    st = f.stat()
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))  # same size
    e = get()
    assert e is not c and len(calls) == 5 and get() is e


def test_alpha_and_ic_tables_rebuild_on_events_rewrite(spark, tmp_path, monkeypatch):
    """The alpha and IC tables declare events as their input. The 101-
    alpha DAG is stubbed (constant factor columns) so the real call sites
    — heap check, leaf input, rounding select, AQE-off checkpoint — run
    in seconds."""
    monkeypatch.setattr(
        aq,
        "with_alphas",
        lambda bars: bars.select("code", "d", *[F.lit(0.5).alias(c) for c in aq.ALPHA_COLS]),
    )
    ic_builds: list[int] = []

    def ic_stub(spark, sf_dir, cols):
        ic_builds.append(1)
        return aq._alpha_table(spark, sf_dir).groupBy().agg(F.count("*").alias("n"))

    monkeypatch.setattr(aq, "_ic_scan", ic_stub)
    shutil.copyfile(f"{SF}/events.parquet", tmp_path / "events.parquet")
    sf = str(tmp_path)

    alpha, ic = aq._alpha_table(spark, sf), aq._ic_table(spark, sf)
    assert aq._alpha_table(spark, sf) is alpha and aq._ic_table(spark, sf) is ic
    assert len(ic_builds) == 1
    n_old = alpha.count()

    _rewrite(sf, "events")
    alpha2, ic2 = aq._alpha_table(spark, sf), aq._ic_table(spark, sf)
    assert alpha2 is not alpha and ic2 is not ic and len(ic_builds) == 2
    assert alpha2.count() == bars_table(spark, sf).count() < n_old
    assert ic2.collect()[0]["n"] == alpha2.count()


def _with_aqe(spark, start: str):
    prev = spark.conf.get(AQE)
    spark.conf.set(AQE, start)
    return prev


@pytest.mark.parametrize("start", ["true", "false"])
def test_overlapping_and_nested_aqe_off_regions_restore_the_start(spark, start):
    """Thread A opens a region; B opens one while A's is open; A (with a
    nested region inside) closes first, B last. A save/restore per region
    leaves the setting at "false" here: B saved A's "false"."""
    from quantitative_database_and_visualization_platform_spark.session import aqe_off

    prev = _with_aqe(spark, start)
    a_open, b_open, a_closed = threading.Event(), threading.Event(), threading.Event()
    seen: list[str] = []

    def a():
        with aqe_off(spark):
            a_open.set()
            assert b_open.wait(30)
            with aqe_off(spark):
                seen.append(spark.conf.get(AQE))
        a_closed.set()

    def b():
        assert a_open.wait(30)
        with aqe_off(spark):
            b_open.set()
            assert a_closed.wait(30)
            seen.append(spark.conf.get(AQE))

    try:
        threads = [threading.Thread(target=f) for f in (a, b)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
        assert seen == ["false", "false"], "AQE must stay off while any region is open"
        assert spark.conf.get(AQE) == start
    finally:
        spark.conf.set(AQE, prev)


def test_aqe_off_regions_under_thread_contention(spark):
    from quantitative_database_and_visualization_platform_spark.session import aqe_off

    prev = _with_aqe(spark, "true")
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    wrong: list[str] = []

    def worker(depth: int):
        for _ in range(20):
            with aqe_off(spark):
                with aqe_off(spark) if depth else nullcontext():
                    v = spark.conf.get(AQE)
                    if v != "false":
                        wrong.append(v)

    try:
        threads = [threading.Thread(target=worker, args=(i % 2,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
        assert wrong == []
        assert spark.conf.get(AQE) == "true"
    finally:
        sys.setswitchinterval(switch)
        spark.conf.set(AQE, prev)

