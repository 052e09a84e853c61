"""DuckDB reference results and the output check.

References are computed once per fixture, in their own process, with a
bounded DuckDB (``MEMORY_LIMIT``, ``THREADS``) that never runs while a
timed run does: the engine's in-process checker (48 GB limit, 16
threads, next to an 8 GB JVM) can be OOM-killed on the dedup oracles.
Each reference is keyed on the fixture's file signatures and the oracle
SQL, so a changed fixture or oracle recomputes only what it touches.

Outputs are compared through ``oracle_check``'s canonical cell encoding,
which keeps NULL and NaN apart and -0.0 and 0.0 apart. A run compares
sha256 digests of the encoded tables; on a mismatch it loads the stored
reference table and prints ``oracle_check.compare()``'s diagnostics.

Regenerate: delete ``perfbench/_cache/refs`` (or the whole
``perfbench/_cache``) and run ``python3 perfbench/refs.py``; the next
benchmark run also rebuilds whatever is missing or stale.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, "_cache")
# a verbatim copy of the engine's sf0.001 test fixture (TESTDATA.md)
FIXTURE_DIR = os.path.join(HERE, "sf0.001")
REFS_DIR = os.path.join(CACHE, "refs")

MEMORY_LIMIT = "3GB"
THREADS = 4


def _engine_path() -> None:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _oracle_check():
    _engine_path()
    from quantitative_database_and_visualization_platform_spark.plans import oracle_check

    return oracle_check


def fixture_tables() -> tuple[str, ...]:
    _engine_path()
    from quantitative_database_and_visualization_platform_spark.sources.catalog import TABLES

    return TABLES


def digest(table: pa.Table) -> str:
    """sha256 of the canonical (sorted, strictly encoded) table."""
    cols, rows = _oracle_check()._encode_table(table)
    h = hashlib.sha256(json.dumps(cols).encode())
    for row in rows:
        h.update(b"\x1e")
        h.update("\x1f".join(row).encode())
    return h.hexdigest()


def fixture_signature(fixture_dir: str, tables) -> dict[str, str]:
    sig = {}
    for t in tables:
        with open(os.path.join(fixture_dir, f"{t}.parquet"), "rb") as fh:
            sig[t] = hashlib.sha256(fh.read()).hexdigest()
    return sig


def reference_key(signature: dict[str, str], sql: str) -> str:
    return hashlib.sha256(
        (json.dumps(signature, sort_keys=True) + "\n" + sql).encode()
    ).hexdigest()[:32]


def reference_sql() -> dict[str, str]:
    """Oracle SQL for every output any workload checks."""
    _engine_path()
    from quantitative_database_and_visualization_platform_spark.plans import ORACLES

    from workloads import ROLLUP_SQL, WORKLOADS, bars_sql

    out: dict[str, str] = {}
    for w in WORKLOADS.values():
        for name in w.queries:
            out[name] = ORACLES[name]
    out["stream:rollup"] = ROLLUP_SQL
    out["stream:bars"] = bars_sql(ORACLES["tick_bars_minute"])
    return out


def _index_path(refs_dir: str) -> str:
    return os.path.join(refs_dir, "index.json")


def load_index(refs_dir: str = REFS_DIR) -> dict:
    try:
        with open(_index_path(refs_dir)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _run_duckdb(fixture_dir: str, tables, sql: str, tmp_dir: str) -> pa.Table:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET memory_limit='{MEMORY_LIMIT}'")
        con.execute(f"SET threads={THREADS}")
        con.execute(f"SET temp_directory='{tmp_dir}'")
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')"
            )
        return con.execute(sql).arrow()
    finally:
        con.close()


def build(fixture_dir: str = FIXTURE_DIR, refs_dir: str = REFS_DIR, log=print) -> dict:
    """Compute every missing or stale reference; return the index
    ``{name: {"key", "digest", "rows", "file"}}``."""
    tables = fixture_tables()
    os.makedirs(refs_dir, exist_ok=True)
    tmp_dir = os.path.join(refs_dir, "duckdb_tmp")
    sig = fixture_signature(fixture_dir, tables)
    index = load_index(refs_dir)
    for name, sql in reference_sql().items():
        key = reference_key(sig, sql)
        entry = index.get(name)
        if entry and entry["key"] == key and os.path.exists(os.path.join(refs_dir, entry["file"])):
            continue
        t0 = time.monotonic()
        table = _run_duckdb(fixture_dir, tables, sql, tmp_dir)
        index[name] = write_reference(refs_dir, key, table)
        log(f"reference {name}: {table.num_rows} rows in {time.monotonic() - t0:.2f} s")
    tmp = _index_path(refs_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(index, fh, indent=1, sort_keys=True)
    os.replace(tmp, _index_path(refs_dir))
    return index


def write_reference(refs_dir: str, key: str, table: pa.Table) -> dict:
    """Store one reference table (Arrow IPC keeps NULL, NaN and -0.0
    exactly) and return its index entry."""
    fname = f"{key}.arrow"
    with pa.OSFile(os.path.join(refs_dir, fname), "wb") as sink:
        with pa.ipc.new_file(sink, table.schema) as writer:
            writer.write_table(table)
    return {"key": key, "digest": digest(table), "rows": table.num_rows, "file": fname}


def read_reference(entry: dict, refs_dir: str = REFS_DIR) -> pa.Table:
    with pa.memory_map(os.path.join(refs_dir, entry["file"])) as src:
        return pa.ipc.open_file(src).read_all()


class Checker:
    """Counts operations and the ones whose output is missing or differs
    from its reference."""

    def __init__(self, index: dict, refs_dir: str = REFS_DIR):
        self.index = index
        self.refs_dir = refs_dir
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def problems_for(self, name: str, table: pa.Table) -> list[str]:
        entry = self.index.get(name)
        if entry is None:
            return [f"no reference for {name}"]
        oc = _oracle_check()
        # compare() rejects session-time-zone-dependent outputs even when
        # the values happen to agree; keep that rule in the fast path
        if oc._tzaware_cols(table) or digest(table) != entry["digest"]:
            return oc.compare(table, read_reference(entry, self.refs_dir)) or [
                "digest differs from the reference"
            ]
        return []

    def record(self, op: str, outputs: dict[str, pa.Table] | None, error: str | None = None) -> bool:
        """Count one operation: ``outputs`` maps reference name to the
        collected table; ``error`` is set when the operation raised."""
        self.attempted += 1
        found = [f"{op}: raised {error}"] if error else []
        for name, table in (outputs or {}).items():
            found += [f"{op} [{name}]: {p}" for p in self.problems_for(name, table)]
        if found:
            self.failed += 1
            self.problems.extend(found)
        return not found


def source_signature() -> str:
    """Hash of every file that decides a reference: the fixture, the
    engine package's sources (the oracle SQL) and this benchmark's own
    modules."""
    h = hashlib.sha256()
    engine = os.path.join(ROOT, "quantitative_database_and_visualization_platform_spark")
    paths = [os.path.join(HERE, f) for f in ("refs.py", "workloads.py")]
    paths += [os.path.join(FIXTURE_DIR, f) for f in os.listdir(FIXTURE_DIR)]
    for d, _, files in os.walk(engine):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure(log=print) -> dict:
    """Build missing or stale references. Skips the (engine-importing)
    key check when no source changed since the last build."""
    stamp = os.path.join(REFS_DIR, "sources.sha256")
    current = source_signature()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == current:
                return load_index()
    index = build(log=log)
    with open(stamp, "w") as fh:
        fh.write(current)
    return index


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    ensure(log=lambda m: print(m, file=sys.stderr, flush=True))
