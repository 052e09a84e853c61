"""quantspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload quant_panel --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout computes the
DuckDB references of the bundled fixture (perfbench/sf0.001) into
perfbench/_cache; later runs reuse them. Each run:

1. makes its seeded inputs (for a traced run, the tick stream's file split),
2. starts child.py, which sets up Spark, runs the workload's passes for
   --seconds and checks every output against its reference,
3. samples the resident memory of that process and its JVM meanwhile,
4. prints one ``metric <name> = <value> <unit>`` line per end-to-end
   metric, a ``host`` line, and last the JSON result line (end-to-end
   metrics, or per-layer metrics with --trace 1).

See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "quantitative_database_and_visualization_platform_spark")
sys.path.insert(0, HERE)

from workloads import REPLAY_FILES, WORKLOADS  # noqa: E402

CACHE = os.path.join(HERE, "_cache")
RESULTS = os.path.join(CACHE, "results.jsonl")
CHILD_TIMEOUT_S = 165
PREPARE_TIMEOUT_S = 800
DRIVER_MEM = "2g"


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _load() -> float:
    return round(os.getloadavg()[0], 2)


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_share(a: list[int], b: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings: contention the run cannot see otherwise."""
    d = [y - x for x, y in zip(a, b)]
    return round(d[7] / sum(d), 4) if sum(d) else 0.0


def _versions() -> dict:
    out = {}
    for mod in ("pyspark", "duckdb"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = None
    return out


def split_events(fixture_dir: str, out_dir: str, seed: int, n_files: int = REPLAY_FILES) -> None:
    """Cut the time-ordered events table at seeded points into
    ``n_files`` parquet files whose modification times follow event time,
    so the file source replays them in order (a later file holding
    earlier events would be dropped as late by the watermark)."""
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(fixture_dir, "events.parquet")).sort_by("ts")
    n = events.num_rows
    rng = random.Random(seed)
    cuts = sorted(rng.sample(range(n // 10, n - n // 10), n_files - 1))
    bounds = [0, *cuts, n]
    os.makedirs(out_dir, exist_ok=True)
    now = time.time()
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(events.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (now - n_files + i, now - n_files + i))


class RssSampler(threading.Thread):
    """Peak resident memory of a process plus its JVM descendants."""

    def __init__(self, pid: int, period_s: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period_s
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _jvms(self) -> list[int]:
        children: dict[int, list[tuple[int, str]]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            name = stat[stat.index("(") + 1 : stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append((int(entry), name))
        found, todo = [], [self.pid]
        while todo:
            for pid, name in children.get(todo.pop(), []):
                todo.append(pid)
                if name == "java":
                    found.append(pid)
        return found

    def run(self) -> None:
        # spark-submit starts a short-lived launcher JVM before the driver
        # JVM, so the set of JVMs is re-read every second
        jvms: list[int] = []
        tick = 0
        while not self._halt.is_set():
            if tick % 10 == 0:
                jvms = self._jvms()
            tick += 1
            total = self._rss_kb(self.pid) + sum(self._rss_kb(j) for j in jvms)
            self.peak_kb = max(self.peak_kb, total)
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        return self.peak_kb / 1024.0


def _kill_group(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def _exit_on_term(signum, frame) -> None:
    # turn SIGTERM into SystemExit so the finally below reaps the child
    sys.exit(128 + signum)


def _child_env(work: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_GRAFT_CPUS", str(_cpus()))
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    # Driver heap: the engine's own knob (default 8g) sets the ceiling.
    # The JVM grows its heap toward it as GC timing dictates, so peak RSS
    # follows GC timing more than use: 20-30% apart between identical
    # runs with 8g, 1,050-1,550 MB with a 2 GB ceiling, 2,390-2,610 MB
    # with a fixed but untouched 2 GB heap. A fixed, pre-touched 2 GB heap
    # (ample for the fixture) makes peak_rss_mb steady, at a price: the
    # heap is a constant part of it, so it moves only with off-heap
    # (generated classes, threads, buffers) and Python memory. Heap
    # pressure shows as engine.gc_s and in the time metrics.
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # keep Spark's and Python's scratch files inside the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(env["TMPDIR"])
    env["SPARK_CONF_DIR"] = os.path.join(work, "conf")
    os.makedirs(env["SPARK_CONF_DIR"])
    with open(os.path.join(env["SPARK_CONF_DIR"], "spark-defaults.conf"), "w") as fh:
        fh.write(
            f"spark.driver.extraJavaOptions -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={env['TMPDIR']}\n"
        )
    return env


def _run_child(args, work: str, fixture_dir: str) -> dict:
    """Run child.py to completion (or kill it at the timeout) and return
    its record, with the sampled peak memory added."""
    replay_input = None
    if args.trace and WORKLOADS[args.workload].replay:
        replay_input = os.path.join(work, "replay_input")
        split_events(fixture_dir, replay_input, args.seed)
    record_path = os.path.join(work, "record.json")
    cmd = [
        sys.executable,
        os.path.join(HERE, "child.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--fixture", fixture_dir,
        "--work", work,
        "--record", record_path,
    ]
    if replay_input:
        cmd += ["--replay-input", replay_input]
    if args.trace:
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        cmd += ["--trace-file", os.path.join(
            CACHE, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")]
    env = _child_env(work)
    log_path = os.path.join(work, "child.log")
    with open(log_path, "w") as log:
        cmd += ["--spawn", repr(time.monotonic())]
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            peak_mb = sampler.stop()
            # the child's JVM and Python workers share its process group
            _kill_group(proc)
    if proc.returncode != 0 or not os.path.exists(record_path):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        _die(f"run failed (exit {proc.returncode}); child log tail:\n{tail}")
    with open(record_path) as fh:
        record = json.load(fh)
    record["peak_rss_mb"] = peak_mb
    return record


def main() -> None:
    signal.signal(signal.SIGTERM, _exit_on_term)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(ENGINE):
        _die(f"engine package not found at {os.path.relpath(ENGINE)}; run from the repository root")

    load_start = _load()
    ticks_start = _cpu_ticks()
    # references: their own bounded process, finished before anything is
    # timed
    prep = subprocess.run(
        [sys.executable, os.path.join(HERE, "refs.py")],
        cwd=ROOT,
        timeout=PREPARE_TIMEOUT_S,
        stdout=subprocess.DEVNULL,
    )
    if prep.returncode != 0:
        _die("could not build the references")

    from refs import FIXTURE_DIR

    work = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record = _run_child(args, work, FIXTURE_DIR)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import metrics

    record["host"] = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": _cpus(),
        "load_1m_start": load_start,
        "load_1m_end": _load(),
        "cpu_steal": _steal_share(ticks_start, _cpu_ticks()),
        **_versions(),
        "operations": record["attempted"],
        "passes": len(record["passes"]),
    }
    for problem in record["problems"]:
        print(f"mismatch {problem}")
    for line in metrics.summary_lines(record):
        print(line)
    with open(RESULTS, "a") as fh:
        fh.write(json.dumps({
            "host": record["host"],
            "end_to_end": metrics.end_to_end(record),
            "per_layer": metrics.per_layer(record),
            **metrics.summary_only(record),
            "import_s": record["import_s"],
            "setups": record["setups"],
            "passes_wall_s": [p["wall_s"] for p in record["passes"]],
            "ops": [{k: o[k] for k in ("op", "pass", "latency_s") if k in o} for o in record["ops"]],
        }) + "\n")
    print(metrics.result_line(record, bool(args.trace)), flush=True)


if __name__ == "__main__":
    main()
