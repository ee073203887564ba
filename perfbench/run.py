"""Benchmark of the engine: an incremental ETL cycle with warehouse reports,
and driver-bound and scan-bound catalog passes.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 10 --trace 0

Run it from the repository root. One process drives one workload in a
closed loop with one client on ``local[SPARK_GRAFT_CPUS]`` (default: all
cores). With ``--trace 0`` it prints the end-to-end metrics; with
``--trace 1`` it runs the same loop with spans, per-span Spark job groups
and an uncompressed event log, and prints the per-layer metrics instead.
The last line of stdout is the JSON result; the line before it is a
record of the run (host conditions, warm-up passes, per-op times).

Every file the run writes lives under ``.perfbench_tmp/`` in the current
directory and is removed when the run ends; a run that was killed leaves
its directory behind, and the next run removes it. Inputs are generated
and outputs checked in a child process (``tally.py``) that the peak-RSS
figure leaves out.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))

TMP_ROOT = ".perfbench_tmp"
# Warm-up ops before timing: passes 0-2 of a cold session run well above
# the steady state, so every workload discards its first ops.
WARMUP_OPS = {"etl_cycle": 1, "query_catalog": 3}
# Timed ops run for --seconds, and at least this many, so that the
# reported median is never a single sample.
MIN_TIMED_OPS = 2


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# host record and memory
# ---------------------------------------------------------------------------


def host_conditions() -> dict:
    with open("/proc/meminfo") as fh:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in fh}
    return {
        "loadavg_1m": os.getloadavg()[0],
        "mem_available_mb": round(mem.get("MemAvailable", 0) / 1024, 1),
    }


def _children(pid: int) -> list[int]:
    kids = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                kids.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return kids


def process_tree(root: int, skip: frozenset[int] = frozenset()) -> list[tuple[int, int | None]]:
    """``(pid, parent pid)`` of ``root`` and all its descendants, leaving
    out the processes in ``skip`` and theirs."""
    out, todo = [], [(root, None)]
    while todo:
        pid, parent = todo.pop()
        out.append((pid, parent))
        todo.extend((c, pid) for c in _children(pid) if c not in skip)
    return out


def _statm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return fh.read()
    except OSError:
        return None


def tree_rss_bytes(root: int, skip: frozenset[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    tree = process_tree(root, skip)
    statm = {pid: _statm(pid) for pid, _ in tree}
    total = 0
    for pid, parent in tree:
        own = statm[pid]
        # A child between vfork and exec (the JVM spawning a Python
        # worker) still shares its parent's memory; count it once.
        if own is None or (parent is not None and own == statm.get(parent)):
            continue
        total += int(own.split()[1]) * page
    return total


class RssSampler(threading.Thread):
    """Samples the RSS of this process and all its descendants (the JVM
    and the Python workers it forks), except the tally process, and keeps
    the peak."""

    def __init__(self, skip: frozenset[int], period: float = 0.1):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self.skip = skip
        self._halt = threading.Event()

    def run(self):
        pid = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid, self.skip))
            self._halt.wait(self.period)

    def stop(self):
        self._halt.set()
        self.join(timeout=5)


class Tally:
    """Client of the tally process (``tally.py``): ``call`` runs one of its
    methods there and returns the result, or raises its error."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "tally.py")], stdin=subprocess.PIPE, stdout=subprocess.PIPE
        )

    def call(self, method: str, *args):
        pickle.dump((method, args), self.proc.stdin)
        self.proc.stdin.flush()
        ok, value = pickle.load(self.proc.stdout)
        if not ok:
            raise RuntimeError(f"tally {method}: {value}")
        return value

    def close(self) -> None:
        try:
            self.proc.stdin.close()  # the process exits when its stdin closes
        except OSError:
            pass  # it has already ended
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)
        self.proc.stdout.close()


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        f" -Dderby.system.home={os.path.join(work, 'derby')} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def stop_spark(spark, skip: frozenset[int]) -> None:
    """Stop the session, then the JVM gateway, and wait for every process
    the session started (all descendants but ``skip``) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = [pid for pid, _ in process_tree(os.getpid(), skip)[1:]]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().split(")")[-1].split()[0] == "Z":
                        break  # a zombie has ended; its parent reaps it
            except OSError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and time.monotonic() >= deadline:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def median(values):
    return statistics.median(values) if values else 0.0


def attempt(failures: list[str], what: str, fn, *args):
    """Run ``fn(*args)``; an exception becomes a failure line instead of
    ending the run. Returns ``(ok, value)``."""
    try:
        return True, fn(*args)
    except Exception as exc:
        failures.append(f"{what}: {type(exc).__name__}: {exc}")
        return False, None


def checked(failures: list[str], wl, i: int) -> bool:
    """Run op ``i``'s check; its failures join ``failures``."""
    ok, bad = attempt(failures, f"check {i}", wl.check, i)
    failures += bad or []
    return ok and not bad


def run(args, work: str, t_start: float, tally: Tally) -> tuple[dict, dict]:
    from pw_etl_scrumptious_squad_spark.session import get_spark

    import tracing
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(work, args.trace))
    get_spark_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = tracing.Tracer(spark)
        if args.trace:
            tracing.install(tracer)
        wl = WORKLOADS[args.workload](spark, tracer, tally, args.seed)
        t0 = time.perf_counter()
        wl.prepare(os.path.join(work, "data"))
        prepare_s = time.perf_counter() - t0

        failures: list[str] = []
        warmup = []
        i = 0
        for _ in range(WARMUP_OPS[args.workload]):
            ok, _ = attempt(failures, f"input {i}", wl.next_input, i)
            t0 = time.perf_counter()
            ok = ok and attempt(failures, f"warm-up op {i}", wl.op, i)[0]
            warmup.append(time.perf_counter() - t0)
            if ok:
                checked(failures, wl, i)
            i += 1
        setup_s = time.perf_counter() - t_start

        # timed ops; in the traced run they alternate traced / untraced so
        # the difference of their medians is the tracing overhead. A run
        # stops at its first failed op.
        ops = []
        spent = 0.0
        while spent < args.seconds or len(ops) < MIN_TIMED_OPS:
            traced = bool(args.trace) and len(ops) % 2 == 0
            ok, _ = attempt(failures, f"input {i}", wl.next_input, i)
            tracer.enabled = traced
            tracer.op = i
            epoch0 = time.time() * 1000.0
            t0 = time.perf_counter()
            with tracer.span("op"):
                ok, phases = attempt(failures, f"op {i}", wl.op, i) if ok else (False, None)
            wall = time.perf_counter() - t0
            tracer.enabled = False
            rec = {"i": i, "wall": wall, "epoch": (epoch0, time.time() * 1000.0), "traced": traced, **(phases or {})}
            if ok and traced:
                tracer.collect_counts()
                ok, counters = attempt(failures, f"counters {i}", wl.after_op, i)
                rec.update(counters or {})
            t0 = time.perf_counter()
            ok = ok and checked(failures, wl, i)
            rec["check_s"] = time.perf_counter() - t0
            rec["ok"] = ok
            ops.append(rec)
            spent += wall
            i += 1
            if not ok:
                break
    finally:
        t0 = time.perf_counter()
        stop_spark(spark, skip=frozenset({tally.proc.pid}))
        stop_s = time.perf_counter() - t0

    record = {
        "setup_s": round(setup_s, 4),
        "get_spark_s": round(get_spark_s, 4),
        "prepare_s": round(prepare_s, 4),
        "warmup_s": [round(v, 4) for v in warmup],
        "stop_s": round(stop_s, 4),
        "ops": [{k: (round(v, 4) if isinstance(v, float) else v) for k, v in o.items() if k != "epoch"} for o in ops],
        "failures": failures[:20],
    }
    result = {"setup_s": setup_s, "ops": ops, "failures": failures, "get_spark_s": get_spark_s}
    if args.trace:
        result["spans"] = tracer.spans
        result["event_log"] = tracing.parse_event_log(os.path.join(work, "eventlog"))
    return result, record


def end_to_end(result: dict) -> dict:
    ops = result["ops"]
    good = [o for o in ops if o["ok"]]
    return {
        "setup_s": {"value": result["setup_s"], "unit": "s"},
        "op_s": {"value": median([o["wall"] for o in good]), "unit": "s"},
        "ops_ok_ratio": {"value": len(good) / len(ops), "unit": "ratio"},
    }


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwind so the work dir is removed


def remove_stale_dirs() -> None:
    """Remove the work directories of earlier runs that were killed."""
    try:
        names = os.listdir(TMP_ROOT)
    except OSError:
        return
    for name in names:
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(TMP_ROOT, name), ignore_errors=True)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    signal.signal(signal.SIGTERM, _terminate)
    args = parse_args(argv)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    remove_stale_dirs()
    work = os.path.abspath(os.path.join(TMP_ROOT, f"{args.workload}-{os.getpid()}"))
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    # isolate every temp file of the driver, the JVM and the Python workers
    os.environ["TMPDIR"] = os.environ["SPARK_GRAFT_TMP"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no hsperfdata file in /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [os.getcwd(), os.environ.get("PYTHONPATH")]))
    import tempfile

    tempfile.tempdir = None  # drop the directory cached before TMPDIR was set
    host = {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "start": host_conditions(),
    }
    tally = Tally()
    sampler = RssSampler(skip=frozenset({tally.proc.pid}))
    sampler.start()
    try:
        result, record = run(args, work, t_start, tally)
    finally:
        sampler.stop()
        tally.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(TMP_ROOT)
        except OSError:
            pass
    host["end"] = host_conditions()

    import layers

    ops = result["ops"]
    failed = sum(not o["ok"] for o in ops)
    correct = not result["failures"]
    result["peak_rss_mb"] = sampler.peak / 2**20
    metrics = layers.per_layer(result) if args.trace else end_to_end(result)
    record["host"] = host
    record["peak_rss_mb"] = round(result["peak_rss_mb"], 1)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [HERE, os.getcwd()]
    sys.exit(main())
