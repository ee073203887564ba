"""Spans, job groups and event-log counters for the traced run.

Spans are recorded only from the benchmark's side: ``install`` wraps the
engine's public functions at the module attribute their caller resolves,
so ``run_batch_etl`` itself runs unmodified. Every span sets its own Spark
job group, which lets the status tracker count the jobs, stages and tasks
each span ran (children's jobs run under the children's groups, so the
counts are self counts). Spans stay in memory until the run ends.

``parse_event_log`` reads Spark's uncompressed JSON event log afterwards
and attributes task metrics to ops by launch time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float  # perf_counter seconds
    epoch_ms: float  # wall clock at start, to match the event log
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; a disabled tracer costs one
    attribute test per wrapped call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._pending: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        rec = Span(
            len(self.spans), name, parent.sid if parent else None, self.op,
            time.perf_counter(), time.time() * 1000.0, attrs=attrs,
        )
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setJobGroup(f"pb-{rec.sid}", name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb-{parent.sid}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._pending.append(rec)

    def collect_counts(self) -> None:
        """Fill job/stage/task counts of finished spans from the status
        tracker. Called between ops, outside the timed region."""
        tracker = self.sc.statusTracker()
        for rec in self._pending:
            for jid in tracker.getJobIdsForGroup(f"pb-{rec.sid}"):
                rec.jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    rec.stages += 1
                    stage = tracker.getStageInfo(sid)
                    rec.tasks += stage.numTasks if stage else 0
        self._pending.clear()

    def wrap(self, owner, attr: str, name: str, describe=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs the original
        inside a span; ``describe(args, kwargs)`` adds span attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            attrs = describe(args, kwargs) if describe else {}
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)


def install(tracer: Tracer) -> None:
    """Wrap the engine's public functions at the attributes their callers
    resolve at call time."""
    from pw_etl_scrumptious_squad_spark import api
    from pw_etl_scrumptious_squad_spark.plans import etl
    from pw_etl_scrumptious_squad_spark.sources import parquet
    from pw_etl_scrumptious_squad_spark.sources.state import WatermarkStore

    for stage in ("extract", "transform", "load"):
        tracer.wrap(etl, stage, f"etl.{stage}")
    tracer.wrap(etl, "incremental_extract", "cdc.incremental_extract")
    tracer.wrap(WatermarkStore, "advance", "state.advance")
    tracer.wrap(api, "register_tables", "api.register_tables")

    def write_kind(args, kwargs):
        base, name = args[1], args[2]
        kind = "fact" if name.startswith("fact_") else "dim"
        if os.path.basename(os.path.normpath(base)) == "staging":
            kind = "staging"
        return {"kind": kind, "table": name, "base": base}

    # plans.etl calls ``lake.write_table``/``lake.read_table`` through the
    # module; api imported ``read_table`` by name, so wrap it there too.
    tracer.wrap(parquet, "write_table", "parquet.write_table", write_kind)
    tracer.wrap(parquet, "read_table", "parquet.read_table")
    tracer.wrap(api, "read_table", "parquet.read_table")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_SQL_METRICS = {
    "scan time": "spark.scan_time_ms",
    "time to start Python workers": "spark.python_worker_start_ms",
    "time to run Python workers": "spark.python_worker_run_ms",
    "data sent to Python workers": "spark.python_bytes_sent",
    "data returned from Python workers": "spark.python_bytes_returned",
}
TASK_COUNTERS = (
    "spark.executor_run_ms",
    "spark.executor_cpu_ms",
    "spark.gc_ms",
    "spark.spill_bytes",
    "spark.shuffle_write_bytes",
    "spark.shuffle_fetch_wait_ms",
    *_SQL_METRICS.values(),
)


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", ()):
        _plan_metrics(child, out)


@dataclass
class EventLog:
    # (launch_ms, finish_ms, {counter: value}) per task
    tasks: list = field(default_factory=list)
    # (start_ms, {metric name: value}) per SQL execution, driver-side metrics
    executions: list = field(default_factory=list)


def _log_files(log_dir: str) -> list[str]:
    """Event-log files in write order: Spark 4 writes a directory of
    ``events_<n>_<app>`` files (beside ``appstatus`` and ``.crc`` files)."""
    out = []
    for dirpath, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith("events_"):
                out.append((int(n.split("_")[1]), os.path.join(dirpath, n)))
    return [p for _, p in sorted(out)]


def parse_event_log(log_dir: str) -> EventLog:
    out = EventLog()
    acc_names: dict[int, str] = {}
    exec_start: dict[int, float] = {}
    exec_metrics: dict[int, dict[str, float]] = {}
    for path in _log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerTaskEnd":
                    info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
                    c = dict.fromkeys(TASK_COUNTERS, 0.0)
                    c["spark.executor_run_ms"] = metrics.get("Executor Run Time", 0)
                    c["spark.executor_cpu_ms"] = metrics.get("Executor CPU Time", 0) / 1e6
                    c["spark.gc_ms"] = metrics.get("JVM GC Time", 0)
                    c["spark.spill_bytes"] = metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                        "Disk Bytes Spilled", 0
                    )
                    c["spark.shuffle_write_bytes"] = (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c["spark.shuffle_fetch_wait_ms"] = (metrics.get("Shuffle Read Metrics") or {}).get(
                        "Fetch Wait Time", 0
                    )
                    for acc in info.get("Accumulables", ()):
                        key = _SQL_METRICS.get(acc.get("Name"))
                        if key is not None:
                            c[key] += float(acc.get("Update") or 0)
                    out.tasks.append((info["Launch Time"], info["Finish Time"], c))
                elif kind.endswith("SQLExecutionStart"):
                    exec_start[ev["executionId"]] = ev["time"]
                    _plan_metrics(ev.get("sparkPlanInfo", {}), acc_names)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev.get("sparkPlanInfo", {}), acc_names)
                elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                    for m in ev.get("sqlPlanMetrics", ()):
                        acc_names[m["accumulatorId"]] = m["name"]
                elif kind.endswith("DriverAccumUpdates"):
                    bucket = exec_metrics.setdefault(ev["executionId"], {})
                    for acc_id, value in ev.get("accumUpdates", ()):
                        name = acc_names.get(acc_id)
                        if name is not None:
                            bucket[name] = bucket.get(name, 0) + value
    for eid, start in exec_start.items():
        out.executions.append((start, exec_metrics.get(eid, {})))
    return out


def busy_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
