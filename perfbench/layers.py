"""Per-layer metrics of a traced run, named after the engine's modules.

Every metric is the median over the run's traced timed ops of a per-op
value, except ``session.get_spark_s`` (once per run), ``peak_rss_mb`` (the
peak over the whole run) and the ``trace.*`` figures. A metric whose layer
the workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import tracing
from workloads import DRIVER_BOUND, SCAN_BOUND

SPAN_SECONDS = {
    "etl.extract_s": "etl.extract",
    "etl.transform_s": "etl.transform",
    "etl.load_s": "etl.load",
    "cdc.incremental_extract_s": "cdc.incremental_extract",
    "state.advance_s": "state.advance",
    "parquet.read_table_s": "parquet.read_table",
    "api.register_tables_s": "api.register_tables",
    "report.run_s": "report.run",
    "report.batch_s": "report.batch",
    "catalog.build_s": "catalog.build",
    "exec.run_s": "exec.run",
}
# (metric, span name, count attribute), counted with descendants
SPAN_COUNTS = [
    ("etl.extract.jobs", "etl.extract", "jobs"),
    ("etl.load.jobs", "etl.load", "jobs"),
    ("etl.load.tasks", "etl.load", "tasks"),
    ("catalog.build.jobs", "catalog.build", "jobs"),
    ("exec.jobs", "exec.run", "jobs"),
    ("exec.stages", "exec.run", "stages"),
    ("exec.tasks", "exec.run", "tasks"),
]
DISK_COUNTERS = [
    "cdc.delta_rows",
    "cdc.delta_ratio",
    "parquet.files_written.fact",
    "parquet.files_written.dim",
    "parquet.bytes_written",
    "parquet.bytes_per_source_byte",
]


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in a fixed order."""
    names = ["peak_rss_mb", "session.get_spark_s", "etl.cycle_s", *SPAN_SECONDS]
    names += [m for m, _, _ in SPAN_COUNTS]
    names += ["state.advance.calls"]
    names += [f"parquet.write_table_s.{k}" for k in ("staging", "dim", "fact")]
    names += DISK_COUNTERS + ["report.files_read", "sched.task_idle_s"]
    names += list(tracing.TASK_COUNTERS)
    names += ["query.driver_bound_s", "query.scan_bound_s"]
    for e in DRIVER_BOUND.entries:
        names += [f"query.{e}.build_s", f"query.{e}.run_s", f"query.{e}.jobs"]
    for e in SCAN_BOUND.entries:
        names += [f"query.{e}.run_s", f"query.{e}.jobs"]
    names += ["trace.op_s", "trace.overhead_s", "trace.unattributed_s"]
    return [(n, unit(n)) for n in names]


def unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("ratio", "per_source_byte")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(result: dict) -> dict:
    ops = [o for o in result["ops"] if o["traced"] and o["ok"]]
    untraced = [o for o in result["ops"] if not o["traced"] and o["ok"]]
    spans = result["spans"]
    by_op: dict[int, list] = defaultdict(list)
    for s in spans:
        by_op[s.op].append(s)
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def total(s, attr):
        return getattr(s, attr) + sum(total(c, attr) for c in children[s.sid])

    log = result["event_log"]
    per_op: dict[str, list[float]] = defaultdict(list)
    for o in ops:
        ss = by_op[o["i"]]
        v: dict[str, float] = defaultdict(float)
        for metric, name in SPAN_SECONDS.items():
            v[metric] = sum(s.duration for s in ss if s.name == name)
        for metric, name, attr in SPAN_COUNTS:
            v[metric] = sum(total(s, attr) for s in ss if s.name == name)
        v["state.advance.calls"] = sum(s.name == "state.advance" for s in ss)
        for kind in ("staging", "dim", "fact"):
            v[f"parquet.write_table_s.{kind}"] = sum(
                s.duration for s in ss if s.name == "parquet.write_table" and s.attrs.get("kind") == kind
            )
        for name in DISK_COUNTERS:
            v[name] = o.get(name, 0.0)
        for name in ("etl.cycle_s", "query.driver_bound_s", "query.scan_bound_s"):
            v[name] = o.get(name.split(".")[1], 0.0)
        for s in ss:
            entry = s.attrs.get("entry")
            if entry and s.name in ("catalog.build", "exec.run"):
                phase = "build_s" if s.name == "catalog.build" else "run_s"
                v[f"query.{entry}.{phase}"] += s.duration
                v[f"query.{entry}.jobs"] += total(s, "jobs")
        # event log: tasks launched inside the op's window
        lo, hi = o["epoch"]
        intervals = []
        for launch, finish, counters in log.tasks:
            if lo <= launch <= hi:
                intervals.append((launch, finish))
                for k, x in counters.items():
                    v[k] += x
        v["sched.task_idle_s"] = max(0.0, (hi - lo) - tracing.busy_ms(intervals, lo, hi)) / 1000.0
        windows = [(s.epoch_ms, s.epoch_ms + s.duration * 1000.0) for s in ss if s.name == "report.run"]
        v["report.files_read"] = sum(
            m.get("number of files read", 0)
            for start, m in log.executions
            if any(a <= start <= b for a, b in windows)
        )
        root = next(s for s in ss if s.name == "op")
        v["trace.unattributed_s"] = root.duration - sum(c.duration for c in children[root.sid])
        for k, x in v.items():
            per_op[k].append(x)

    out = {}
    for name, u in metric_names():
        if name == "peak_rss_mb":
            value = result["peak_rss_mb"]
        elif name == "session.get_spark_s":
            value = result["get_spark_s"]
        elif name == "trace.op_s":
            value = _median([o["wall"] for o in ops])
        elif name == "trace.overhead_s":
            value = _median([o["wall"] for o in ops]) - _median([o["wall"] for o in untraced])
        else:
            value = _median(per_op.get(name, []))
        out[name] = {"value": float(value), "unit": u}
    return out
