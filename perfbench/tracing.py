"""The traced run: spans around calls into each layer, recorded from outside.

Wrappers are set on the objects of one run (the ReadServer, its
TenantSession and SparkSession, and each served DataFrame), never on the
package's classes.  Every served statement carries one identifier from the
client through ``ReadServer.handle``, ``TenantSession.sql``, the row pulls
out of ``toLocalIterator`` and the frame encode; each registry query carries
one through ``QueryDef.fn`` and the noop write.  The identifier is also the
Spark job group, so the event log attributes jobs, stages, tasks, executor
CPU, shuffle bytes and scan rows to the same operation.  Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from pathlib import Path
from typing import Optional

PHASES = ("analysis", "optimization", "planning")


def _phases_ms(qe) -> dict[str, int]:
    """QueryPlanningTracker phase durations of one QueryExecution."""
    phases = qe.tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = opt.get().durationMs()
    return out


class Spans:
    """In-memory span store: (op, name, start, end, attrs)."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count()

    def new_op(self, prefix: str) -> str:
        return f"{prefix}-{next(self._ids)}"

    def add(self, op: Optional[str], name: str, start: float, end: float, **attrs) -> None:
        span = {"op": op, "name": name, "start": start, "end": end, **attrs}
        with self._lock:
            self.items.append(span)

    def by_op(self, name: str) -> dict[str, list[dict]]:
        out = defaultdict(list)
        for s in self.items:
            if s["name"] == name:
                out[s["op"]].append(s)
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.items))


class _TimedRows:
    """Iterator over a served DataFrame's rows that adds the time spent
    pulling each row to the request span current on the calling thread."""

    def __init__(self, rows, tracer: "ServeTracer", op: str, t_call: float):
        self._rows = iter(rows)
        self._tracer = tracer
        self._op = op
        self._t_call = t_call
        self._first = True

    def __iter__(self):
        return self

    def __next__(self):
        t = time.perf_counter()
        try:
            return next(self._rows)
        finally:
            now = time.perf_counter()
            span = getattr(self._tracer.local, "span", None)
            if span is not None:
                span["pull"] += now - t
            if self._first:
                self._first = False
                self._tracer.spans.add(self._op, "exec.first_row", self._t_call, now)


class ServeTracer:
    """Wraps one ReadServer, its TenantSession and its SparkSession."""

    def __init__(self, spark, server, tenant) -> None:
        self.spans = Spans()
        self.local = threading.local()
        self.qes: dict[str, list] = defaultdict(list)
        sc = spark.sparkContext
        handle, sql, spark_sql = server.handle, tenant.sql, spark.sql

        def traced_handle(api_key, body, path="/query"):
            op = body.get("perfbench_op")
            if path == "/query":
                sc.setJobGroup(op, "perfbench", False)
            span = {"pull": 0.0, "sql": 0.0}
            self.local.span, self.local.op = span, op
            t0 = time.perf_counter()
            status, payload = handle(api_key, body, path)
            t1 = time.perf_counter()
            self.local.span = None
            self.spans.add(op, "server.handle", t0, t1, path=path,
                           rows=len(payload.get("rows", ())), **span)
            return status, payload

        def traced_sql(query, max_rows=None):
            op = self.local.op
            t0 = time.perf_counter()
            df = sql(query, max_rows)
            t1 = time.perf_counter()
            self.local.span["sql"] += t1 - t0
            self.spans.add(op, "api.sql", t0, t1)
            self.qes[op].append(df._jdf.queryExecution())
            to_iter = df.toLocalIterator

            def traced_iter(prefetchPartitions=False):
                # the call plans the query and starts its first job
                t_call = time.perf_counter()
                rows = to_iter(prefetchPartitions)
                self.local.span["pull"] += time.perf_counter() - t_call
                return _TimedRows(rows, self, op, t_call)

            df.toLocalIterator = traced_iter
            return df

        def traced_spark_sql(*args, **kwargs):
            df = spark_sql(*args, **kwargs)
            self.qes[getattr(self.local, "op", None)].append(df._jdf.queryExecution())
            return df

        server.handle, tenant.sql, spark.sql = traced_handle, traced_sql, traced_spark_sql

    def phases(self) -> dict[str, dict[str, int]]:
        """Per op, the summed phase times of every QueryExecution its SQL
        went through (the parsed statement, then the served plan)."""
        out = {}
        for op, qes in self.qes.items():
            total = dict.fromkeys(PHASES, 0)
            for qe in qes:
                for k, v in _phases_ms(qe).items():
                    total[k] += v
            out[op] = total
        return out


class BatchHooks:
    """Brackets each registry query's build and noop write with spans and
    job groups (``<op>:build`` holds the plan build's eager jobs)."""

    def __init__(self, spark) -> None:
        self.spans = Spans()
        self.sc = spark.sparkContext
        self.phases: dict[str, dict[str, int]] = {}
        self.op: Optional[str] = None

    def before_build(self, name: str) -> None:
        self.op = f"{name}:{self.spans.new_op('q')}"
        self.sc.setJobGroup(f"{self.op}:build", "perfbench", False)
        self.t_build = time.perf_counter()

    def before_write(self, df) -> None:
        t = time.perf_counter()
        self.spans.add(self.op, "plans.build", self.t_build, t)
        # the noop write plans its own copy of this plan; planning the
        # query's own QueryExecution gives the phase times to report
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        self.phases[self.op] = _phases_ms(qe)
        self.sc.setJobGroup(f"{self.op}:exec", "perfbench", False)
        self.t_write = time.perf_counter()

    def after_write(self) -> None:
        self.spans.add(self.op, "exec.noop", self.t_write, time.perf_counter())
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def parse_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages and tasks run, executor CPU (ms), shuffle
    bytes written and rows out of file scans, from Spark's JSON event log."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    stages_run: set[int] = set()
    scan_accums: set[int] = set()

    def collect_scans(info: dict) -> None:
        if info["nodeName"].startswith("Scan"):
            for m in info.get("metrics", ()):
                if m["name"] == "number of output rows":
                    scan_accums.add(m["accumulatorId"])
        for child in info.get("children", ()):
            collect_scans(child)

    for path in sorted(p for p in log_dir.glob("*") if p.is_file()):
        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        groups[group]["jobs"] += 1
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = groups[group]
                    g["tasks"] += 1
                    if ev["Stage ID"] not in stages_run:
                        stages_run.add(ev["Stage ID"])
                        g["stages"] += 1
                    metrics = ev.get("Task Metrics") or {}
                    g["executor_cpu_ms"] += metrics.get("Executor CPU Time", 0) / 1e6
                    g["shuffle_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                        if acc.get("ID") in scan_accums and "Update" in acc:
                            g["scan_rows"] += float(acc["Update"])
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    collect_scans(ev["sparkPlanInfo"])
    return {k: dict(v) for k, v in groups.items()}


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default
