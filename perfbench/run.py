#!/usr/bin/env python3
"""Serving-path and registry benchmark.

    python3 perfbench/run.py --workload serve_short --seed 1 --seconds 10 --trace 0

Run from the repository root.  The benchmark drives the package only through
its public entry points: ``get_spark``, ``TenantSession`` and ``ReadServer``
over loopback HTTP for the serve workload, ``QueryDef.fn`` plus the noop
sink for the registry batch.  Everything it reads or writes stays under
``.perfbench/`` in the repository: generated tables, oracle row counts,
Spark's local and temp dirs, and the traced run's event log and spans.

Workloads: ``serve_short`` (2 closed-loop HTTP clients, four single-frame
statements) and ``batch_registry`` (registry queries through the noop sink).

Deployment (recorded in every result): ``local[<usable cpus>]``, a driver
heap sized to a quarter of RAM (at most 4g), the package on the Python
workers' ``PYTHONPATH``, pyspark and Java versions, and the JVM's C1-only
JIT (``-XX:TieredStopAtLevel=1``).  C1-only departs from a deployed driver,
which runs the default tiered JIT.  With tiered JIT, C2 keeps compiling
Spark's planning and scheduling paths for minutes at these request rates
and competes with the task threads for the cores: on a 4-core host,
serve_short latency was still falling by 10-23% between the halves of a
window after the warm-up that fits a run, and its runs read about 10% fewer
ops/s and 35% more CPU per operation than with C1 only.  With C1 only,
latency is flat after that warm-up.  In three seeds per mode, both modes
moved median and tail latency, ops/s and CPU per operation the same way
under one program change (200 uncoalesced shuffle partitions); two smaller
changes stayed within three seeds' noise in both modes.

Each run:
  1. prepare (untimed): generate the tables once, compute every expected
     answer with DuckDB, build the statement pool from ``--seed``;
  2. set up twice, each time in a freshly launched JVM, and report the
     median (``setup_s``): ``get_spark``, and for serve_short the tenant
     build and server start (a ``--trace 1`` run sets up once);
  3. warm up the last set-up with a fixed number of operations;
  4. measure for ``--seconds`` (the batch runs a fixed count of passes),
     checking every result;
  5. ``--trace 1`` then launches one more JVM, with Spark's event log on,
     sets up and warms up the same way, measures a traced window, and
     prints the per-layer metrics and the tracing overhead: the traced
     window's ops/s over step 4's, so the ratio holds the event log and the
     span wrappers, each window after its own identical warm-up.

End-to-end metrics are those of step 4.  The noop-sink batch has no first
frame, so its ``first_frame_p50_ms`` equals ``op_p50_ms``.  A per-layer
metric of a layer the workload bypasses reads 0.

The last line of stdout is the result; the line before it holds the
deployment and the diagnostics (tail percentile and sample count, half
drift, load, steal, CPU split, stage times, per-op latencies).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import batch
import datagen
import host
import serve
from stats import TAIL_MIN_BEYOND, half_drift_pct, pass_drift_pct, quantile, tail
from tracing import BatchHooks, ServeTracer, median, parse_event_log

# fineo_readerator_spark is imported inside the runners, after deploy() has
# set the environment its session module reads at import
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
SF_DIR = WORK / "data" / "bench_sf0.1"

WORKLOADS = ("serve_short", "batch_registry")
# set-ups per run, each in a fresh JVM: a set-up takes 7-15 s on a 4-core
# host, so two are what the time budget of all runs allows next to the
# warm-ups and windows; a --trace 1 run reports no setup_s and sets up once
# before its untraced window
SETUPS = {0: 2, 1: 1}
# warm-up operations per client: a count, so every measured window starts
# after the same work; C1 has compiled the hot paths well before this
WARMUP_OPS = 12
WARMUP_PASSES = 1
JIT = "-XX:TieredStopAtLevel=1"

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "first_frame_p50_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "cpu_ms_per_op": "ms",
    "heap_retained_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "server.http_ms": "ms",
        "server.encode_ms_per_krow": "ms",
        "server.fetches_per_op": "count",
        "server.json_bytes_per_row": "bytes",
        "api.sql_ms": "ms",
        "api.tenant_build_s": "s",
        "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "exec.jobs_per_op": "count",
        "exec.stages_per_op": "count",
        "exec.tasks_per_op": "count",
        "exec.first_row_ms": "ms",
        "exec.scan_rows_per_result_row": "ratio",
        "exec.executor_cpu_ms_per_op": "ms",
        "exec.shuffle_bytes_per_op": "bytes",
        "pyworker.cpu_ms_per_op": "ms",
        "plans.build_ms": "ms",
        "plans.eager_jobs_per_op": "count",
        "exec.noop_ms": "ms",
        **{f"batch.{q}.ms": "ms" for q in batch.BATCH_QUERIES},
        "storage.rdd_blocks_end": "count",
        "storage.rdd_blocks_per_op": "count",
        "trace.ops_per_s_ratio": "ratio",
    }
    return units


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def deploy(trace: bool) -> dict:
    """Pin the deployment through the package's own env knobs and Spark's
    launch-time conf, before anything starts the JVM."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = max(1, min(4, host.mem_total_bytes() // 4 // 2**30))
    tmp, local = WORK / "tmp", WORK / "spark-local"
    dirs = [tmp, local] + ([WORK / "events"] if trace else [])
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    }
    os.environ.update(env)
    sys.path.insert(0, str(ROOT))
    import pyspark

    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    return {
        "master": f"local[{cpus}]",
        "jit": JIT,
        **env,
        "PYSPARK_SUBMIT_ARGS": submit_args(event_log=False),
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "python": platform.python_version(),
    }


def submit_args(event_log: bool) -> str:
    args = [
        f'--driver-java-options "-Djava.io.tmpdir={WORK / "tmp"} {JIT}"',
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'}",
    ]
    if event_log:
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{WORK / 'events'}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    return " ".join(args + ["pyspark-shell"])


def launch(event_log: bool = False) -> None:
    """Stop the running JVM, if any, so that the next ``get_spark`` launches
    a fresh one, with Spark's event log on or off."""
    stop_jvm()
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(event_log)


def stop_jvm() -> None:
    """Shut down the JVM pyspark launched and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _heap_retained_mb(spark) -> float:
    # collect the driver's garbage first: a dead py4j proxy still pins the
    # JVM object it refers to until Python frees it
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def _rdd_blocks(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


class Stages:
    """Wall time of each stage of a run, for the diagnostics."""

    def __init__(self) -> None:
        self.t = time.perf_counter()
        self.seconds: dict[str, float] = {}

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.seconds[name] = round(now - self.t, 2)
        self.t = now


class Window:
    """CPU, steal and wall clock over one measured window."""

    def __enter__(self):
        self.cpu0, self.steal0, self.t0 = host.tree_cpu(), host.cpu_times(), time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.t1 = time.perf_counter()
        cpu1 = host.tree_cpu()
        self.cpu = {k: cpu1[k] - self.cpu0[k] for k in cpu1}
        self.steal_pct = host.steal_pct(self.steal0, host.cpu_times())
        return False


def summarize(lat: list[float], first: list[float], rows: int, win: Window) -> tuple[dict, dict]:
    """End-to-end metrics and diagnostics of one measured window."""
    n = len(lat)
    secs = win.t1 - win.t0
    t = tail(lat)
    metrics = {
        "op_p50_ms": quantile(lat, 0.5) * 1e3,
        "op_tail_ms": t["value"] * 1e3,
        "first_frame_p50_ms": quantile(first, 0.5) * 1e3,
        "ops_per_s": n / secs,
        "rows_per_s": rows / secs,
        "cpu_ms_per_op": sum(win.cpu.values()) * 1e3 / n,
    }
    diag = {
        "op_tail": {k: v for k, v in t.items() if k != "value"},
        "check.half_drift_pct": round(half_drift_pct(lat), 2),
        "host.steal_pct": round(win.steal_pct, 3),
        "cpu_ms_per_op_split": {k: round(v * 1e3 / n, 2) for k, v in win.cpu.items()},
        "window_s": round(secs, 3),
        "op_ms": [round(x * 1e3) for x in lat],
    }
    return metrics, diag


def run_serve(args, stages: Stages) -> dict:
    from fineo_readerator_spark.api import TenantSession
    from fineo_readerator_spark.plans.metric_queries import events_store
    from fineo_readerator_spark.server import ReadServer
    from fineo_readerator_spark.session import get_spark

    sf_dir = str(SF_DIR)
    stmts = serve.Statements(sf_dir, args.seed)
    stages.mark("prepare")

    def start(event_log: bool = False) -> SimpleNamespace:
        """A fresh JVM, tenant session and server, with their set-up times."""
        launch(event_log)
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        tenant = TenantSession(spark, events_store(sf_dir, split=True), serve.ORG)
        t2 = time.perf_counter()
        server = ReadServer(tenant, api_key=serve.API_KEY)
        port = server.start()
        setup = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        return SimpleNamespace(spark=spark, tenant=tenant, server=server, port=port,
                               setup=setup, tenant_build=t2 - t1)

    def warm_up(srv: SimpleNamespace) -> list:
        """Fresh client streams, warmed up by count; every JVM sends the same
        statements in the same order."""
        streams = [stmts.short_stream(random.Random(f"{args.seed}/{i}"))
                   for i in range(serve.SHORT_CLIENTS)]
        warm = WARMUP_OPS * len(streams)
        serve.closed_loop(srv.port, streams, lambda n: n >= warm)
        return streams

    def measure(srv: SimpleNamespace, streams: list, tag=None):
        with Window() as win:
            deadline = time.perf_counter() + args.seconds
            # run past TAIL_MIN_BEYOND operations, so op_tail_ms exists
            recs = serve.closed_loop(
                srv.port, streams,
                lambda n: time.perf_counter() >= deadline and n > TAIL_MIN_BEYOND, tag,
            )
        return recs, win

    setups = []
    for _ in range(SETUPS[args.trace]):
        if setups:
            srv.server.stop()
        srv = start()
        setups.append(srv)
    stages.mark("setup")
    streams = warm_up(srv)
    stages.mark("warmup")
    records, win = measure(srv, streams)
    heap = _heap_retained_mb(srv.spark)
    srv.server.stop()
    failed = [r for r in records if r.error]
    metrics, diag = summarize(
        [r.latency for r in records], [r.first_frame for r in records],
        sum(r.rows for r in records), win,
    )
    metrics.update(setup_s=statistics.median(s.setup for s in setups), heap_retained_mb=heap)
    diag.update(
        setups_s=[round(s.setup, 3) for s in setups],
        failures=[r.error for r in failed][:5],
    )
    result = {"attempted": len(records), "failed": len(failed), "metrics": metrics, "diag": diag}
    if not args.trace:
        return result

    srv = start(event_log=True)
    streams = warm_up(srv)
    tracer = ServeTracer(srv.spark, srv.server, srv.tenant)
    blocks0 = _rdd_blocks(srv.spark)
    traced, twin = measure(srv, streams, lambda: tracer.spans.new_op("r"))
    blocks1 = _rdd_blocks(srv.spark)
    phases = tracer.phases()
    srv.server.stop()
    stop_jvm()  # flushes the event log
    events = parse_event_log(WORK / "events")
    for rec in traced:
        tracer.spans.add(rec.tag, "client.op", rec.start, rec.start + rec.latency,
                         kind=rec.kind, rows=rec.rows, round_trips=rec.round_trips)
    tracer.spans.write(WORK / "out" / f"spans-{args.workload}-{args.seed}.json")

    handles = tracer.spans.by_op("server.handle")
    n = len(traced)
    rows = sum(r.rows for r in traced)
    http, encode = [], 0.0
    for rec in traced:
        spans = sorted(handles[rec.tag], key=lambda s: s["start"])
        http.append(rec.round_trips[0] - (spans[0]["end"] - spans[0]["start"]))
        encode += sum(s["end"] - s["start"] - s["sql"] - s["pull"] for s in spans)
    ev_tot = {k: sum(g.get(k, 0.0) for g in events.values()) for k in
              ("jobs", "stages", "tasks", "executor_cpu_ms", "shuffle_bytes", "scan_rows")}
    sql_ms = [s["end"] - s["start"] for ss in tracer.spans.by_op("api.sql").values() for s in ss]
    first_row = [s["end"] - s["start"] for ss in tracer.spans.by_op("exec.first_row").values() for s in ss]
    layer = dict.fromkeys(per_layer_units(), 0.0)
    layer.update({
        "server.http_ms": median(http) * 1e3,
        "server.encode_ms_per_krow": encode * 1e6 / max(rows, 1),
        "server.fetches_per_op": sum(r.fetches for r in traced) / n,
        "server.json_bytes_per_row": sum(r.json_bytes for r in traced) / max(rows, 1),
        "api.sql_ms": median(sql_ms) * 1e3,
        "api.tenant_build_s": median(s.tenant_build for s in setups),
        **{f"catalyst.{p}_ms": median(ph[p] for ph in phases.values()) for p in ("analysis", "optimization", "planning")},
        "exec.jobs_per_op": ev_tot["jobs"] / n,
        "exec.stages_per_op": ev_tot["stages"] / n,
        "exec.tasks_per_op": ev_tot["tasks"] / n,
        "exec.first_row_ms": median(first_row) * 1e3,
        "exec.scan_rows_per_result_row": ev_tot["scan_rows"] / max(rows, 1),
        "exec.executor_cpu_ms_per_op": ev_tot["executor_cpu_ms"] / n,
        "exec.shuffle_bytes_per_op": ev_tot["shuffle_bytes"] / n,
        "pyworker.cpu_ms_per_op": twin.cpu["workers"] * 1e3 / n,
        "storage.rdd_blocks_end": blocks1,
        "storage.rdd_blocks_per_op": (blocks1 - blocks0) / n,
        "trace.ops_per_s_ratio": (n / (twin.t1 - twin.t0)) / metrics["ops_per_s"],
    })
    failed += [r for r in traced if r.error]
    return {"attempted": len(records) + n, "failed": len(failed), "metrics": layer, "diag": diag}


def run_batch(args, stages: Stages) -> dict:
    from fineo_readerator_spark.plans.kv_queries import ensure_snapshot
    from fineo_readerator_spark.session import get_spark

    sf_dir = str(SF_DIR)
    expected = batch.expected_rows(sf_dir, datagen.TABLES)
    stages.mark("prepare")

    def start(event_log: bool = False):
        """A fresh JVM and session, with its set-up time."""
        launch(event_log)
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        setup = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        return spark, setup

    def warm_up(spark) -> None:
        # the one lazily built snapshot the sequence reads (kv_scan's
        # orders_kv) is built here, never inside a timed query
        ensure_snapshot(spark, sf_dir)
        for name in batch.sequence(args.seed + 1, WARMUP_PASSES):
            batch.run_query(spark, name, sf_dir, expected[name])

    seq = batch.sequence(args.seed, batch.passes_for(args.seconds))

    def measure(spark, hooks=None):
        with Window() as win:
            recs = [batch.run_query(spark, q, sf_dir, expected[q], hooks) for q in seq]
        return recs, win

    setups = []
    for _ in range(SETUPS[args.trace]):
        spark, setup = start()
        setups.append(setup)
    stages.mark("setup")
    warm_up(spark)
    stages.mark("warmup")
    kv_cache = ROOT / ".kv_cache"
    snapshots = batch.tree_state(kv_cache)
    records, win = measure(spark)
    heap = _heap_retained_mb(spark)
    lat = [r.latency for r in records]
    metrics, diag = summarize(lat, lat, sum(max(r.rows, 0) for r in records), win)
    metrics.update(setup_s=statistics.median(setups), heap_retained_mb=heap)
    failed = [r for r in records if r.error]
    diag.update(
        # every pass runs the same queries, so compare whole passes
        **{"check.half_drift_pct": round(pass_drift_pct(lat, len(batch.BATCH_QUERIES)), 2)},
        setups_s=[round(s, 3) for s in setups],
        failures=[f"{r.name}: {r.error}" for r in failed][:5],
        per_query_ms={q: round(median(r.latency for r in records if r.name == q) * 1e3, 1)
                      for q in batch.BATCH_QUERIES},
    )
    result = {"attempted": len(records), "failed": len(failed), "metrics": metrics, "diag": diag}
    if args.trace:
        spark, _ = start(event_log=True)
        warm_up(spark)
        hooks = BatchHooks(spark)
        blocks0 = _rdd_blocks(spark)
        traced, twin = measure(spark, hooks)
        blocks1 = _rdd_blocks(spark)
        stop_jvm()  # flushes the event log
        events = parse_event_log(WORK / "events")
        hooks.spans.write(WORK / "out" / f"spans-{args.workload}-{args.seed}.json")
        n = len(traced)
        exec_groups = [g for k, g in events.items() if k.endswith(":exec")]
        build_groups = [g for k, g in events.items() if k.endswith(":build")]
        ev = {k: sum(g.get(k, 0.0) for g in exec_groups + build_groups) for k in
              ("jobs", "stages", "tasks", "executor_cpu_ms", "shuffle_bytes")}
        spans = hooks.spans.items
        layer = dict.fromkeys(per_layer_units(), 0.0)
        layer.update({
            **{f"catalyst.{p}_ms": median(ph.get(p, 0) for ph in hooks.phases.values())
               for p in ("analysis", "optimization", "planning")},
            "exec.jobs_per_op": ev["jobs"] / n,
            "exec.stages_per_op": ev["stages"] / n,
            "exec.tasks_per_op": ev["tasks"] / n,
            "exec.executor_cpu_ms_per_op": ev["executor_cpu_ms"] / n,
            "exec.shuffle_bytes_per_op": ev["shuffle_bytes"] / n,
            "pyworker.cpu_ms_per_op": twin.cpu["workers"] * 1e3 / n,
            "plans.build_ms": median(s["end"] - s["start"] for s in spans if s["name"] == "plans.build") * 1e3,
            "plans.eager_jobs_per_op": sum(g.get("jobs", 0) for g in build_groups) / n,
            "exec.noop_ms": median(s["end"] - s["start"] for s in spans if s["name"] == "exec.noop") * 1e3,
            **{f"batch.{q}.ms": median(r.latency for r in traced if r.name == q) * 1e3
               for q in batch.BATCH_QUERIES},
            "storage.rdd_blocks_end": blocks1,
            "storage.rdd_blocks_per_op": (blocks1 - blocks0) / n,
            "trace.ops_per_s_ratio": (n / (twin.t1 - twin.t0)) / metrics["ops_per_s"],
        })
        failed += [r for r in traced if r.error]
        result.update(attempted=len(records) + n, failed=len(failed), metrics=layer)
    else:
        stop_jvm()
    changed = batch.tree_state(kv_cache) != snapshots
    diag["kv_cache_changed"] = changed
    result["correct_extra"] = not changed
    return result


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "fineo_readerator_spark" / "__init__.py").is_file():
        print(f"perfbench: no fineo_readerator_spark package under {ROOT}", file=sys.stderr)
        return 2
    load_start = os.getloadavg()[0]
    stages = Stages()
    deployment = deploy(bool(args.trace))
    datagen.ensure_tables(SF_DIR)
    stages.mark("build")
    runner = run_batch if args.workload == "batch_registry" else run_serve
    try:
        res = runner(args, stages)
    finally:
        stop_jvm()
    stages.mark("measure_and_teardown")
    diag = {"host.load_start": round(load_start, 2), **res["diag"], "stage_s": stages.seconds}
    units = per_layer_units() if args.trace else END_TO_END
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "deployment": deployment, "diagnostics": diag}))
    out = {
        "correct": res["failed"] == 0 and res.get("correct_extra", True),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(res["metrics"][k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
