"""Registry batch workload: bench-flagged queries run one at a time through
``QueryDef.fn`` plus the noop sink.

The sequence is a seeded order of the same queries in every pass and is
bounded by count, not time, so checkpoints pile up identically at every
position of every run.  Each result is counted by an ``observe`` on the
sink and compared with the row count of the query's DuckDB oracle.

Three bench-flagged queries are left out to keep a run within the
benchmark's time budget, where every run sets up two fresh JVMs and warms
up a cold pass.  ``d_minhash_dedup``: its cold first run (about 12 s), its
3.5-4 s per measured run (mostly eager jobs, whatever the corpus size) and
its DuckDB oracle (about 30 s per thousand documents).  ``q_transitions``
and ``t_bm25_topk``: about 1 s per run each (``t_bm25_topk`` 4.5 s cold),
on layers the sequence already covers (``q1_pricing_summary`` drives the
operators, ``s_ann_topk`` the llm_ops).  Plan build with eager jobs is
still measured on ``m_union_overlap``, ``kv_scan`` and ``s_ann_topk``.

The queries' latencies differ, so a run's sorted latencies come in one
cluster per query; ``stats.quantile`` estimates the median and tail from
all of them, so neither jumps between clusters from run to run.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Optional

BATCH_QUERIES = (
    "m_union_overlap",
    "m_time_filter",
    "kv_scan",
    "q1_pricing_summary",
    "s_ann_topk",
)
# one pass takes about this long on a 4-core host; the pass count follows
# from the run's seconds alone, never from how fast the passes ran
PASS_SECONDS = 4.5
MIN_PASSES = 4


def passes_for(seconds: int) -> int:
    """At least four passes (20 operations, about 18 s), so the median rests
    on four runs of every query and the tail percentile, which needs ten
    samples past it, exists; at 20 operations it is the 50th, so a run of
    this length does not resolve the batch's tail."""
    return max(MIN_PASSES, round(seconds / PASS_SECONDS))


def sequence(seed: int, passes: int) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(BATCH_QUERIES)
        rng.shuffle(order)
        out.extend(order)
    return out


def expected_rows(sf_dir: str, tables: tuple[str, ...]) -> dict[str, int]:
    """Row count of every query's DuckDB oracle over the same parquet."""
    import duckdb

    from fineo_readerator_spark.plans.queries import QUERIES

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {
            q: con.execute(f"SELECT count(*) FROM ({QUERIES[q].oracle})").fetchone()[0]
            for q in BATCH_QUERIES
        }
    finally:
        con.close()
    return out


@dataclass
class BatchRecord:
    name: str
    start: float
    latency: float
    build: float
    rows: int
    error: Optional[str]


def run_query(spark, name: str, sf_dir: str, expected: int, hooks=None) -> BatchRecord:
    """Build the query's DataFrame, write it to the noop sink, check its
    row count.  ``hooks`` (the traced run) brackets the build and the write."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from fineo_readerator_spark.plans.queries import QUERIES

    rows, error = -1, None
    t0 = time.perf_counter()
    t1 = t0
    try:
        if hooks:
            hooks.before_build(name)
        df = QUERIES[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        if hooks:
            hooks.before_write(df)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        rows = obs.get["n"]
        if rows != expected:
            error = f"row count {rows} != oracle {expected}"
    except Exception as e:  # a failed query is counted, the run goes on
        error = f"{type(e).__name__}: {e}"[:300]
    t2 = time.perf_counter()
    if hooks:
        hooks.after_write()
    return BatchRecord(name, t0, t2 - t0, t1 - t0, rows, error)


def tree_state(path: Path) -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of every file under ``path``."""
    if not path.exists():
        return {}
    return {
        str(p.relative_to(path)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in sorted(path.rglob("*"))
        if p.is_file()
    }
