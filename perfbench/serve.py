"""Serve workload: closed-loop HTTP clients against an in-process ReadServer.

Each client thread sends its next statement only after the previous one is
fully drained, the way a JDBC/HTTP client waits for each reply.  A request
is POST ``/query`` followed by ``/fetch`` until a frame says ``done``.

``serve_short`` runs 2 clients on a seeded uniform mix of four single-frame
statements (GROUP BY aggregate, ``user_id =`` point filter, ``LIMIT 100``,
``information_schema_columns``).  Each block of four requests holds one of
each, in seeded order, and a client stops only after a whole block, so every
warm-up and every measured window holds the same mix.
"""

from __future__ import annotations

import http.client
import json
import random
import threading
import time
from dataclasses import dataclass
from typing import Callable, Iterator, Optional

from stats import MASK, Drain, Expected, check_drain, expected_from_rows

API_KEY = "perfbench-key"
ORG = "acme"
VIEW_COLUMNS = ["timestamp", "event_id", "user_id", "event_type", "value", "props"]
POOL = 32

SHORT_CLIENTS = 2

AGG_SQL = (
    "SELECT event_type, count(*) AS n, min(value) AS lo, max(value) AS hi "
    "FROM events GROUP BY event_type"
)
LIMIT_SQL = "SELECT * FROM events LIMIT 100"
INFO_SQL = "SELECT * FROM information_schema_columns"
# the tenant catalog the server must publish for metric acme.events
INFO_ROWS = [
    {
        "table_catalog": "FINEO",
        "table_schema": ORG,
        "table_name": "events",
        "column_name": c,
        "ordinal_position": i + 1,
        "data_type": t,
    }
    for i, (c, t) in enumerate(
        [
            ("timestamp", "BIGINT"),
            ("event_id", "BIGINT"),
            ("user_id", "BIGINT"),
            ("event_type", "STRING"),
            ("value", "DOUBLE"),
            ("props", "STRING"),
        ]
    )
]


@dataclass
class Request:
    kind: str
    sql: str
    expected: Expected


class Statements:
    """The seeded statement pool of one run and each one's expected answer,
    computed with DuckDB over the same parquet the server reads (the split
    store's union holds every ``events`` row exactly once)."""

    def __init__(self, sf_dir: str, seed: int):
        import duckdb

        rng = random.Random(seed)
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE TABLE events AS SELECT epoch_ms(ts) AS \"timestamp\", event_id, "
                f"user_id, event_type, value, props FROM '{sf_dir}/events.parquet'"
            )

            def rows(sql: str) -> list[dict]:
                cur = con.execute(sql)
                names = [d[0] for d in cur.description]
                return [dict(zip(names, r)) for r in cur.fetchall()]

            # events rows as tuples in sorted column order: hash(tuple) is
            # row_hash of the same row served as JSON
            cols = ", ".join(sorted(VIEW_COLUMNS))

            def table_rows(where: str = "") -> list[tuple]:
                return con.execute(f"SELECT {cols} FROM events {where}").fetchall()

            def expect(where: str) -> Expected:
                hashes = [hash(r) & MASK for r in table_rows(where)]
                return Expected(len(hashes), sum(hashes) & MASK)

            self.agg = Request("agg", AGG_SQL, expected_from_rows(rows(AGG_SQL)))
            key = sorted(VIEW_COLUMNS).index("event_id")
            known = {r[key]: hash(r) & MASK for r in table_rows()}
            self.limit = Request(
                "limit", LIMIT_SQL, Expected(rows=100, known_rows=known, key="event_id")
            )
            self.info = Request("info", INFO_SQL, expected_from_rows(INFO_ROWS))
            n_users = con.execute("SELECT max(user_id) + 1 FROM events").fetchone()[0]
            self.points = []
            for user in rng.sample(range(n_users), POOL):
                where = f"WHERE user_id = {user}"
                self.points.append(Request("point", f"SELECT * FROM events {where}", expect(where)))
        finally:
            con.close()

    def short_stream(self, rng: random.Random) -> Iterator[list[Request]]:
        """Endless blocks of four requests, one of each statement kind."""
        while True:
            block = [self.agg, rng.choice(self.points), self.limit, self.info]
            rng.shuffle(block)
            yield block


@dataclass
class OpRecord:
    """One drained statement as the client timed it."""

    kind: str
    tag: Optional[str]
    start: float
    latency: float
    first_frame: float
    rows: int
    fetches: int
    json_bytes: int
    error: Optional[str]
    # client round trip of each request, in order (the trace joins these
    # with the server-side spans of the same request)
    round_trips: list


def post(port: int, path: str, body: dict) -> tuple[int, dict, int]:
    """(status, payload, response bytes) of one POST; status 0 when the
    connection itself failed."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(
            "POST", path, json.dumps(body), {"x-api-key": API_KEY, "content-type": "application/json"}
        )
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, json.loads(data), len(data)
    except (OSError, http.client.HTTPException, ValueError) as e:
        return 0, {"error": f"{type(e).__name__}: {e}"}, 0
    finally:
        conn.close()


def run_op(port: int, req: Request, tag: Optional[str] = None) -> OpRecord:
    """Send one statement and drain it; the result is checked after the
    timer stops.  ``tag`` is passed in the body for the trace to join on."""
    extra = {"perfbench_op": tag} if tag else {}
    drain = Drain()
    trips = []
    t0 = time.perf_counter()
    status, out, nbytes = post(port, "/query", {"sql": req.sql, **extra})
    t_first = time.perf_counter()
    trips.append(t_first - t0)
    drain.statuses.append(status)
    fetches = 0
    if status == 200:
        drain.columns = out["columns"]
        drain.rows.extend(out["rows"])
        drain.done = out["done"]
        while not drain.done:
            t = time.perf_counter()
            status, frame, n = post(
                port,
                "/fetch",
                {"statement_id": out.get("statement_id"), "offset": len(drain.rows), **extra},
            )
            trips.append(time.perf_counter() - t)
            fetches += 1
            nbytes += n
            drain.statuses.append(status)
            if status != 200:
                break
            drain.rows.extend(frame["rows"])
            drain.done = frame["done"]
    t_end = time.perf_counter()
    return OpRecord(
        kind=req.kind,
        tag=tag,
        start=t0,
        latency=t_end - t0,
        first_frame=t_first - t0,
        rows=len(drain.rows),
        fetches=fetches,
        json_bytes=nbytes,
        error=check_drain(drain, req.expected),
        round_trips=trips,
    )


def closed_loop(
    port: int,
    streams: list[Iterator[list[Request]]],
    stop: Callable[[int], bool],
    tag: Optional[Callable[[], str]] = None,
) -> list[OpRecord]:
    """One thread per stream; each sends whole blocks of requests until
    ``stop(ops done by all clients so far)`` holds after a block."""
    done: list[OpRecord] = []
    errors: list[BaseException] = []

    def client(stream: Iterator[Request]) -> None:
        try:
            while not stop(len(done)):
                for req in next(stream):
                    done.append(run_op(port, req, tag() if tag else None))
        except BaseException as e:  # surfaced after join, never lost
            errors.append(e)

    threads = [threading.Thread(target=client, args=(s,)) for s in streams]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return sorted(done, key=lambda r: r.start)
