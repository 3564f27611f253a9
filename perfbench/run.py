#!/usr/bin/env python3
"""Served-path benchmark for tidb-gateway-spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Workloads (both closed loop):

* ``wire_served``  – 4 clients at sf0.1.  Three cycle through short
  lookups with MySQL-only syntax, prepared EXECUTEs, MySQL-dialect
  aggregates and the session statements connectors send, then
  reconnect.  One bulk client cycles through ~10k-row exports over the
  text, binary, cursor and compressed protocols and a LOAD DATA LOCAL
  INFILE upload;
* ``registry_sweep`` – one in-process caller at sf0.01 builds and
  executes a fixed sample of the query registry (perfbench/sweep.py).

The wire workload starts the gateway in its own process
(perfbench/serve.py); this process is the only client.  Every run works
in a fresh directory under ``.perfbench_work/`` (derived artifacts,
Spark local and warehouse dirs), removed at the end.  Fixture parquet
files are generated once per checkout from a fixed seed
(perfbench/fixtures.py).

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}`` with the end-to-end metrics (``--trace 0``) or
the per-layer metrics of a traced run (``--trace 1``).  The line before
it carries diagnostics (host sentinel readings, pinned settings, sample
counts).  perfbench/README.md defines every metric.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

from perfbench import fixtures, workloads  # noqa: E402
from perfbench.host import descendants, reap, settle, tree_peak_rss  # noqa: E402
from perfbench.wireclient import (Connection, FrameBuffer, ProtocolError,  # noqa: E402
                                  Result, ServerError, lenenc)

WORKLOADS = ("wire_served", "registry_sweep")
# Pinned engine settings (existing knobs of the program), recorded in
# the diagnostics line.  Peak RSS depends on the driver heap cap.
SPARK_CPUS = 4
DRIVER_MEM = "1g"
# Clients of the wire workload: OLTP_CLIENTS plus the bulk client.
OLTP_CLIENTS = max(1, min(4, os.cpu_count() or 1) - 1)
# Warm-up before timing, applied to every workload; chosen from the
# per-window latency of a long wire_served run (perfbench/README.md).
WARMUP_S = 5.0
OP_TIMEOUT_S = 60.0
RUN_DEADLINE_S = 170.0
SF_WIRE, SF_REGISTRY = 0.1, 0.01
USER = "bench.user"
WIRE_ERRORS = (ServerError, ProtocolError, ConnectionError, asyncio.TimeoutError)

END_TO_END = {"setup_s": "s", "stmts_per_s": "1/s", "stmt_p50_ms": "ms",
              "rows_per_s": "1/s", "connect_p50_ms": "ms", "peak_rss_mb": "MB"}
# End-to-end figures whose traced-minus-untraced difference is reported
# as the tracing overhead.
TIMED_FIGURES = ("stmts_per_s", "stmt_p50_ms", "rows_per_s", "connect_p50_ms")
PER_LAYER = {
    "session.boot_s": "s", "derived.build_s": "s", "verify_s": "s", "warmup_s": "s",
    "py.rss_mb": "MB", "jvm.rss_mb": "MB",
    "catalog.register_views_ms": "ms", "server.session_attach_ms": "ms",
    "server.handshake_ms": "ms", "server.queue_wait_ms": "ms",
    "dialect.rewrite_us": "us", "prepared.bind_us": "us",
    "engine.analyze_ms": "ms", "engine.first_row_ms": "ms", "engine.fetch_ms": "ms",
    "engine.create_df_ms": "ms", "engine.exec_ms": "ms",
    "engine.jobs_per_stmt": "count", "engine.stages_per_stmt": "count",
    "engine.tasks_per_stmt": "count", "engine.python_exec_nodes": "count",
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "result_encoder.encode_ms": "ms", "prepared.encode_ms": "ms",
    "wire.write_ms": "ms", "wire.read_ms": "ms",
    "wire.packets_out": "count", "wire.bytes_out": "B",
    "compress.deflate_ms": "ms", "compress.ratio": "ratio",
    "client.cpu_ms": "ms", "client.cpu_share_pct": "%",
    "client.ttfr_p50_ms": "ms", "client.ingest_rows_per_s": "1/s",
    "client.parse_rows_per_s": "1/s",
    "trace.spans": "count", "trace.stmts_per_s_delta": "1/s",
    "trace.stmt_p50_ms_delta": "ms", "trace.rows_per_s_delta": "1/s",
    "trace.connect_p50_ms_delta": "ms",
}
# span name -> (per-layer metric, factor from seconds)
SPAN_METRICS = {
    "catalog.register_views": ("catalog.register_views_ms", 1e3),
    "server.session_attach": ("server.session_attach_ms", 1e3),
    "server.handshake": ("server.handshake_ms", 1e3),
    "server.queue_wait": ("server.queue_wait_ms", 1e3),
    "dialect.rewrite": ("dialect.rewrite_us", 1e6),
    "prepared.bind": ("prepared.bind_us", 1e6),
    "engine.analyze": ("engine.analyze_ms", 1e3),
    "engine.first_row": ("engine.first_row_ms", 1e3),
    "engine.fetch": ("engine.fetch_ms", 1e3),
    "engine.create_df": ("engine.create_df_ms", 1e3),
    "engine.exec": ("engine.exec_ms", 1e3),
    "queries.build": ("queries.build_ms", 1e3),
    "result_encoder.encode": ("result_encoder.encode_ms", 1e3),
    "prepared.encode": ("prepared.encode_ms", 1e3),
    "wire.write": ("wire.write_ms", 1e3),
    "wire.read": ("wire.read_ms", 1e3),
    "compress.deflate": ("compress.deflate_ms", 1e3),
}


# ---------------------------------------------------------------- figures

class Recorder:
    """Per-class latencies and row counts of one phase."""

    def __init__(self):
        self.lat: dict[str, list[float]] = {}
        self.rows: dict[str, list[int]] = {}
        self.ttfr: dict[str, list[float]] = {}
        self.ends: list[tuple[float, str, float]] = []
        self.ops = self.failed = 0
        self.wall = self.cpu = 0.0
        self.problems: list[str] = []

    def add(self, kind: str, t0: float, t1: float, rows: int, first_row_at=None) -> None:
        self.lat.setdefault(kind, []).append(t1 - t0)
        self.rows.setdefault(kind, []).append(rows)
        self.ends.append((t1, kind, t1 - t0))
        if first_row_at is not None:
            self.ttfr.setdefault(kind, []).append(first_row_at - t0)

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(why)

    def merge(self, other: "Recorder") -> None:
        for mine, theirs in ((self.lat, other.lat), (self.rows, other.rows),
                             (self.ttfr, other.ttfr)):
            for k, v in theirs.items():
                mine.setdefault(k, []).extend(v)
        self.ends += other.ends
        self.ops += other.ops
        self.failed += other.failed
        self.wall += other.wall
        self.cpu += other.cpu
        self.problems += other.problems


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def class_p50_ms(lat: dict[str, list[float]], classes) -> float:
    """Geometric mean over operation classes of each class's median
    latency: a percentile is never taken across classes."""
    return geomean([statistics.median(lat[c]) * 1e3 for c in classes if lat.get(c)])


def cycle_figures(rec: Recorder, loops: list[dict[str, int]],
                  row_classes: list[str]) -> tuple[float, float]:
    """(operations/s, rows/s) from per-class mean latency and rows.
    ``loops`` holds each closed loop's cycle as operation counts per
    class; a loop waits for every reply, so its cycle takes the sum of
    its operations' latencies.  Operations/s is summed over the loops;
    rows/s is over the time spent in ``row_classes``, each class
    weighted equally.  Neither depends on where a phase happened to cut
    a cycle."""
    # A class the phase never reached (a cycle longer than the phase)
    # drops out; the diagnostics' sample counts show it.
    mean_lat = {k: statistics.fmean(v) for k, v in rec.lat.items() if v}
    ops_s = 0.0
    for cycle in loops:
        cycle = {k: n for k, n in cycle.items() if k in mean_lat}
        ops_s += sum(cycle.values()) / sum(n * mean_lat[k] for k, n in cycle.items())
    row_classes = [k for k in row_classes if k in mean_lat]
    rows = sum(statistics.fmean(rec.rows[k]) for k in row_classes)
    return ops_s, rows / sum(mean_lat[k] for k in row_classes)


def window_p50_ms(rec: Recorder, classes, width: float = 5.0) -> list[float]:
    """Class-p50 latency per ``width``-second window of a phase (the
    warm-up evidence)."""
    if not rec.ends:
        return []
    t0 = min(t - d for t, _, d in rec.ends)
    out = []
    for i in range(int((max(t for t, _, _ in rec.ends) - t0) // width) + 1):
        lat: dict[str, list[float]] = {}
        for t, k, d in rec.ends:
            if t0 + i * width <= t < t0 + (i + 1) * width:
                lat.setdefault(k, []).append(d)
        if any(lat.get(c) for c in classes):
            out.append(round(class_p50_ms(lat, classes), 1))
    return out


# ---------------------------------------------------------------- oracle

def to_text(v) -> str | None:
    """A DuckDB value in the MySQL text-protocol form the gateway sends."""
    import datetime as dt
    if v is None:
        return None
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f" if v.microsecond else "%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


class Oracle:
    """DuckDB over the fixture parquet, compared under the FIXTURES.md
    canonicalization (tests/oracle_diff.py)."""

    def __init__(self, sf_dir: str):
        import duckdb
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from oracle_diff import canonical_rows
        self.canonical_rows = canonical_rows
        self.con = duckdb.connect()
        for t in fixtures.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def _canon(self, cols, rows, set_columns):
        import pandas as pd
        idx = [cols.index(c) for c in set_columns]
        fixed = []
        for r in rows:
            r = list(r)
            for i in idx:
                if r[i] is not None:
                    r[i] = ",".join(sorted(r[i].split(",")))
            fixed.append(r)
        return self.canonical_rows(pd.DataFrame(fixed, columns=cols, dtype=object))

    def check(self, stmt: workloads.Stmt, res: Result) -> str | None:
        """None when the decoded wire result equals the oracle's."""
        cur = self.con.execute(stmt.oracle)
        cols = [d[0] for d in cur.description]
        want = [tuple(to_text(v) for v in row) for row in cur.fetchall()]
        if res.cols != cols:
            return f"{stmt.key}: columns {res.cols} != {cols}"
        if self._canon(cols, res.data, stmt.set_columns) != self._canon(cols, want, stmt.set_columns):
            return f"{stmt.key}: rows differ from the DuckDB oracle ({res.rows} vs {len(want)} rows)"
        return None


# ---------------------------------------------------------------- wire_served

class WireClient:
    """One client of the wire workload and its cycle.  An OLTP client
    reconnects after every cycle; the bulk client keeps two
    connections, a plain one and one with CLIENT_COMPRESS for the
    compressed export."""

    def __init__(self, port: int, cycle: list, first: workloads.Stmt | None, bulk: bool):
        self.port, self.cycle, self.first, self.bulk = port, cycle, first, bulk
        self.conn: Connection | None = None
        self.zconn: Connection | None = None
        self.lookup_id = self.export_id = 0
        self.pos = 0
        self.uploads = 0
        self.csv, self.csv_sum = workloads.upload_csv()

    async def _open(self, compress: bool) -> Connection:
        """Connect, handshake, auth and the connector's session statements."""
        conn = Connection()
        await conn.open("127.0.0.1", self.port, USER, compress=compress)
        await conn.query("SET NAMES utf8mb4")
        await conn.query("SELECT @@version_comment")
        return conn

    async def connect(self) -> None:
        """Open the client's connections and prepare its statements."""
        self.conn = await self._open(False)
        if self.bulk:
            self.zconn = await self._open(True)
            self.export_id, _ = await self.conn.prepare(workloads.EXPORT_BY_RANGE)
        else:
            self.lookup_id, _ = await self.conn.prepare(workloads.PREPARED_LOOKUP)

    async def close(self) -> None:
        for conn in (self.conn, self.zconn):
            if conn is not None:
                await conn.close()

    async def run(self, stmt, lean: bool = True):
        if stmt == "upload":
            self.uploads += 1
            return await self.conn.query(
                f"LOAD DATA LOCAL INFILE 'upload.csv' INTO TABLE up_{self.uploads} "
                "FIELDS TERMINATED BY ','", lean=lean, infile=self.csv)
        if stmt.kind == "exec":
            return await self.conn.execute(self.lookup_id, list(stmt.params), lean=lean)
        if stmt.key in ("export_binary", "export_cursor"):
            return await self.conn.execute(self.export_id, list(stmt.params), lean=lean,
                                           cursor=stmt.key == "export_cursor")
        if stmt.key == "export_compressed":
            return await self.zconn.query(stmt.sql, lean=lean)
        return await self.conn.query(stmt.sql, lean=lean)

    async def reconnect(self):
        """A reconnect: close, then connect through the first result."""
        try:
            await self.conn.close()
        except OSError:
            pass                  # the old connection is already broken
        await self.connect()
        return await self.run(self.first)

    async def check_upload(self, ack: dict) -> str | None:
        """Read an uploaded table back (verification pass)."""
        if ack.get("affected") != workloads.UPLOAD_ROWS:
            return f"upload acknowledged {ack.get('affected')} rows"
        res = await self.conn.query(
            f"SELECT COUNT(*) AS n, SUM(CAST(c0 AS BIGINT)) AS s FROM up_{self.uploads}",
            lean=False)
        if res.data != [(str(workloads.UPLOAD_ROWS), str(self.csv_sum))]:
            return f"uploaded table reads back {res.data}"
        return None

    async def loop(self, rec: Recorder, deadline: float, expected: dict) -> None:
        while time.perf_counter() < deadline:
            if self.pos == len(self.cycle) and not self.bulk:
                self.pos = 0
                kind, stmt = "connect", self.first
            else:
                self.pos %= len(self.cycle)
                stmt = self.cycle[self.pos]
                self.pos += 1
                kind = "upload" if stmt == "upload" else stmt.kind
            cls = stmt.key if kind == "export" else workloads.CLASS_OF[kind]
            rec.ops += 1
            t0 = time.perf_counter()
            try:
                res = await asyncio.wait_for(
                    self.reconnect() if kind == "connect" else self.run(stmt), OP_TIMEOUT_S)
            except WIRE_ERRORS as e:
                rec.fail(f"{kind}: {e}")
                if not isinstance(e, ServerError):
                    if self.bulk:
                        return               # its connections are gone
                    self.pos = len(self.cycle)   # reconnect next
                continue
            t1 = time.perf_counter()
            if kind == "upload":
                ok, rows = res.get("affected") == workloads.UPLOAD_ROWS, 0
            elif kind == "set":
                ok, rows = isinstance(res, dict), 0
            else:
                ok, rows = (res.rows, res.digest) == expected.get(stmt.key), res.rows
            if not ok:
                rec.fail(f"{kind} {getattr(stmt, 'key', stmt)}: result differs from the verified one")
            rec.add(cls, t0, t1, rows, res.first_row_at if kind == "export" else None)


async def verify(clients: list[WireClient], pool, oracle: Oracle,
                 rec: Recorder) -> tuple[dict, bytes]:
    """Run every distinct statement once, fully decoded, against the
    oracle (the bulk client its exports and one upload, the others the
    short statements); return the expected (rows, digest) of each
    statement, and the raw stream of the text export for the
    parser-rate check."""
    shared = [s for k in ("lookup", "exec", "group") for s in pool[k]] + pool["sysvar"]
    bulk = [pool[f"export_{k}"][0] for k in workloads.EXPORT_KINDS] + ["upload"]
    expected: dict[str, tuple[int, int]] = {}
    text_export = pool["export_text"][0]
    captured: list[bytes] = []

    async def worker(i: int, cl: WireClient) -> None:
        for s in bulk if cl.bulk else shared[i::OLTP_CLIENTS]:
            rec.ops += 1
            cl.conn.fb.capture = captured if s is text_export else None
            try:
                res = await asyncio.wait_for(cl.run(s, lean=False), OP_TIMEOUT_S)
                if s == "upload":
                    problem = await cl.check_upload(res)
                else:
                    expected[s.key] = (res.rows, res.digest)
                    problem = oracle.check(s, res) if s.oracle else (
                        None if res.rows == 1 else f"{s.key}: expected one row")
            except WIRE_ERRORS as e:
                problem = f"verify {getattr(s, 'key', s)}: {e}"
            cl.conn.fb.capture = None
            if problem:
                rec.fail(problem)

    await asyncio.gather(*(worker(i, cl) for i, cl in enumerate(clients)))
    return expected, b"".join(captured)


async def wire_served(ctx: "RunContext") -> None:
    import numpy as np
    rng = np.random.default_rng(ctx.seed)
    pool = workloads.statements(rng)
    clients = [WireClient(ctx.port, workloads.client_cycle(rng, pool, workloads.OLTP_CYCLE),
                          pool["lookup"][i % workloads.POOL], bulk=False)
               for i in range(OLTP_CLIENTS)]
    clients.append(WireClient(ctx.port, workloads.client_cycle(rng, pool, workloads.BULK_CYCLE),
                              None, bulk=True))
    t0 = time.perf_counter()
    await asyncio.gather(*(cl.connect() for cl in clients))
    expected, ctx.capture = await verify(clients, pool, ctx.oracle, ctx.verify)
    ctx.setup["verify_s"] = time.perf_counter() - t0

    async def phase(rec: Recorder, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        await asyncio.gather(*(cl.loop(rec, deadline, expected) for cl in clients))

    await ctx.warm_up_and_time(phase)
    for cl in clients:
        await cl.close()


def wire_loops() -> list[dict[str, int]]:
    """Each client's cycle as operation counts per latency class."""
    oltp = {"connect": 1}
    for k in workloads.OLTP_CYCLE:
        oltp[workloads.CLASS_OF[k]] = oltp.get(workloads.CLASS_OF[k], 0) + 1
    bulk = {workloads.CLASS_OF.get(k, k): 1 for k in workloads.BULK_CYCLE}
    return [oltp] * OLTP_CLIENTS + [bulk]


def export_classes() -> list[str]:
    return [f"export_{k}" for k in workloads.EXPORT_KINDS]


def parse_rate(capture: bytes, min_s: float = 0.3) -> float:
    """Rows per second the lean parser reaches on a captured text
    export fed from memory, repeated until ``min_s`` has elapsed."""

    class Replay:
        def __init__(self):
            self.data = capture

        async def read(self, n: int) -> bytes:
            out, self.data = self.data[:n], self.data[n:]
            return out

    async def parse_once() -> int:
        fb = FrameBuffer(Replay())
        _, first = await fb.packet()
        ncols, _ = lenenc(first, 0)
        for _ in range(ncols + 1):          # definitions and their EOF
            await fb.packet()
        res = Result()
        await fb.scan_rows(res)
        return res.rows

    async def parse() -> tuple[int, float]:
        rows, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < min_s:
            rows += await parse_once()
        return rows, time.perf_counter() - t0

    rows, secs = asyncio.run(parse())
    return rows / secs


class RunContext:
    """State of one run of the wire workload."""

    def __init__(self, args, run_dir: str, proc, port: int, oracle: Oracle, t_spawn: float):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.run_dir, self.proc, self.port, self.oracle = run_dir, proc, port, oracle
        self.t_spawn = t_spawn
        self.setup: dict[str, float] = {}
        self.verify, self.warm = Recorder(), Recorder()
        self.capture = b""
        self.phases: list[tuple[bool, Recorder]] = []
        self.trace_reply: dict = {}
        self.probes: dict[str, list[float]] = {}
        self.setup_s = 0.0

    def command(self, line: str) -> dict:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    async def warm_up_and_time(self, phase) -> None:
        """Warm up, settle, then time.  A traced run times an untraced
        half, the traced phase and another untraced half."""
        t0 = time.perf_counter()
        await phase(self.warm, WARMUP_S)
        self.setup["warmup_s"] = time.perf_counter() - t0
        self.probes["before"] = settle()
        self.setup_s = time.monotonic() - self.t_spawn
        for traced, secs in phase_plan(self.seconds, self.trace):
            if traced:
                self.command("trace on")
            rec = Recorder()
            c0, t1 = time.process_time(), time.perf_counter()
            await phase(rec, secs)
            rec.cpu, rec.wall = time.process_time() - c0, time.perf_counter() - t1
            if traced:
                self.trace_reply = self.command(f"trace off {self.run_dir}")
            self.phases.append((traced, rec))
        self.probes["after"] = settle()


def phase_plan(seconds: float, trace: bool) -> list[tuple[bool, float]]:
    """(traced, seconds) of each timed phase."""
    if trace:
        return [(False, seconds / 2), (True, seconds), (False, seconds / 2)]
    return [(False, seconds)]


def wire_figures(rec: Recorder) -> dict[str, float]:
    ops_s, rows_s = cycle_figures(rec, wire_loops(), export_classes())
    return {"stmts_per_s": ops_s, "rows_per_s": rows_s,
            "stmt_p50_ms": class_p50_ms(rec.lat, workloads.STATEMENT_CLASSES),
            "connect_p50_ms": statistics.median(rec.lat["connect"]) * 1e3}


def wire_diagnostics(rec: Recorder) -> dict:
    diag = {
        "samples": {k: len(v) for k, v in rec.lat.items()},
        "class_p50_ms": {k: statistics.median(v) * 1e3 for k, v in rec.lat.items()},
        "client_cpu_ms_per_op": rec.cpu * 1e3 / max(1, rec.ops),
        "client_cpu_share_pct": 100.0 * rec.cpu / rec.wall if rec.wall else 0.0,
        "ttfr_p50_ms": 0.0, "ingest_rows_per_s": 0.0,
    }
    ttfr = [t for k in export_classes() for t in rec.ttfr.get(k, ())]
    if ttfr:
        diag["ttfr_p50_ms"] = statistics.median(ttfr) * 1e3
    if rec.lat.get("upload"):
        diag["ingest_rows_per_s"] = workloads.UPLOAD_ROWS * len(rec.lat["upload"]) / sum(rec.lat["upload"])
    return diag


def wire_layers(ctx: RunContext, e2e: dict, untraced: Recorder, rss, hello: dict) -> dict:
    rec = next(r for traced, r in ctx.phases if traced)
    reply = ctx.trace_reply
    layers = span_layers(reply.get("self_s", {}), rec.ops)
    stmts = max(1, sum(len(rec.lat.get(k, ())) for k in ("short", "group", *export_classes())))
    for k in ("jobs", "stages", "tasks"):
        layers[f"engine.{k}_per_stmt"] = reply.get("spark", {}).get(k, 0) / stmts
    counters = reply.get("counters", {})
    layers["wire.packets_out"] = counters.get("wire.packets_out", 0) / max(1, rec.ops)
    layers["wire.bytes_out"] = counters.get("wire.bytes_out", 0) / max(1, rec.ops)
    if counters.get("compress.bytes_out"):
        layers["compress.ratio"] = counters["compress.bytes_in"] / counters["compress.bytes_out"]
    layers["trace.spans"] = reply.get("n_spans", 0)
    traced = wire_figures(rec)
    for k in TIMED_FIGURES:
        layers[f"trace.{k}_delta"] = traced[k] - e2e[k]
    diag = wire_diagnostics(untraced)
    layers["client.cpu_ms"] = diag["client_cpu_ms_per_op"]
    layers["client.cpu_share_pct"] = diag["client_cpu_share_pct"]
    layers["client.ttfr_p50_ms"] = diag["ttfr_p50_ms"]
    layers["client.ingest_rows_per_s"] = diag["ingest_rows_per_s"]
    layers["client.parse_rows_per_s"] = parse_rate(ctx.capture)
    layers["py.rss_mb"], layers["jvm.rss_mb"] = rss
    layers["session.boot_s"] = hello["boot_s"]
    layers["derived.build_s"] = hello["derived_s"]
    layers["verify_s"] = ctx.setup.get("verify_s", 0.0)
    layers["warmup_s"] = ctx.setup.get("warmup_s", 0.0)
    return layers


def span_layers(self_s: dict[str, float], ops: int) -> dict[str, float]:
    """Every per-layer metric, zero where unmeasured, with span self
    times turned into per-operation figures."""
    layers = {name: 0.0 for name in PER_LAYER}
    for span, secs in self_s.items():
        if span in SPAN_METRICS:
            metric, factor = SPAN_METRICS[span]
            layers[metric] = secs * factor / max(1, ops)
    return layers


def run_wire(args, run_dir: str, env: dict, children: list) -> dict:
    sf_dir = fixtures.ensure(os.path.join(WORK, "fixtures"), SF_WIRE)
    oracle = Oracle(sf_dir)
    log = open(os.path.join(run_dir, "serve.log"), "w")
    cmd = [sys.executable, os.path.join(HERE, "serve.py"), "--sf-dir", sf_dir]
    if args.trace:
        cmd.append("--trace")
    t_spawn = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, stderr=log, text=True)
    children.append(proc)
    try:
        line = proc.stdout.readline()
        if not line:
            raise RuntimeError("the serving process exited during start-up; see serve.log")
        hello = json.loads(line)
        ctx = RunContext(args, run_dir, proc, hello["port"], oracle, t_spawn)
        asyncio.run(wire_served(ctx))
        rss = tree_peak_rss(proc.pid)
    finally:
        stop(proc)
        log.close()
    untraced = Recorder()
    for traced, r in ctx.phases:
        if not traced:
            untraced.merge(r)
    e2e = wire_figures(untraced)
    e2e["setup_s"] = ctx.setup_s
    e2e["peak_rss_mb"] = rss[0] + rss[1]
    layers = wire_layers(ctx, e2e, untraced, rss, hello) if args.trace else {}
    recs = [ctx.verify, ctx.warm] + [r for _, r in ctx.phases]
    diag = dict(wire_diagnostics(untraced),
                problems=[p for r in recs for p in r.problems][:20],
                warmup_window_p50_ms=window_p50_ms(ctx.warm, workloads.STATEMENT_CLASSES),
                timed_window_p50_ms=window_p50_ms(untraced, workloads.STATEMENT_CLASSES),
                probes=ctx.probes, boot_s=hello["boot_s"], derived_s=hello["derived_s"],
                **ctx.setup)
    failed = sum(r.failed for r in recs)
    return {"e2e": e2e, "layers": layers, "attempted": sum(r.ops for r in recs),
            "failed": failed, "correct": failed == 0 and untraced.ops > 0, "diag": diag}


def stop(proc) -> None:
    """Ask a child to quit, then wait for it and its descendants (the
    JVM) to exit, killing what outlives the grace period."""
    kids = descendants(proc.pid)
    if proc.poll() is None:
        try:
            proc.stdin.write("quit\n")
            proc.stdin.flush()
        except (BrokenPipeError, ValueError):
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap(kids, 15)


# ---------------------------------------------------------------- registry_sweep

def run_registry(args, run_dir: str, env: dict, children: list) -> dict:
    sf_dir = fixtures.ensure(os.path.join(WORK, "fixtures"), SF_REGISTRY)
    cmd = [sys.executable, os.path.join(HERE, "sweep.py"), "--sf-dir", sf_dir,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--warmup-s", str(WARMUP_S)]
    if args.trace:
        cmd.append("--trace")
    log = open(os.path.join(run_dir, "sweep.log"), "w")
    t_spawn = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, stderr=log, text=True)
    children.append(proc)
    try:
        line = proc.stdout.readline()
        if not line:
            raise RuntimeError("the registry worker exited early; see sweep.log")
        out = json.loads(line)
        rss = tree_peak_rss(proc.pid)
    finally:
        stop(proc)
        log.close()
    qids = out["qids"]

    def figures(phases: list[dict]) -> dict[str, float]:
        rec = Recorder()
        for p in phases:
            for q in p["lat"]:
                rec.lat.setdefault(q, []).extend(p["lat"][q])
                rec.rows.setdefault(q, []).extend(p["rows"][q])
        ops_s, rows_s = cycle_figures(rec, [{"connect": 1, **{q: 1 for q in qids}}], qids)
        return {"stmts_per_s": ops_s, "stmt_p50_ms": class_p50_ms(rec.lat, qids),
                "rows_per_s": rows_s,
                "connect_p50_ms": statistics.median(rec.lat["connect"]) * 1e3}

    untraced = [p for p in out["phases"] if not p["traced"]]
    e2e = figures(untraced)
    e2e["setup_s"] = out["timed_start"] - t_spawn
    e2e["peak_rss_mb"] = rss[0] + rss[1]
    layers = {}
    if args.trace:
        tp = next(p for p in out["phases"] if p["traced"])
        ops = max(1, tp["ops"])
        layers = span_layers(tp["self_s"], ops)
        layers["queries.build_jobs"] = tp["build_jobs"] / ops
        for k in ("jobs", "stages", "tasks"):
            layers[f"engine.{k}_per_stmt"] = tp["spark"][k] / ops
        nodes = out["python_exec_nodes"]
        layers["engine.python_exec_nodes"] = sum(nodes.values()) / max(1, len(nodes))
        traced = figures([tp])
        for k in TIMED_FIGURES:
            layers[f"trace.{k}_delta"] = traced[k] - e2e[k]
        layers["trace.spans"] = tp["n_spans"]
        layers["py.rss_mb"], layers["jvm.rss_mb"] = rss
        layers["session.boot_s"] = out["boot_s"]
        layers["derived.build_s"] = out["derived_s"]
        layers["verify_s"] = out["verify_s"]
        layers["warmup_s"] = out["warmup_s"]
    attempted = out["verify_ops"] + out["warm"]["ops"] + sum(p["ops"] for p in out["phases"])
    failed = len(out["problems"]) + out["warm"]["failed"] + sum(p["failed"] for p in out["phases"])
    diag = {"qids": qids, "problems": out["problems"][:20],
            "probes": {"before": out["probes_before"], "after": out["probes_after"]},
            "samples": {q: sum(len(p["lat"][q]) for p in untraced) for q in ["connect"] + qids},
            "query_p50_ms": {q: statistics.median([x for p in untraced for x in p["lat"][q]]) * 1e3
                             for q in ["connect"] + qids},
            "peak_reset": out["peak_reset"],
            **{k: out[k] for k in ("boot_s", "verify_s", "warmup_s", "derived_s")}}
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed,
            "correct": failed == 0, "diag": diag}


# ---------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "tidb_gateway_spark"))
            and os.path.exists(os.path.join(ROOT, "bench.py"))):
        print("perfbench: run from the root of a tidb-gateway-spark checkout "
              "(tidb_gateway_spark/ and bench.py not found)", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("derived", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ, SPARK_GRAFT_DERIVED_DIR=os.path.join(run_dir, "derived"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               SPARK_GRAFT_CPUS=str(SPARK_CPUS), SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""))
    env.pop("SPARK_GRAFT_SF_DIR", None)
    children: list = []

    def overrun() -> None:
        print(f"perfbench: run exceeded {RUN_DEADLINE_S:.0f} s; stopping", file=sys.stderr)
        for proc in children:
            kids = descendants(proc.pid)
            proc.kill()
            proc.wait()
            reap(kids, 5)
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(RUN_DEADLINE_S, overrun)
    watchdog.daemon = True
    watchdog.start()
    try:
        if args.workload == "registry_sweep":
            out = run_registry(args, run_dir, env, children)
        else:
            out = run_wire(args, run_dir, env, children)
    finally:
        watchdog.cancel()
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(WORK, f"spans-{args.workload}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)
    diag = dict(out["diag"], workload=args.workload, seed=args.seed,
                settings={"SPARK_GRAFT_CPUS": SPARK_CPUS, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                          "clients": OLTP_CLIENTS + 1 if args.workload == "wire_served" else 1,
                          "warmup_s": WARMUP_S,
                          "sf": SF_REGISTRY if args.workload == "registry_sweep" else SF_WIRE})
    if args.trace:
        metrics = {k: {"value": out["layers"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": out["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": bool(out["correct"]), "attempted": int(out["attempted"]),
                      "failed": int(out["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
