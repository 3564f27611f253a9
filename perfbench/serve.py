"""Serving process for the wire workloads: one gateway, driven by
the benchmark's client over TCP and controlled over stdin.

    python perfbench/serve.py --sf-dir DIR [--trace]

Start-up prints one JSON line ``{"port": ..., "boot_s": ...,
"derived_s": ...}`` on stdout.  Each later stdin line is a command and
gets one JSON line back:

* ``trace on``  – install the span wrappers (only with ``--trace``);
* ``trace off DIR`` – remove them, write the spans to DIR and reply
  with per-layer totals;
* ``quit``      – stop the gateway and exit.

Spark's own logging goes to stderr, which the benchmark sends to a
file, so stdout carries only these replies.
"""

from __future__ import annotations

import argparse
import asyncio
import contextvars
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracing import (Patcher, Tracer, TracingExecutor,  # noqa: E402
                               max_job_id, spark_job_counts)


class GatewayTrace:
    """Span wrappers around the gateway's layers, installed for a traced
    phase and removed after it."""

    def __init__(self, gw):
        self.gw = gw
        self.tracer = Tracer()
        self.patcher = Patcher()
        self.saved_executor = None
        self.job_mark = -1
        self.active = contextvars.ContextVar("active", default=False)

    def _groups(self) -> list[str]:
        # Read the gateway's connection counter without advancing it.
        issued = int(repr(self.gw.conn_ids)[len("count("):-1])
        return [f"conn-{i}" for i in range(1, issued)]

    def on(self) -> None:
        import zlib

        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame

        import tidb_gateway_spark.session as session_mod
        from tidb_gateway_spark import catalog
        from tidb_gateway_spark.gateway import (auth, compress, dialect, packets,
                                                prepared, result_encoder, router, wire)

        tr, p = self.tracer, self.patcher
        tr.reset()
        self.job_mark = max_job_id(self.gw.spark.sparkContext, self._groups())
        active = self.active

        def statement_start(name, fn):
            def start(*args, **kwargs):
                tr.new_statement()
                active.set(True)
                return fn(*args, **kwargs)
            return tr.sync(name, start)

        p.set(dialect, "classify", statement_start("dialect.rewrite", dialect.classify))
        p.set(dialect, "to_spark_sql", tr.sync("dialect.rewrite", dialect.to_spark_sql))
        p.set(prepared, "decode_execute_params",
              statement_start("prepared.bind", prepared.decode_execute_params))
        p.set(prepared, "count_placeholders",
              statement_start("prepared.bind", prepared.count_placeholders))
        p.set(prepared, "bind", tr.sync("prepared.bind", prepared.bind))
        p.set(prepared, "encode_binary_row",
              tr.sync("prepared.encode", prepared.encode_binary_row))
        read = packets.HandshakeResponse.__dict__["read"].__func__
        p.set(packets.HandshakeResponse, "read",
              classmethod(tr.sync("server.handshake", read)))
        p.set(router.Router, "route", tr.sync("server.handshake", router.Router.route))
        p.set(auth.Authenticator, "check",
              tr.sync("server.handshake", auth.Authenticator.check))
        p.set(SparkSession, "newSession",
              tr.sync("server.session_attach", SparkSession.newSession))
        p.set(session_mod, "ensure_session_confs",
              tr.sync("server.session_attach", session_mod.ensure_session_confs))
        p.set(catalog, "register_views", tr.sync("catalog.register_views",
                                                 catalog.register_views))
        p.set(SparkSession, "sql", tr.sync("engine.analyze", SparkSession.sql))
        p.set(SparkSession, "createDataFrame",
              tr.sync("engine.create_df", SparkSession.createDataFrame))

        to_iter = DataFrame.toLocalIterator

        start_iter = tr.sync("engine.first_row", to_iter)

        def local_iterator(df, *args, **kwargs):
            it = start_iter(df, *args, **kwargs)
            return tr.iterator("engine.first_row", "engine.fetch", it)

        p.set(DataFrame, "toLocalIterator", local_iterator)
        for fname in ("resultset_payloads", "binary_resultset_payloads"):
            orig = getattr(result_encoder, fname)

            def payloads(*args, _orig=orig, **kwargs):
                return tr.generator("result_encoder.encode", _orig(*args, **kwargs))

            p.set(result_encoder, fname, payloads)
        write = wire.PacketIO.write_packet

        def write_packet(pio, payload):
            tr.count("wire.packets_out", 1)
            tr.count("wire.bytes_out", len(payload) + 4)
            return write(pio, payload)

        p.set(wire.PacketIO, "write_packet", tr.sync("wire.write", write_packet))
        p.set(wire.PacketIO, "read_packet",
              tr.leaf_async("wire.read", wire.PacketIO.read_packet, active.get))
        reset = wire.PacketIO.reset_seq

        def reset_seq(pio):
            active.set(False)
            return reset(pio)

        p.set(wire.PacketIO, "reset_seq", reset_seq)

        def deflate(data, *args):
            out = zlib.compress(data, *args)
            tr.count("compress.bytes_in", len(data))
            tr.count("compress.bytes_out", len(out))
            return out

        shim = type("zlib_shim", (), {"compress": staticmethod(tr.sync("compress.deflate", deflate)),
                                      "decompress": staticmethod(zlib.decompress)})
        p.set(compress, "zlib", shim)
        self.saved_executor = self.gw.executor
        self.gw.executor = TracingExecutor(tr, self.saved_executor._max_workers)
        tr.enabled = True

    def off(self, out_dir: str) -> dict:
        tr = self.tracer
        tr.enabled = False
        self.patcher.restore()
        traced_executor, self.gw.executor = self.gw.executor, self.saved_executor
        traced_executor.shutdown(wait=False)
        n_spans = tr.dump(os.path.join(out_dir, "spans.jsonl"))
        counts = spark_job_counts(self.gw.spark.sparkContext, self._groups(), self.job_mark)
        return {"self_s": tr.self_times(), "counters": dict(tr.counters),
                "spark": counts, "n_spans": n_spans}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    t0 = time.perf_counter()
    from tidb_gateway_spark.session import get_spark
    spark = get_spark("perfbench-gateway")
    boot_s = time.perf_counter() - t0

    # Derived artifacts (the shredded JSON companion) are built on the
    # first view registration; do it here so set-up owns the build.
    t1 = time.perf_counter()
    from tidb_gateway_spark.catalog import register_views
    register_views(spark.newSession(), args.sf_dir)
    derived_s = time.perf_counter() - t1

    from tidb_gateway_spark.gateway.server import Gateway

    async def run() -> None:
        gw = Gateway(spark, {"bench": args.sf_dir}, default_cluster=args.sf_dir,
                     host="127.0.0.1", port=0)
        await gw.start()
        loop = asyncio.get_running_loop()
        commands: asyncio.Queue = asyncio.Queue()

        def read_stdin() -> None:
            for line in sys.stdin:
                loop.call_soon_threadsafe(commands.put_nowait, line.strip())
            loop.call_soon_threadsafe(commands.put_nowait, "quit")

        threading.Thread(target=read_stdin, daemon=True).start()
        print(json.dumps({"port": gw.bound_port, "boot_s": boot_s,
                          "derived_s": derived_s}), flush=True)
        trace = GatewayTrace(gw) if args.trace else None
        while True:
            cmd = await commands.get()
            if cmd == "quit":
                break
            if cmd == "trace on" and trace is not None:
                trace.on()
                reply = {"ok": True}
            elif cmd.startswith("trace off ") and trace is not None:
                reply = trace.off(cmd[len("trace off "):])
            else:
                reply = {"error": f"unknown command {cmd!r}"}
            print(json.dumps(reply), flush=True)
        await gw.stop(drain_timeout=5.0)
        gw.executor.shutdown(wait=False)

    asyncio.run(run())
    spark.stop()


if __name__ == "__main__":
    main()
