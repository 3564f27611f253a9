"""Checks of the benchmark's own client.

    python -m pytest perfbench/ -q

* the lean parser counts the same rows as the tests' ``MiniClient``
  decode, for text, binary, cursor and compressed result streams;
* fed a captured export from memory, the lean parser is at least ten
  times faster than the gateway serves the same export, so a faster
  encoder shows up end to end instead of hitting the client.
"""

from __future__ import annotations

import asyncio
import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from perfbench import fixtures, workloads  # noqa: E402
from perfbench.run import parse_rate  # noqa: E402
from perfbench.wireclient import Connection  # noqa: E402

LO, HI = 100, 1100          # l_orderkey range: about 4k rows at sf0.01


@pytest.fixture(scope="module")
def served(tmp_path_factory):
    """(spark, sf_dir) with derived artifacts kept under a temp dir."""
    tmp = tmp_path_factory.mktemp("perfbench")
    old = os.environ.get("SPARK_GRAFT_DERIVED_DIR")
    os.environ["SPARK_GRAFT_DERIVED_DIR"] = str(tmp / "derived")
    from tidb_gateway_spark.session import get_spark
    spark = get_spark("perfbench-tests", cpus=2)
    yield spark, fixtures.ensure(str(tmp / "fixtures"), 0.01)
    if old is None:
        os.environ.pop("SPARK_GRAFT_DERIVED_DIR", None)
    else:
        os.environ["SPARK_GRAFT_DERIVED_DIR"] = old


def with_gateway(served, scenario):
    from tidb_gateway_spark.gateway.server import Gateway

    spark, sf_dir = served

    async def go():
        gw = Gateway(spark, {"bench": sf_dir}, default_cluster=sf_dir, port=0)
        await gw.start()
        try:
            return await asyncio.wait_for(scenario(gw.bound_port), timeout=300)
        finally:
            await gw.stop()

    return asyncio.run(go())


def export_sql() -> str:
    return workloads.EXPORT_BY_RANGE.replace("?", str(LO), 1).replace("?", str(HI), 1)


def test_lean_row_counts_match_miniclient_decode(served):
    from test_gateway_e2e import MiniClient

    async def scenario(port):
        counts = {}
        mini = MiniClient("127.0.0.1", port)
        await mini.connect("bench.user")
        counts["text"] = [len((await mini.query(export_sql()))[0][1])]
        stmt_id, _ = await mini.stmt_prepare(workloads.EXPORT_BY_RANGE)
        counts["binary"] = [len((await mini.stmt_execute(stmt_id, [LO, HI]))[1])]
        cols, _ = await mini.stmt_execute_cursor(stmt_id, [LO, HI])
        n = 0
        while True:
            rows, status = await mini.stmt_fetch(stmt_id, 1000, cols)
            n += len(rows)
            if status & 0x80:
                break
        counts["cursor"] = [n]
        await mini.quit()
        packed = MiniClient("127.0.0.1", port)
        await packed.connect("bench.user", compress=True)
        mini_text = (await packed.query(export_sql()))[0][1]
        counts["compressed"] = [len(mini_text)]
        await packed.quit()

        lean = Connection()
        await lean.open("127.0.0.1", port, "bench.user")
        counts["text"].append((await lean.query(export_sql())).rows)
        full = await lean.query(export_sql(), lean=False)
        lean_id, _ = await lean.prepare(workloads.EXPORT_BY_RANGE)
        counts["binary"].append((await lean.execute(lean_id, [LO, HI])).rows)
        counts["cursor"].append((await lean.execute(lean_id, [LO, HI], cursor=True,
                                                     fetch_rows=1000)).rows)
        await lean.close()
        lean_packed = Connection()
        await lean_packed.open("127.0.0.1", port, "bench.user", compress=True)
        counts["compressed"].append((await lean_packed.query(export_sql())).rows)
        await lean_packed.close()
        return counts, full, mini_text

    counts, full, mini_text = with_gateway(served, scenario)
    for kind, (mini_n, lean_n) in counts.items():
        assert mini_n == lean_n > 1000, (kind, mini_n, lean_n)
    assert sorted(map(tuple, mini_text)) == sorted(full.data)


def test_parser_outruns_the_served_export(served):
    async def scenario(port):
        conn = Connection()
        await conn.open("127.0.0.1", port, "bench.user")
        await conn.query(export_sql())                 # warm the plan
        conn.fb.capture = []
        t0 = time.perf_counter()
        res = await conn.query(export_sql())
        served_rate = res.rows / (time.perf_counter() - t0)
        capture = b"".join(conn.fb.capture)
        await conn.close()
        return served_rate, capture

    served_rate, capture = with_gateway(served, scenario)
    assert parse_rate(capture) >= 10 * served_rate
