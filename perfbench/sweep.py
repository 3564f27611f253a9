"""Worker process of the registry_sweep workload: one in-process caller
of the registry's public API, ``REGISTRY[qid].spark(spark, sf_dir)``
followed by ``.toArrow()``.

    python perfbench/sweep.py --sf-dir DIR --seed N --seconds S
                              --warmup-s W [--trace]

Set-up (session boot, a verification pass that compares every query
against its DuckDB oracle and builds derived artifacts on the way, then
warm-up passes) runs first; then whole passes over the query subset
until ``--seconds`` have elapsed.  Each pass starts with a "connect":
a new session (``spark.newSession()``, as the gateway opens one per
connection) and the subset's first query on it.  The result is one
JSON line on stdout; the process then waits for a line on stdin before
exiting, so the benchmark can read its peak RSS while it is still
alive.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from perfbench.tracing import Tracer, spark_job_counts  # noqa: E402

# Systematic sample of the registry: every REGISTRY_STRIDE-th query in
# registration order, starting with the first.  Registration order
# follows the query modules, so the sample spreads over all of them.
# The stride fits one cold pass plus the timed passes into the run
# budget; it is fixed by position, never by timing.
REGISTRY_STRIDE = 45
# Python-exec physical operators (the Arrow/pickle boundary crossings).
PYTHON_EXEC_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                     "FlatMapCoGroupsInPandas", "AggregateInPandas",
                     "WindowInPandas", "FlatMapGroupsInArrow")


def subset() -> list[str]:
    from tidb_gateway_spark.queries import REGISTRY
    return list(REGISTRY)[::REGISTRY_STRIDE]


def python_exec_nodes(df) -> int:
    from tidb_gateway_spark.plans.inspect import explain_formatted
    names = re.findall(r"^\(\d+\) (\w+)", explain_formatted(df), re.MULTILINE)
    return sum(1 for n in names if n in PYTHON_EXEC_NODES)


def digest(table) -> str:
    """Order-insensitive digest of an Arrow result: its rows under the
    FIXTURES.md canonicalization (tests/oracle_diff.py), sorted."""
    from oracle_diff import canonical_rows
    return hashlib.sha1(repr(canonical_rows(table.to_pandas())).encode()).hexdigest()


def verify(spark, sf_dir: str, qids: list[str], count_nodes: bool) -> tuple[dict, list, dict]:
    """Cold pass: build, collect and compare each query against its
    DuckDB oracle, then record the (rows, digest) of its Arrow result
    for the timed passes.  Returns expected results, problems, node
    counts."""
    import duckdb
    from oracle_diff import diff_report

    from tidb_gateway_spark.catalog import TABLES
    from tidb_gateway_spark.queries import REGISTRY

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    expected, problems, nodes = {}, [], {}
    for qid in qids:
        spec = REGISTRY[qid]
        try:
            df = spec.spark(spark, sf_dir)
            if count_nodes:
                nodes[qid] = python_exec_nodes(df)
            pdf = df.toPandas()
            if spec.oracle is not None:
                problems += diff_report(pdf, con.execute(spec.oracle).fetchdf(), qid)
            table = df.toArrow()
            expected[qid] = (table.num_rows, digest(table))
            if table.num_rows != len(pdf):
                problems.append(f"{qid}: toArrow gave {table.num_rows} rows, toPandas {len(pdf)}")
        except Exception as e:  # a failing query is a failed operation
            problems.append(f"{qid}: {type(e).__name__}: {str(e)[:300]}")
        spark.catalog.clearCache()
    con.close()
    return expected, problems, nodes


class Sweep:
    def __init__(self, spark, sf_dir: str, qids: list[str], expected: dict, rng):
        self.spark, self.sf_dir, self.qids = spark, sf_dir, qids
        self.expected, self.rng = expected, rng
        self.tracer: Tracer | None = None
        self.op_id = 0

    def one(self, qid: str, connect: bool = False) -> tuple[float, int, bool]:
        """Build + execute one query → (seconds, rows, correct).  With
        ``connect`` it runs on a new session, opened inside the timing."""
        from tidb_gateway_spark.queries import REGISTRY
        sc, tr = self.spark.sparkContext, self.tracer
        self.op_id += 1
        table = None
        t0 = time.perf_counter()
        try:
            if tr is not None:
                tr.new_statement()
                sc.setJobGroup(f"build-{self.op_id}", qid)
                spark = (tr.sync("server.session_attach", self.spark.newSession)()
                         if connect else self.spark)
                df = tr.sync("queries.build", REGISTRY[qid].spark)(spark, self.sf_dir)
                sc.setJobGroup(f"exec-{self.op_id}", qid)
                table = tr.sync("engine.exec", df.toArrow)()
            else:
                spark = self.spark.newSession() if connect else self.spark
                table = REGISTRY[qid].spark(spark, self.sf_dir).toArrow()
        except Exception as e:
            print(f"{qid}: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        finally:
            if tr is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
        dt = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        if table is None:
            return dt, 0, False
        return dt, table.num_rows, (table.num_rows, digest(table)) == self.expected.get(qid)

    def passes(self, seconds: float) -> dict:
        """Whole passes, each a connect and then every query in seeded
        order, until ``seconds`` have elapsed."""
        lat: dict[str, list[float]] = {q: [] for q in ["connect"] + self.qids}
        rows: dict[str, list[int]] = {q: [] for q in ["connect"] + self.qids}
        failed = ops = 0
        t_start = time.perf_counter()
        while True:
            steps = [("connect", self.qids[0])] + [
                (self.qids[int(i)],) * 2 for i in self.rng.permutation(len(self.qids))]
            for cls, qid in steps:
                dt, n, ok = self.one(qid, connect=cls == "connect")
                lat[cls].append(dt)
                rows[cls].append(n)
                ops += 1
                failed += not ok
            if time.perf_counter() - t_start >= seconds:
                break
        return {"lat": lat, "rows": rows, "ops": ops, "failed": failed,
                "wall": time.perf_counter() - t_start}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--warmup-s", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    import numpy as np

    from perfbench.host import settle
    from perfbench.run import phase_plan
    from tidb_gateway_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench-registry")
    boot_s = time.perf_counter() - t0
    qids = subset()
    t1 = time.perf_counter()
    expected, problems, nodes = verify(spark, args.sf_dir, qids, args.trace)
    verify_s = time.perf_counter() - t1
    # Peak RSS should not count the DuckDB oracle: reset this process's
    # high-water mark (Linux; the JVM's is its own).
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        peak_reset = True
    except OSError:
        peak_reset = False
    sweep = Sweep(spark, args.sf_dir, qids, expected, np.random.default_rng(args.seed))
    t2 = time.perf_counter()
    warm = sweep.passes(args.warmup_s)
    warmup_s = time.perf_counter() - t2
    probes = settle()
    phases = []
    timed_start = time.monotonic()
    for traced, secs in phase_plan(args.seconds, args.trace):
        sweep.tracer = Tracer() if traced else None
        if traced:
            sweep.tracer.enabled = True
        res = sweep.passes(secs)
        if traced:
            tr = sweep.tracer
            groups = [f"{k}-{i}" for i in range(1, sweep.op_id + 1) for k in ("build", "exec")]
            build = spark_job_counts(spark.sparkContext, groups[0::2], -1)
            execs = spark_job_counts(spark.sparkContext, groups[1::2], -1)
            res["self_s"] = tr.self_times()
            res["build_jobs"] = build["jobs"]
            res["spark"] = {k: build[k] + execs[k] for k in execs}
            res["n_spans"] = tr.dump(os.path.join(os.getcwd(), "spans.jsonl"))
        sweep.tracer = None
        phases.append({"traced": traced, **res})
    probes_after = settle()
    print(json.dumps({
        "timed_start": timed_start, "boot_s": boot_s, "verify_s": verify_s,
        "warmup_s": warmup_s,
        # cold-pass excess over its two warm executions of each query:
        # artifact builds, first-plan compilation and the oracle
        "derived_s": max(0.0, verify_s - 2 * sum(
            sum(warm["lat"][q]) / len(warm["lat"][q]) for q in qids)),
        "peak_reset": peak_reset,
        "problems": problems, "verify_ops": len(qids), "warm": warm,
        "phases": phases, "probes_before": probes, "probes_after": probes_after, "python_exec_nodes": nodes,
        "qids": qids}), flush=True)
    sys.stdin.readline()
    spark.stop()


if __name__ == "__main__":
    main()
