"""Seeded statement sets for the wire workload.

Every statement is written twice: in the MySQL dialect the gateway
receives, and as DuckDB SQL over the same parquet files for the
verification pass.  The seed picks keys, ranges and order; the fixture
data stays fixed.  Keys are drawn from the sf0.1 fixture's key ranges,
and every template returns the same number of rows for any key, so the
seed moves no row count.
"""

from __future__ import annotations

import csv
import io
from dataclasses import dataclass

import numpy as np

N_ORDERS = 150_000

EXPORT_KINDS = ("text", "binary", "cursor", "compressed")
# Cycles, shuffled per client.  The OLTP clients reconnect after every
# cycle.  The one bulk client keeps its connections and exports over
# each protocol in turn; with one exporter, exports never queue behind
# each other in the gateway, so the export rate does not depend on how
# the clients' cycles happen to line up.
OLTP_CYCLE = ["lookup", "lookup", "exec", "exec", "group", "group", "set", "sysvar"]
BULK_CYCLE = [f"export_{k}" for k in EXPORT_KINDS] + ["upload"]
POOL = 2                 # distinct statements per template
# Latency classes: each percentile is taken within one class only.
# Text lookups and prepared EXECUTEs share the "short" class; their
# latencies are within the benchmark's bounds of each other.  Each
# export protocol is a class of its own, "export_<protocol>".
CLASS_OF = {"lookup": "short", "exec": "short", "group": "group",
            "upload": "upload", "set": "set", "sysvar": "sysvar", "connect": "connect"}
# Spark-backed statements on established connections: the classes of
# stmt_p50_ms.  Exports and uploads show in rows_per_s and stmts_per_s.
STATEMENT_CLASSES = ("short", "group")

LOOKUP = ("SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, {due} AS due "
          "FROM lineitem WHERE l_orderkey BETWEEN {k} AND {k2} "
          "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice "
          "LIMIT {limit}")
PREPARED_LOOKUP = ("SELECT l_orderkey, l_linenumber, l_partkey, l_discount, l_tax "
                   "FROM lineitem WHERE l_orderkey BETWEEN ? AND ? "
                   "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, "
                   "l_extendedprice LIMIT 5")
GROUP = ("SELECT {y} AS y, COUNT(*) AS n, {concat} AS statuses FROM orders "
         "WHERE o_orderkey BETWEEN {k} AND {k2} GROUP BY {y} ORDER BY y")

# Exports: about EXPORT_ORDERS * 4 lineitem rows with decimals, dates,
# timestamps, strings and NULLs; sized so that row transfer, not
# planning, takes most of an export's latency.
EXPORT_ORDERS = 2500
EXPORT_COLUMNS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
    "CAST(l_extendedprice AS DECIMAL(12,2)) AS l_price, "
    "CAST(l_shipdate AS DATE) AS l_shipday, l_returnflag, l_linestatus, "
    "NULLIF(l_discount, 0) AS l_discount_nz, l_shipdate")
EXPORT_BY_RANGE = f"SELECT {EXPORT_COLUMNS} FROM lineitem WHERE l_orderkey >= ? AND l_orderkey < ?"
UPLOAD_ROWS = 2000


@dataclass(frozen=True)
class Stmt:
    key: str
    kind: str
    sql: str                  # gateway dialect; for EXECUTE the prepared text
    oracle: str | None        # DuckDB SQL; None for locally answered statements
    params: tuple = ()        # EXECUTE parameters
    set_columns: tuple = ()   # GROUP_CONCAT columns, compared as multisets


def statements(rng: np.random.Generator) -> dict[str, list[Stmt]]:
    """The run's statement pool: POOL per template, one export per
    protocol, and the locally answered session statements."""
    pool: dict[str, list[Stmt]] = {"lookup": [], "exec": [], "group": []}
    for i in range(POOL):
        k = int(rng.integers(0, N_ORDERS - 300))
        pool["lookup"].append(Stmt(
            f"lookup{i}", "lookup",
            LOOKUP.format(due="DATE_ADD(l_shipdate, INTERVAL 30 DAY)", k=k, k2=k + 2,
                          limit="1, 5"),
            LOOKUP.format(due="l_shipdate + INTERVAL 30 DAY", k=k, k2=k + 2,
                          limit="5 OFFSET 1")))
        ke = k + 50
        pool["exec"].append(Stmt(
            f"exec{i}", "exec", PREPARED_LOOKUP,
            PREPARED_LOOKUP.replace("?", str(ke), 1).replace("?", str(ke + 2), 1),
            params=(ke, ke + 2)))
        kg = k + 100
        pool["group"].append(Stmt(
            f"group{i}", "group",
            GROUP.format(y="DATE_FORMAT(o_orderdate, '%Y')",
                         concat="GROUP_CONCAT(o_orderstatus)", k=kg, k2=kg + 199),
            GROUP.format(y="strftime(o_orderdate, '%Y')",
                         concat="string_agg(o_orderstatus, ',')", k=kg, k2=kg + 199),
            set_columns=("statuses",)))
    for kind in EXPORT_KINDS:
        lo = int(rng.integers(0, N_ORDERS - EXPORT_ORDERS))
        hi = lo + EXPORT_ORDERS
        sql = f"SELECT {EXPORT_COLUMNS} FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {hi}"
        pool[f"export_{kind}"] = [Stmt(
            f"export_{kind}", "export",
            EXPORT_BY_RANGE if kind in ("binary", "cursor") else sql, sql, params=(lo, hi))]
    pool["set"] = [Stmt("set", "set", "SET NAMES utf8mb4", None)]
    pool["sysvar"] = [Stmt("sysvar", "sysvar", "SELECT @@version_comment", None)]
    return pool


def client_cycle(rng: np.random.Generator, pool: dict[str, list[Stmt]],
                 template: list[str]) -> list[Stmt | str]:
    """One client's cycle: ``template`` shuffled, each slot bound to a
    pool statement (``"upload"`` is a LOAD DATA of the fixed CSV)."""
    kinds = list(template)
    rng.shuffle(kinds)
    return ["upload" if k == "upload" else pool[k][int(rng.integers(0, len(pool[k])))]
            for k in kinds]


def upload_csv() -> tuple[bytes, int]:
    """The fixed LOAD DATA payload and the sum of its first column."""
    rng = np.random.default_rng(7)
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    total = 0
    for i in range(UPLOAD_ROWS):
        k = int(rng.integers(0, 10**6))
        total += k
        w.writerow([k, i % 7 + 1, f"{rng.uniform(1, 1e5):.2f}",
                    "ANR"[i % 3], f"199{i % 8}-0{i % 9 + 1}-1{i % 10}", f"note {i}"])
    return buf.getvalue().encode(), total
