"""The TPC-H part of the ``batch`` workload: eight TPC-H-shaped queries in
series through ``registry.queries()`` over the generated star schema.

JVM-only work (scans, shuffles, joins; no Python UDF, no state) that loads
``tables``, ``queries`` and ``functions``.  Every query result is compared
with ``registry.oracle_sql()`` run in DuckDB over the same generated files.
"""

from __future__ import annotations

import datetime
import os
import sys
import time
from dataclasses import dataclass, field

QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q9_product_type_profit", "q10_returned_items", "q13_customer_distribution",
    "q18_large_volume_customer", "q21_waiting_orders",
)


@dataclass
class Result:
    named: dict = field(default_factory=dict)
    samples: list = field(default_factory=list)   # seconds per query
    recall: float = 0.0                           # share of oracle rows returned
    times: dict = field(default_factory=dict)     # query -> (build_s, exec_s)
    outputs: list = field(default_factory=list)   # [(query, rows, columns)]


def prepare(ctx) -> None:
    """The program's own set-up: load the query registry, and (traced)
    wrap ``tables.load_table`` where each query module calls it."""
    from flink_1_19_source_spark import registry, tables

    ctx.fns = registry.queries()
    for name, m in list(sys.modules.items()):
        if name.startswith("flink_1_19_source_spark.queries") and \
                getattr(m, "load_table", None) is tables.load_table:
            ctx.tracer.wrap(m, "load_table", "tables.load_table")


def measure(ctx) -> Result:
    """The eight queries in series, each timed from building its DataFrame
    to the last row collected."""
    from perfbench.run import geomean

    res = Result()
    times = res.times
    for q in QUERIES:
        t0 = time.perf_counter()
        with ctx.tracer.span(f"queries.build.{q}"):
            df = ctx.fns[q](ctx.spark, ctx.data)
        t1 = time.perf_counter()
        with ctx.tracer.span(f"queries.exec.{q}"):
            rows = df.collect()
        times[q] = (t1 - t0, time.perf_counter() - t1)
        res.outputs.append((q, rows, df.columns))
    res.samples = [sum(t) for t in times.values()]
    res.named = {"tpch.elapsed_s": (sum(res.samples), "s"),
                 "tpch.geomean_s": (geomean(res.samples), "s")}
    return res


def _canon(v):
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    return v


def _canon_rows(rows, columns) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


def oracle(data: str) -> dict[str, list[tuple]]:
    """Each query's DuckDB answer over the generated files."""
    import duckdb

    from flink_1_19_source_spark import registry
    from flink_1_19_source_spark.tables import TABLE_NAMES, table_path

    sql = registry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            path = table_path(data, t)
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        out = {}
        for q in QUERIES:
            rel = con.sql(sql[q])
            out[q] = _canon_rows(rel.fetchall(), rel.columns)
        return out
    finally:
        con.close()


def check(ctx, res: Result) -> tuple[int, int, list[str]]:
    """Every query execution is one operation; it fails if its rows differ
    from the oracle's."""
    want = oracle(ctx.data)
    failed = 0
    matched = total = 0
    for q, rows, cols in res.outputs:
        got = _canon_rows(rows, cols)
        total += len(want[q])
        if got == want[q]:
            matched += len(want[q])
        else:
            failed += 1
    res.recall = matched / max(total, 1)
    notes = ["rows per query: " + " ".join(f"{q}={len(want[q])}" for q in QUERIES)]
    return len(res.outputs), failed, notes


def layer_metrics(ctx, res: Result) -> dict:
    times = res.times
    out = {"queries.build_s": (sum(b for b, _ in times.values()), "s")}
    for q in QUERIES:
        out[f"queries.exec_s.{q}"] = (times[q][1], "s")
    return out
