"""The ``driverq`` layer: bench.py's HEADLINE SQL leaves over the seed's
relational tables. Each leaf is planned (analysis, optimization and physical
planning, forced through the query execution's executed plan), then
executed into the ``noop`` sink. An untimed pass compares every leaf's rows
with its DuckDB twin."""

from __future__ import annotations

import os
import time

TABLES = ("documents", "embeddings", "events", "part", "orders")


def _norm(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(r[i] for i in order) for r in rows)


def run(spark, sf_dir: str, leaves: list[str], timed) -> dict:
    import duckdb

    from pageindex_spark.driverq import paired_sql, register_views

    metrics: dict[str, float] = {}
    _, metrics["driverq.register_views_s"] = timed("sql.register_views", register_views, spark, sf_dir)
    pairs = paired_sql()
    suite = 0.0
    for leaf in leaves:
        t0 = time.perf_counter()
        df = spark.sql(pairs[leaf][0])
        df._jdf.queryExecution().executedPlan()
        plan_s = time.perf_counter() - t0
        _, exec_s = timed(f"sql.{leaf}", df.write.format("noop").mode("overwrite").save)
        metrics[f"sql.{leaf}.plan_ms"] = plan_s * 1000
        metrics[f"sql.{leaf}.exec_ms"] = exec_s * 1000
        suite += plan_s + exec_s
    metrics["sql.suite_s"] = suite

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"create view {t} as select * from read_parquet('{path}')")
        mismatches = []
        for leaf in leaves:
            sdf = spark.sql(pairs[leaf][0])
            scols = [c.lower() for c in sdf.columns]
            srows = [tuple(r) for r in sdf.collect()]
            cur = con.execute(pairs[leaf][1])
            dcols = [c[0].lower() for c in cur.description]
            if sorted(scols) != sorted(dcols) or _norm(scols, srows) != _norm(dcols, cur.fetchall()):
                mismatches.append(leaf)
    finally:
        con.close()
    return {
        "metrics": metrics,
        "attempted": len(leaves),
        "failed": len(mismatches),
        "mismatches": mismatches,
    }
