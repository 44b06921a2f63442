"""curation: declared curation queries, the second part of ``batch``.

Each query of MIX runs once, in a fixed order, one ``collect()`` each, with
the cache cleared between queries; the next query starts when the previous
one has returned. The mix runs after the nightly part in the same session,
so the JVM and the Python workers are warm, but each query's plan is new:
the pass pays each query's planning, code generation and job set-up once,
which is the per-query driver overhead this part is meant to show. A warm
pass takes about half as long; a warm-up pass over the mix would not fit a
run. The inputs are seeded ``documents``, ``embeddings`` and ``customer``
tables written in set-up. The result of every query is checked against its
DuckDB oracle from ``__spark_entry__.oracle_sql()`` on the same files, by
row count, column names and an order-insensitive value hash.
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow.parquet as pq

import gen
from run import CURATION_MIX as MIX
from run import ROOT

TABLE_ROWS = {"documents": 600, "embeddings": 500, "customer": 1_500}


def _queries():
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    qs = entry.queries()
    return {q: qs[q] for q in MIX}, entry.oracle_sql()


def run(ctx, state) -> dict[str, float]:
    """One pass over the mix; returns each query's wall."""
    spark, state["results"] = ctx.spark, []
    for name, fn in state["queries"].items():
        t = time.perf_counter()
        with ctx.tracer.span(f"queries.{name}", trace_id="mix"):
            df = fn(spark, state["dir"])
            rows = df.collect()
        wall = time.perf_counter() - t
        state["results"].append({"query": name, "wall": wall, "columns": df.columns, "rows": rows})
        spark.catalog.clearCache()
    return {r["query"]: r["wall"] for r in state["results"]}


def setup(ctx):
    d = os.path.join(ctx.work, "tables")
    os.makedirs(d)
    for name, table in gen.curation_tables(ctx.seed, TABLE_ROWS["documents"], TABLE_ROWS["embeddings"],
                                           TABLE_ROWS["customer"]).items():
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))
    ctx.sizes = {"queries": len(MIX), **{f"{k}_rows": v for k, v in TABLE_ROWS.items()}}
    queries, oracles = _queries()
    return {"dir": d, "queries": queries, "oracles": oracles}


def _oracle(con, sql: str):
    """(column names, row count, value hash, type leaks) of one DuckDB oracle;
    a HUGEINT or DECIMAL output column would split the hash from Spark's."""
    from tools.check_oracle import value_hash

    rel = con.sql(sql)
    cols = [c[0] for c in rel.description]
    rows = [dict(zip(cols, row)) for row in rel.fetchall()]
    types = con.sql(f"SELECT * FROM ({sql}) LIMIT 0").types
    leaks = [c for c, t in zip(cols, types) if "HUGEINT" in str(t) or "DECIMAL" in str(t)]
    return sorted(cols), len(rows), value_hash(rows), leaks


def check(ctx, state):
    """Every query's result against its DuckDB oracle, as
    tools/check_oracle.py compares them."""
    import duckdb

    from tools.check_oracle import value_hash

    con = duckdb.connect()
    for t in TABLE_ROWS:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{state['dir']}/{t}.parquet'")
    oracles = {q: _oracle(con, state["oracles"][q]) for q in MIX}
    con.close()
    failed, notes, attempted = 0, [], 0
    for res in state["results"]:
        attempted += 1
        cols, n, h, leaks = oracles[res["query"]]
        srows = [r.asDict() for r in res["rows"]]
        if leaks or cols != sorted(res["columns"]) or n != len(srows) or h != value_hash(srows):
            failed += 1
            notes.append(f"{res['query']}: {len(srows)} rows differ from the DuckDB oracle's {n}"
                         f"{f' (oracle type leak in {leaks})' if leaks else ''}")
    notes.append(f"{attempted - failed}/{attempted} query results equal their DuckDB oracle")
    return attempted, failed, notes


def layers(ctx, state, groups, covered):
    out = {}
    for q in MIX:
        (span,) = ctx.tracer.named(f"queries.{q}")
        g = groups.get(span.span_id)
        inside = covered(g.intervals, span.start, span.end) if g else 0.0
        out[f"queries.{q}.wall_s"] = span.seconds
        out[f"queries.{q}.outside_jobs_s"] = span.seconds - inside
        out[f"queries.{q}.jobs"] = g.jobs if g else 0
        out[f"queries.{q}.executor_run_s"] = g.executor_run_s if g else 0.0
        out[f"queries.{q}.shuffle_bytes"] = g.shuffle_bytes if g else 0
    return out
