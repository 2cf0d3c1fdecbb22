"""The headline query suite: thirteen entries of
``__spark_entry__.queries()`` over the fixed seed-42 test tables at sf 0.01
(a copy in ``testdata/``), each forced through a ``noop`` sink, each
checked against its ``__spark_entry__.oracle_sql()`` twin in DuckDB with
the hash ``scripts/check_correctness.py`` uses.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.01")

# name -> the layer the entry's work lands in (per-layer span grouping)
HEADLINE = {
    "q1_pricing_summary": "session.sql",
    "q3_segment_revenue": "session.sql",
    "q5_region_volume": "session.sql",
    "top_orders_per_segment": "session.sql",
    "events_hourly": "session.sql",
    "events_json": "session.sql",
    "cdc_lww_events": "cdc.apply.query",
    "dedup_exact_documents": "operators.dedup",
    "minhash_near_dup": "operators.dedup",
    "simhash_near_dup": "operators.dedup",
    "doc_token_stats": "operators.text",
    "knn_brute": "operators.similarity",
    "embedding_near_dup": "operators.similarity",
}


def run_pass(spark, tracer=None, walls: dict | None = None) -> float:
    """Run the thirteen entries once through a noop sink; total seconds."""
    import __spark_entry__ as entry

    qs, total = entry.queries(), 0.0
    for name, layer in HEADLINE.items():
        t0 = time.perf_counter()
        with tracer.span(layer, jobs=True) if tracer else nullcontext():
            qs[name](spark, DATA).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        total += dt
        if walls is not None:
            walls.setdefault(name, []).append(dt)
    return total


def check(spark, bench) -> None:
    """Every entry's rows against its DuckDB oracle, by hash."""
    import duckdb
    from check_correctness import TABLES, _hash_rows

    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{DATA}/{t}.parquet')")
        for name in HEADLINE:
            df = qs[name](spark, DATA)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            cur = con.execute(oracles[name])
            ocols, orows = [d[0] for d in cur.description], cur.fetchall()
            bench.check(f"query {name}",
                        sorted(cols) == sorted(ocols) and len(rows) == len(orows)
                        and _hash_rows(cols, rows) == _hash_rows(ocols, orows),
                        f"{len(rows)} rows vs oracle {len(orows)}")
    finally:
        con.close()
