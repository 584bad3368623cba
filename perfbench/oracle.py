"""Per-run correctness: every timed query against its DuckDB twin.

Runs outside the timed passes, on the same generated inputs, with the
comparison of ``tools/check_oracle.py`` (row count, column names and an
order-insensitive multiset of normalized rows).
"""

from __future__ import annotations

import os
import sys

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
]


def _normalizers():
    # check_oracle.py prepends a fixed checkout path to sys.path on
    # import; keep this process's path as it was.
    saved = list(sys.path)
    try:
        from tools.check_oracle import rows_to_multiset
    finally:
        sys.path[:] = saved
    return rows_to_multiset


def check(spark, queries, oracles, names, data_dir: str, threads: int) -> dict[str, str]:
    """Return ``{query: "ok" | reason}`` for every name."""
    import duckdb

    from wikipedia_data_pipeline_spark.operators import ranks

    rows_to_multiset = _normalizers()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {n: _check_one(spark, queries[n], oracles.get(n), con, data_dir,
                              rows_to_multiset, ranks) for n in names}
    finally:
        con.close()


def _check_one(spark, fn, sql, con, data_dir, rows_to_multiset, ranks) -> str:
    if sql is None:
        return "no oracle"
    try:
        sdf = fn(spark, data_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # a failing query is a result, not a crash
        return f"spark error: {str(e).splitlines()[0][:200]}"
    finally:
        ranks.unpersist_all()
    try:
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as e:
        return f"duckdb error: {str(e).splitlines()[0][:200]}"
    if sorted(scols) != sorted(ocols):
        return f"columns differ: spark={scols} duckdb={ocols}"
    if len(srows) != len(orows):
        return f"row count differs: spark={len(srows)} duckdb={len(orows)}"
    if rows_to_multiset(scols, srows) != rows_to_multiset(ocols, orows):
        return "values differ"
    return "ok"
