"""Output check of the query_mix workload, run as a child process so that
DuckDB and the compared rows never count in the benchmark's memory.

    python3 perfbench/oracle.py DATA_DIR < results

Standard input holds pickled ``(name, columns, rows)`` records of Spark
results; they are read to the end before DuckDB starts, so the check
takes no CPU from the Spark pass that streams them. Each is then compared
with its ``oracle_sql()`` twin run on DuckDB the way
``tools/check_correctness.py`` compares them: same column names, same row
count, same rows in canonical form. The last line of standard output
is one JSON object mapping each query to null (pass) or why it failed.
"""

from __future__ import annotations

import json
import pickle
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def verdict(con, sql: str | None, cols: list[str], rows: list[tuple]) -> str | None:
    from check_correctness import canon

    if sql is None:
        return None  # a query without an oracle is checked by running it
    try:
        cur = con.execute(sql)
        want_cols, want = [d[0] for d in cur.description], cur.fetchall()
    except Exception as exc:  # noqa: BLE001 — a failing oracle fails the check
        return f"oracle error {type(exc).__name__}: {str(exc)[:200]}"
    if sorted(cols) != sorted(want_cols):
        return f"columns {sorted(cols)} != {sorted(want_cols)}"
    if len(rows) != len(want):
        return f"rows {len(rows)} != {len(want)}"
    if canon(rows, cols) != canon(want, want_cols):
        return "values differ"
    return None


def main(data: str) -> int:
    sys.path[:0] = [str(ROOT / "tools"), str(ROOT)]
    records = []
    while True:
        try:
            records.append(pickle.load(sys.stdin.buffer))
        except EOFError:
            break
    import duckdb
    from check_correctness import TABLES

    from deep_query_optimization_spark.workload import oracle_sql

    oracles = oracle_sql()
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data}/{name}.parquet')")
    out = {name: verdict(con, oracles.get(name), cols, rows) for name, cols, rows in records}
    con.close()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
