"""Local differential checker mimicking the driver's t2 gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir with :func:`mismatch`: row count, column names
(not types), and exact values (order-insensitive). Reports per-query
PASS/FAIL with diffs.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

from nyc_opendata_etl_spark.queries import oracle_sql, queries  # noqa: E402
from nyc_opendata_etl_spark.session import get_spark  # noqa: E402
from nyc_opendata_etl_spark.sources.tables import TABLES  # noqa: E402


def _canon_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def _canon_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_cell(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, x or "") for x in t))
    return out


def mismatch(con, oracle_sql: str, df) -> str | None:
    """The driver's compare of Spark DataFrame ``df`` against DuckDB
    ``oracle_sql`` on ``con``: row count, column names, then canonical
    values (order-insensitive). Returns what differs, or None."""
    spark_rows = [tuple(r) for r in df.collect()]
    res = con.execute(oracle_sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if len(spark_rows) != len(duck_rows):
        return f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}"
    if sorted(df.columns) != sorted(duck_cols):
        return f"cols spark={sorted(df.columns)} duck={sorted(duck_cols)}"
    a = _canon_rows(df.columns, spark_rows)
    b = _canon_rows(duck_cols, duck_rows)
    if a == b:
        return None
    diffs = [(x, y) for x, y in zip(a, b) if x != y]
    only_a = [r for r in a if r not in set(b)][:2]
    only_b = [r for r in b if r not in set(a)][:2]
    return (
        f"values differ ({len(diffs)} rows); first: {diffs[0]}; "
        f"spark-only={only_a} duck-only={only_b}"
    )


def connect(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("check-correctness")
    con = connect(sf_dir)
    qs = queries()
    oracles = oracle_sql()
    failures = []
    # a typo'd name in a recheck list must not report a clean gate
    unknown = sorted(only - set(qs))
    for name in unknown:
        print(f"FAIL {name}: not a registered query")
        failures.append(name)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if name not in oracles:
                print(f"ok   {name}: rows-only ({len(sdf.collect())} rows, "
                      f"{time.time()-t0:.1f}s)")
                continue
            problem = mismatch(con, oracles[name], sdf)
        except Exception as e:  # noqa: BLE001
            problem = f"{type(e).__name__}: {e}"
        if problem:
            print(f"FAIL {name}: {problem}")
            failures.append(name)
        else:
            print(f"PASS {name} ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
