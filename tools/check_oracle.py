"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at the given sf_dir on Spark, the matching
``oracle_sql()`` on DuckDB, and compares row count, column names, and an
order-insensitive value hash. Usage:

    PYTHONPATH=/root/repo python tools/check_oracle.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from trianglecount_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(srows)} rows  ({spark_s:.1f}s)")
            continue
        t0 = time.time()
        res = con.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        duck_s = time.time() - t0
        ok_n = len(srows) == len(orows)
        ok_c = sorted(c.lower() for c in scols) == sorted(c.lower() for c in ocols)
        ok_h = value_hash(scols, srows) == value_hash(ocols, orows)
        status = "OK " if (ok_n and ok_c and ok_h) else "FAIL"
        print(
            f"{name:28s} {status} rows={len(srows)}/{len(orows)} "
            f"cols={'=' if ok_c else scols + ['<>'] + ocols} hash={'=' if ok_h else '!'} "
            f"({spark_s:.1f}s spark, {duck_s:.1f}s duck)"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_h and ok_n and len(srows) <= 30:
                print("  spark:", sorted(srows)[:10])
                print("  duck :", sorted(orows)[:10])
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
