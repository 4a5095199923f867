"""Mimic the driver's correctness gate: run every suite query in Spark AND
its DuckDB oracle on the same parquet tables; compare row count, schema
(column names), and order-insensitive values.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from linkgraph import suite
    from linkgraph.session import get_spark

    spark = get_spark("parity", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, (fn, sql) in suite.REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # a broken query must not abort the sweep
            print(f"{name:28s} ERR  spark raised: {exc!r}")
            failures.append(name)
            continue
        t1 = time.time()
        status = []
        if sql is None:
            print(f"{name:28s} rows={len(srows):6d} (rows-only) spark={t1 - t0:6.1f}s")
            continue
        try:
            res = con.sql(sql)
            ocols = res.columns
            orows = res.fetchall()
        except Exception as exc:
            print(f"{name:28s} ERR  oracle raised: {exc!r}")
            failures.append(name)
            continue
        t2 = time.time()
        if sorted(scols) != sorted(ocols):
            status.append(f"SCHEMA spark={scols} oracle={ocols}")
        if len(srows) != len(orows):
            status.append(f"ROWCOUNT spark={len(srows)} oracle={len(orows)}")
        if not status:
            a, b = rowset(scols, srows), rowset(ocols, orows)
            if a != b:
                diff = [x for x in a if x not in set(b)][:3]
                diffo = [x for x in b if x not in set(a)][:3]
                status.append(f"VALUES spark_only={diff} oracle_only={diffo}")
        ok = "OK " if not status else "FAIL"
        print(
            f"{name:28s} {ok} rows={len(srows):6d} spark={t1 - t0:6.1f}s duck={t2 - t1:5.1f}s "
            + "; ".join(status)
        )
        if status:
            failures.append(name)
    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
