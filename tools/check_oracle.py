"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql() on
DuckDB over the same sf dir, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, every value rendered to
a string, rows sorted). Usage::

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _render(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_render(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_render(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from pyld_spark.session import get_spark

    spark = get_spark("check_oracle")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).createOrReplaceTempView(t)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok?  {name}: rows={len(srows)} (no oracle, rows-only)")
            if not srows:
                failures += 1
            continue
        try:
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = [tuple(r) for r in res.fetchall()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh, dh = value_hash(scols, srows), value_hash(dcols, drows)
            if sh != dh:
                problems.append("value-hash mismatch")
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                set_s = {"\x01".join(_render(r[i]) for i in order_s) for r in srows}
                set_d = {"\x01".join(_render(r[i]) for i in order_d) for r in drows}
                for x in list(set_s - set_d)[:3]:
                    problems.append(f"  spark-only: {x[:200]!r}")
                for x in list(set_d - set_s)[:3]:
                    problems.append(f"  duck-only:  {x[:200]!r}")
        if problems:
            failures += 1
            print(f"FAIL {name}:")
            for p in problems:
                print("   ", p)
        else:
            print(f"PASS {name}: rows={len(srows)}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
