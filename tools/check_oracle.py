#!/usr/bin/env python
"""Local twin of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry at a given SF and compare with its
``oracle_sql()`` DuckDB result — row count, column names, and an
order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

# the checkout this script lives in, so a copy measures its own code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v) -> str:
    import datetime as dt

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def table_hash(rows: list[dict]) -> str:
    lines = sorted(
        "|".join(f"{k}={norm_cell(r[k])}" for k in sorted(r)) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    import goodtables_pandas_py_spark as gt

    spark = gt.get_spark(app_name="check-oracle", quiet_logs=True)
    con = duckdb.connect()
    for tname in TABLES:
        con.sql(
            f"CREATE VIEW {tname} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{tname}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            try:
                srows = [r.asDict(recursive=True) for r in sdf.collect()]
            finally:
                # builders attach persisted intermediates their lazy
                # plan needed; release them now that the rows are out
                # (ADVICE r9 — 50 queries in one session would
                # otherwise accumulate executor storage)
                from goodtables_pandas_py_spark.cacheutil import (
                    unpersist_scan_state,
                )

                unpersist_scan_state(sdf)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows  ({el:.1f}s)")
            continue
        try:
            orows = [
                dict(zip([d[0] for d in cur.description], row))
                for cur in [con.sql(oracles[name])]
                for row in cur.fetchall()
            ]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        scols = sorted(srows[0]) if srows else sorted(sdf.columns)
        ocols = sorted(orows[0]) if orows else []
        if len(srows) != len(orows):
            print(f"FAIL {name}: rows {len(srows)} vs {len(orows)}")
            failures.append(name)
            continue
        if srows and scols != ocols:
            print(f"FAIL {name}: cols {scols} vs {ocols}")
            failures.append(name)
            continue
        sh, oh = table_hash(srows), table_hash(orows)
        if sh != oh:
            print(f"FAIL {name}: hash {sh} vs {oh}")
            sset = {tuple(sorted((k, norm_cell(v)) for k, v in r.items())) for r in srows}
            oset = {tuple(sorted((k, norm_cell(v)) for k, v in r.items())) for r in orows}
            for d in list(sset - oset)[:3]:
                print(f"   spark-only: {d}")
            for d in list(oset - sset)[:3]:
                print(f"   duck-only:  {d}")
            failures.append(name)
            continue
        print(f"OK   {name}: {len(srows)} rows, hash {sh}  ({el:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
