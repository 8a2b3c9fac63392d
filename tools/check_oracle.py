"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given SF, then compares row count,
sorted column names, and an order-insensitive canonical value multiset.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers import the package too; they inherit the JVM's environment
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

import duckdb

import __spark_entry__ as entrymod
from healthcare_api_spark import get_spark
from healthcare_api_spark.tables import TABLE_NAMES


def canon(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.9g}"
    return str(v)


def frame_multiset(cols, rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("\x01".join(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle — rows-only check)")
            if len(srows) == 0:
                failures.append(name)
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sm = frame_multiset(scols, [[r[c] for c in scols] for r in srows])
            om = frame_multiset(ocols, orows)
            if sm != om:
                diff = list((sm - om).items())[:3] + list((om - sm).items())[:3]
                problems.append(f"values differ, e.g. {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(srows)} rows")
    print(f"\n{ran - len(failures)}/{ran} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
