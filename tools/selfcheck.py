"""Mimic the driver's correctness gate locally: run every __spark_entry__
query at sf0.01 and compare row-count + column names + order-insensitive
values against the DuckDB oracle.

Usage: python tools/selfcheck.py [sf_dir] [query-substring ...]
Extra args filter which queries run (substring match on the query name).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bloqsenjin_spark.corpus import TABLES
from bloqsenjin_spark.session import get_spark


def norm(v):
    # repr-faithful: the driver's value hash is dtype-sensitive (float64 26.0
    # vs int64 26 broke it in round 1), so DON'T paper over type/precision
    # differences with %.6g formatting
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    return str(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def main(sf_dir: str = "/root/testdata/sf0.01", *patterns: str) -> int:
    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    if patterns:
        qs = {k: v for k, v in qs.items() if any(p in k for p in patterns)}
    failures = 0
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir)
            scols = [c.lower() for c in sdf.columns]
            srows = [tuple(r) for r in sdf.collect()]
            if name not in osql:
                print(f"  ~ {name}: rows-only check, {len(srows)} rows")
                continue
            rel = con.sql(osql[name])
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
            ok_schema = sorted(scols) == sorted(dcols)
            ok_count = len(srows) == len(drows)
            ok_vals = rowset(scols, srows) == rowset(dcols, drows)
            status = "OK " if (ok_schema and ok_count and ok_vals) else "FAIL"
            if status == "FAIL":
                failures += 1
                print(f"  ✗ {name}: schema={ok_schema} count={ok_count}({len(srows)}/{len(drows)}) vals={ok_vals}")
                if not ok_schema:
                    print(f"      spark={sorted(scols)} duck={sorted(dcols)}")
                if ok_schema and not ok_vals:
                    a, b = rowset(scols, srows), rowset(dcols, drows)
                    diff = [x for x in a if x not in b][:3] + [("<missing>",) + tuple(x) for x in b if x not in a][:3]
                    print(f"      first diffs: {diff[:6]}")
            else:
                print(f"  ✓ {name}: {len(srows)} rows")
        except Exception as e:  # noqa: BLE001
            failures += 1
            print(f"  ✗ {name}: EXCEPTION {type(e).__name__}: {e}")
    print(f"{'PASS' if failures == 0 else 'FAIL'} ({len(qs) - failures}/{len(qs)})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
