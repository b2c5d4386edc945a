"""Local replica of the driver's correctness gate: run every suite query on
Spark and its oracle on DuckDB at sf0.01, compare row count, column names,
and an order-insensitive value hash (columns sorted by name, rows sorted).

Usage: python tools/check_correctness.py [--extra] [query ...]
  --extra: also gate the locally-checked EXTRA registry (verify-only helpers
  and redundant variants kept out of the driver's 50-entry window).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def norm_cell(v):
    # NULL/NaN/NaT unify (the driver's canonicalizer treats them alike —
    # round-1 entries with lag()-NULLs hashed green), but int-vs-float stays
    # distinct: that IS the DuckDB HUGEINT→float64 class we must catch.
    import datetime

    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        s = str(v)
        return s[:-9] if s.endswith(" 00:00:00") else s
    return str(v)


def value_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main():
    import __spark_entry__ as e
    from railgun_spark.session import get_spark

    argv = sys.argv[1:]
    with_extra = "--extra" in argv
    only = {a for a in argv if a != "--extra"}
    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    if with_extra:
        from railgun_spark import suite

        for name, spec in suite.extra_specs().items():
            qs[name] = spec.fn
            if spec.oracle is not None:
                oracles[name] = spec.oracle
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"okNA {name}: rows={len(srows)} (no oracle, rows-only) [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            # .df() (pandas fetch) replicates the driver's typing: DuckDB
            # HUGEINT comes back float64 here, which is exactly the class of
            # hash mismatch we need to catch locally.
            pdf = con.execute(oracles[name]).df()
            dcols = list(pdf.columns)
            drows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} != {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} != {sorted(dcols)}")
        if not problems:
            h1, h2 = value_hash(srows, scols), value_hash(drows, dcols)
            if h1 != h2:
                problems.append("value-hash mismatch")
                for a, b in list(zip(sorted(srows), sorted(drows)))[:3]:
                    if norm_cell(a) != norm_cell(b):
                        problems.append(f"  spark={a}\n  duck ={b}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(p for p in problems) + f" [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"ok   {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
