"""Local simulation of the driver's DuckDB-oracle correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 next to its oracle_sql()
in DuckDB, compares row count, column names, and order-insensitive values
(floats to 6 significant digits). Usage:

    python scripts/check_correctness.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

# the checkout this script lives in, not whichever copy is on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def _spark_kind(dt) -> str:
    """Map a Spark type to the pandas dtype kind the driver would see."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "i"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "f"
    if isinstance(dt, T.BooleanType):
        return "b"
    if isinstance(dt, (T.TimestampType, T.DateType)):
        return "M"
    return "O"


def main():
    import duckdb

    import __spark_entry__ as E
    from blazegraph_database_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, SF_DIR)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        t1 = time.time()
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(srows)} rows  ({t1-t0:.1f}s)")
            continue
        ocols = [d[0] for d in con.execute(oracles[name]).description]
        orows = con.execute(oracles[name]).fetchall()
        ok_cols = sorted(scols) == sorted(ocols)
        ok_count = len(srows) == len(orows)
        ok_vals = norm_rows(scols, srows) == norm_rows(ocols, orows)
        # Driver-hash simulation: the driver converts both sides to pandas
        # before hashing, where DuckDB surfaces HUGEINT (e.g. SUM(BIGINT)) as
        # float64 — an int64 Spark column then hash-mismatches even when every
        # value is equal. Compare pandas dtype *kinds* to catch that locally.
        ok_kinds = True
        if ok_cols:
            try:
                opd = con.execute(oracles[name]).df()
                skinds = {f.name: _spark_kind(f.dataType) for f in sdf.schema.fields}
                for c in ocols:
                    sk, okk = skinds.get(c), opd[c].dtype.kind
                    if sk == "i" and okk == "f" and opd[c].isna().any():
                        continue  # nullable int promoted to float64 by pandas — benign
                    if sk is not None and okk != "O" and sk != "O" and sk != okk:
                        ok_kinds = False
                        print(f"    dtype-kind mismatch on {c}: spark={sk} duck={okk}")
            except Exception as e:  # pandas conversion quirks shouldn't kill the gate
                print(f"    (kind check skipped: {e})")
        status = "OK " if (ok_cols and ok_count and ok_vals and ok_kinds) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{name:28s} {status} rows={len(srows)}/{len(orows)} cols={'ok' if ok_cols else f'{scols} vs {ocols}'} vals={'ok' if ok_vals else 'MISMATCH'}  ({t1-t0:.1f}s)")
        if not ok_vals and ok_cols and ok_count:
            a, b = norm_rows(scols, srows), norm_rows(ocols, orows)
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            for x, y in diffs:
                print(f"    spark: {x}\n    duck : {y}")
    print("ALL OK" if failures == 0 else f"{failures} FAILURES")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
