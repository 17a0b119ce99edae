"""Local mirror of the driver's DuckDB-oracle correctness gate.

Runs every registered query at the given sf dir, runs its oracle in
DuckDB, and compares row count, column names, and an order-insensitive
value multiset (stringified, floats rounded). Stricter than the driver
can reasonably be — if this passes, the driver's hash-compare should.

Usage: python scripts/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize_cell(x) for x in v) + "]"
    return str(v)


def df_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        "|".join(normalize_cell(r[i]) for i in order) for r in rows
    )
    return [cols[i] for i in order], out


def arrow_family(t) -> str:
    """Collapse an Arrow type to the Python-value class the driver's
    hasher would see. DuckDB SUM(int) OVER yields HUGEINT → Arrow
    decimal128(38,0) → Decimal cells, while Spark's running sum is
    int64 → int cells: identical values, different representations —
    exactly the mismatch that shipped round 3's one red row. This check
    makes it fail LOCALLY."""
    import pyarrow as pa

    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_family(t.value_type)}>"
    return str(t)


def spark_family(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_family(dt.elementType)}>"
    return dt.simpleString()


def main() -> int:
    import duckdb

    from panditya_spark.plans import ORACLES, QUERIES
    from panditya_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name, fn in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in ORACLES:
            print(f"ok   {name}: rows-only, {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            # Fetch via Arrow, like the driver does, so DuckDB's value
            # REPRESENTATIONS (HUGEINT→decimal128, etc.) are visible.
            tbl = con.execute(ORACLES[name]).fetch_arrow_table()
            d_cols = list(tbl.schema.names)
            d_rows = [
                tuple(d[c] for c in d_cols) for d in tbl.to_pylist()
            ]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        if sorted(s_cols) != sorted(d_cols):
            failures.append(name)
            print(f"FAIL {name}: columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
            continue
        type_diffs = []
        s_types = {f.name: spark_family(f.dataType) for f in sdf.schema.fields}
        for field in tbl.schema:
            sf_fam, df_fam = s_types.get(field.name), arrow_family(field.type)
            if sf_fam != df_fam:
                type_diffs.append(f"{field.name}: spark={sf_fam} duckdb={df_fam}")
        if type_diffs:
            failures.append(name)
            print(f"FAIL {name}: representation mismatch: {type_diffs}")
            continue
        if len(s_rows) != len(d_rows):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
            continue
        _, s_ms = df_multiset(s_cols, s_rows)
        _, d_ms = df_multiset(d_cols, d_rows)
        if s_ms != d_ms:
            failures.append(name)
            diff = [(a, b) for a, b in zip(s_ms, d_ms) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            continue
        if len(s_rows) == 0:
            # both engines agreeing on zero rows proves nothing
            print(f"WARN {name}: VACUOUS PASS — 0 rows on both engines ({time.time()-t0:.1f}s)")
        else:
            print(f"PASS {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
