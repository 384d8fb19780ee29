"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its DuckDB ``oracle_sql()``
side by side, compare row count, sorted column names, and
order-insensitive values.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    """Normalize a cell for cross-engine comparison."""
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


SPARK_TO_CANON = {
    "bigint": "i64", "int": "i32", "smallint": "i16", "tinyint": "i8",
    "double": "f64", "float": "f32", "string": "str", "boolean": "bool",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
    "binary": "bytes",
}
DUCK_TO_CANON = {
    "BIGINT": "i64", "INTEGER": "i32", "SMALLINT": "i16", "TINYINT": "i8",
    "DOUBLE": "f64", "FLOAT": "f32", "VARCHAR": "str", "BOOLEAN": "bool",
    "DATE": "date", "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts", "BLOB": "bytes",
    "HUGEINT": "i128",
}


def canon_type(t: str, table: dict) -> str:
    t = t.strip()
    if t.startswith("array<") and t.endswith(">"):
        return canon_type(t[6:-1], table) + "[]"
    if t.endswith("[]"):
        return canon_type(t[:-2], table) + "[]"
    return table.get(t, table.get(t.upper(), t))


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from geniepool_etl_spark.session import get_spark

    spark = get_spark("selfcheck")
    con = oracle_db(sf_dir)

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = n_noracle = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: SPARK ERROR")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if name not in oracles:
            print(f"----  {name}: no oracle (rows={len(srows)})")
            n_noracle += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes_raw = [str(t) for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: ORACLE ERROR {str(e).splitlines()[0]}")
            n_fail += 1
            continue
        why = mismatch(sdf, srows, ocols, otypes_raw, orows)
        if why:
            print(f"FAIL  {name}: {why}")
            n_fail += 1
            continue
        print(f"ok    {name} ({len(srows)} rows)")
        n_pass += 1

    print(f"\n{n_pass} ok, {n_fail} fail, {n_noracle} no-oracle")
    return 1 if n_fail else 0


def oracle_db(sf_dir: str):
    """DuckDB connection with one view per testdata table under sf_dir."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def mismatch(sdf, srows, ocols, otypes_raw, orows) -> str | None:
    """Why a Spark result (frame + collected rows) differs from its
    oracle's columns, DuckDB type names and rows, or None if it does
    not: sorted column names, canonical dtypes, row count, then
    order-insensitive values."""
    scols = sdf.columns
    if sorted(scols) != sorted(ocols):
        return f"cols spark={sorted(scols)} oracle={sorted(ocols)}"
    stypes = {c: canon_type(t, SPARK_TO_CANON) for c, t in sdf.dtypes}
    otypes = {
        c: canon_type(t, DUCK_TO_CANON)
        for c, t in zip(ocols, otypes_raw)
    }
    mismatched = {
        c: (stypes[c], otypes[c])
        for c in stypes
        if c in otypes and stypes[c] != otypes[c]
    }
    if mismatched:
        return f"dtypes differ: {mismatched}"
    if len(srows) != len(orows):
        return f"rows spark={len(srows)} oracle={len(orows)}"
    sset, oset = rowset(scols, srows), rowset(ocols, orows)
    if sset != oset:
        diffs = [
            (a, b) for a, b in zip(sset, oset) if a != b
        ][:3]
        return f"values differ; first diffs: {diffs}"
    return None


if __name__ == "__main__":
    sys.exit(main())
