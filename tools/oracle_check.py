"""Local mirror of the driver's correctness gate.

Runs each ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column
names, and an order-insensitive multiset of normalized values.  Stricter
than any reasonable driver hash: floats must match to 1e-9 after the
query's own rounding.

Usage:  python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_value(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 9)
        # Python equality can't see the sign bit (-0.0 == 0.0) but the
        # driver's hash is bit-level — round-2 shipped a knn -0.0 oracle
        # bug this gate waved through.  repr() keeps the sign visible.
        return repr(r) if r == 0.0 else r
    if isinstance(v, Decimal):
        return _norm_value(float(v))
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_value(x)) for k, x in v.items()))
    return v


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_norm_value(row[i]) for i in order) for row in rows)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark-written corpora (e.g. the ×10 replica) are DIRECTORIES of
        # part files under the table name; glob them for DuckDB
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def check_query(spark, con, name: str, fn, sql: str | None, sf_dir: str) -> tuple[bool, str]:
    from pyspark.sql.types import ArrayType, MapType, StructType, TimestampType

    sdf = fn(spark, sf_dir)
    spark_cols = list(sdf.columns)
    # The driver's canonicalizer pandas-sorts every output column; list/dict
    # cells are unhashable (crash) and raw timestamps hash differently across
    # engines (registry.py rules).  Hard-fail so a regression never reaches
    # the driver.
    bad = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType, TimestampType))
    ]
    if bad:
        return False, f"non-hashable output columns (driver canon would crash): {bad}"
    spark_rows = [tuple(r) for r in sdf.collect()]
    if sql is None:
        return len(spark_rows) >= 0, f"rows-only: {len(spark_rows)} rows"
    res = con.execute(sql)
    oracle_cols = [d[0] for d in res.description]
    oracle_rows = res.fetchall()
    problems = []
    if sorted(spark_cols) != sorted(oracle_cols):
        problems.append(f"columns differ: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}")
    if len(spark_rows) != len(oracle_rows):
        problems.append(f"row count: spark={len(spark_rows)} oracle={len(oracle_rows)}")
    if not problems:
        s, o = _normalize(spark_rows, spark_cols), _normalize(oracle_rows, oracle_cols)
        if s != o:
            only_s = list((s - o).items())[:3]
            only_o = list((o - s).items())[:3]
            problems.append(f"values differ; spark-only={only_s} oracle-only={only_o}")
    if problems:
        return False, "; ".join(problems)
    return True, f"OK: {len(spark_rows)} rows hash-match"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # this checkout's own code, in the driver and in Spark's Python
    # workers, whatever the working directory: a second checkout checks
    # itself
    root = str(Path(__file__).resolve().parents[1])
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as entry

    # deliberately a VANILLA session (not session.py's get_spark): the driver
    # harness builds its own SparkSession without our configs, and round 1
    # proved that any query relying on session-build-time confs fails there —
    # mirroring that here keeps this gate honest
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("oracle_check")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duckdb_conn(sf_dir)
    # check the FULL surface — driver-facing registry plus retired extras
    from readwise_vector_db_spark.registry import all_oracle_sql, all_queries

    qs, oracles = all_queries(), all_oracle_sql()
    failed, ran = [], 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        try:
            ok, msg = check_query(spark, con, name, fn, oracles.get(name), sf_dir)
        except Exception as exc:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION: {type(exc).__name__}: {exc}"
        print(f"{'PASS' if ok else 'FAIL'} {name}: {msg}", flush=True)
        if not ok:
            failed.append(name)
    print(f"\n{ran - len(failed)}/{ran} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
