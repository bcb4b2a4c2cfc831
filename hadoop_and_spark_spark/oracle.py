"""Self-check harness mirroring the driver's correctness gate.

Runs a registered Spark query and its DuckDB oracle SQL on the same
parquet tables and compares row count, column names/order-insensitive
schema, and sorted values — the shape of check every registered
query is held to (``__spark_entry__.py``). Used by tests so oracle
drift is caught locally.
"""

from __future__ import annotations

import math
import os
from typing import Any

import duckdb
from pyspark.sql import SparkSession

from .catalog import TABLES, table_path


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET timezone = 'UTC'")
    # a view per table present, so a corpus dir that holds only the
    # tables a query reads can still be checked
    for name in TABLES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        if os.path.isdir(path):
            # Spark-written table: a directory of part files (the
            # driver's testdata is a single file; test fixtures that
            # rewrite a corpus via df.write.parquet produce dirs).
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name and rows by value for order-insensitive compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_cell(v: Any) -> Any:
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            # repr, not the rounded number: Python's == equates -0.0
            # with 0.0, but the driver's typed-repr hash does NOT —
            # the sign of zero must match across engines (round6
            # canonicalizes negative zero for that reason). repr
            # keeps this compare exactly as strict as a typed-repr
            # hash.
            return repr(round(v, 9))
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, list):
            return tuple(norm_cell(x) for x in v)
        return v

    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def compare(
    spark: SparkSession, sf_dir: str, fn, sql: str
) -> tuple[bool, str]:
    """Run ``fn`` and the oracle ``sql`` over ``sf_dir`` and compare them
    the way the driver does: (ok, message). The tests' entry into this
    harness; tools/driver_check.py runs the driver's own typed hash."""
    sdf = fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    con = duckdb_connect(sf_dir)
    try:
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = [tuple(r) for r in res.fetchall()]
    finally:
        con.close()

    if sorted(scols) != sorted(ocols):
        return False, f"schema mismatch: spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return False, f"row count mismatch: spark={len(srows)} oracle={len(orows)}"
    sn, on = _normalize(srows, scols), _normalize(orows, ocols)
    if sn != on:
        diffs = [(a, b) for a, b in zip(sn, on) if a != b][:5]
        return False, f"value mismatch, first diffs: {diffs}"
    return True, f"ok ({len(srows)} rows)"
