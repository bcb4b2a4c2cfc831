"""Mirror the DRIVER's pandas-frame correctness hash, not just value equality.

The repo's `oracle.compare` checks Python-level values; the driver instead
pulls both sides into pandas (Spark `toPandas()` vs DuckDB `.df()`), sorts
columns by name, sorts rows, and hashes cells WITH their runtime types.
Those can disagree on equal values (DuckDB renders DECIMAL as float64 while
Spark keeps object(Decimal) — identical values, different hash). This tool
reproduces that stricter comparison locally, so a red driver row shows
before the driver runs.

Usage:  python tools/driver_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    cells = []
    for row in df.itertuples(index=False):
        cells.append(tuple((type(v).__name__, repr(v)) for v in row))
    return sorted(cells)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from hadoop_and_spark_spark.oracle import duckdb_connect
    from hadoop_and_spark_spark.session import get_spark

    spark = get_spark()
    queries = entry.queries()
    oracles = entry.oracle_sql()

    results: dict[str, str] = {}
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            results[name] = f"SPARK ERROR: {exc}"
            failed.append(name)
            continue
        if name not in oracles:
            results[name] = f"rows-only ({len(sdf)} rows)"
            continue
        con = duckdb_connect(sf_dir)
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            results[name] = f"ORACLE ERROR: {exc}"
            failed.append(name)
            con.close()
            continue
        con.close()
        if sorted(sdf.columns) != sorted(odf.columns):
            results[name] = (
                f"SCHEMA MISMATCH spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
            )
            failed.append(name)
            continue
        if len(sdf) != len(odf):
            results[name] = f"ROWS MISMATCH spark={len(sdf)} oracle={len(odf)}"
            failed.append(name)
            continue
        sc, oc = canon(sdf), canon(odf)
        if sc != oc:
            diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
            results[name] = f"TYPED-HASH MISMATCH first diffs: {diffs}"
            failed.append(name)
            continue
        results[name] = f"ok ({len(sdf)} rows)"

    print(json.dumps(results, indent=2, default=str))
    print(f"\n{len(results) - len(failed)}/{len(results)} pass; failed: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
