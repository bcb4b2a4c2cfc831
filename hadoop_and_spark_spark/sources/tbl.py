"""Pipe-delimited TPC-H text (.tbl) source.

Reference semantics (S1): `line.split("\\|")` + positional ordinal
access with hand-maintained column indices (a5/Q1.scala:51-56).
Spark-first: `spark.read.csv(sep='|')` with an explicit StructType —
named, typed columns so Catalyst prunes/pushes down; the trailing
`|` of the .tbl format is handled by dropping the phantom last
column. The reference's all-string dates stay strings here (format
parity); callers cast when they need arithmetic.

This reader exists for format parity with the reference's text mode
(its 53-test matrix ran every query from both Text and Parquet);
the engine's primary path is parquet via the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Full TPC-H columns, reference parquet column order as positional
# ground truth (FIXTURES.md §1).
TBL_SCHEMAS: dict[str, list[tuple[str, T.DataType]]] = {
    "region": [
        ("r_regionkey", T.IntegerType()),
        ("r_name", T.StringType()),
        ("r_comment", T.StringType()),
    ],
    "nation": [
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
        ("n_comment", T.StringType()),
    ],
    "customer": [
        ("c_custkey", T.IntegerType()),
        ("c_name", T.StringType()),
        ("c_address", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_phone", T.StringType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
        ("c_comment", T.StringType()),
    ],
    "supplier": [
        ("s_suppkey", T.IntegerType()),
        ("s_name", T.StringType()),
        ("s_address", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_phone", T.StringType()),
        ("s_acctbal", T.DoubleType()),
        ("s_comment", T.StringType()),
    ],
    "part": [
        ("p_partkey", T.IntegerType()),
        ("p_name", T.StringType()),
        ("p_mfgr", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_container", T.StringType()),
        ("p_retailprice", T.DoubleType()),
        ("p_comment", T.StringType()),
    ],
    "orders": [
        ("o_orderkey", T.IntegerType()),
        ("o_custkey", T.IntegerType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        ("o_orderdate", T.StringType()),
        ("o_orderpriority", T.StringType()),
        ("o_clerk", T.StringType()),
        ("o_shippriority", T.IntegerType()),
        ("o_comment", T.StringType()),
    ],
    "lineitem": [
        ("l_orderkey", T.IntegerType()),
        ("l_partkey", T.IntegerType()),
        ("l_suppkey", T.IntegerType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.StringType()),
        ("l_commitdate", T.StringType()),
        ("l_receiptdate", T.StringType()),
        ("l_shipinstruct", T.StringType()),
        ("l_shipmode", T.StringType()),
        ("l_comment", T.StringType()),
    ],
}


def read_tbl(spark: SparkSession, path: str, table: str) -> DataFrame:
    """Read a .tbl file into a typed DataFrame. Trailing '|' in the
    format produces a phantom empty last field, absorbed by a
    throwaway column. SURVEY row S1 (text file scan): no registered
    query reads raw .tbl; tests pin it."""
    cols = TBL_SCHEMAS[table]
    schema = T.StructType(
        [T.StructField(n, t, True) for n, t in cols]
        + [T.StructField("_trailing", T.StringType(), True)]
    )
    return (
        spark.read.csv(path, sep="|", schema=schema, header=False)
        .drop("_trailing")
    )


# --- sidecar-schema text tables (the engine's general text format) ---
#
# The reference's .tbl convention carries NO schema — correctness
# hangs on hand-maintained ordinals. The engine's text format keeps
# the pipe-delimited data files but writes the exact StructType as a
# _schema.json sidecar (a metastore entry that travels with the
# directory), so reads are as typed/prunable as parquet reads and the
# Text/Parquet duality of the reference's test matrix
# (assignment5_marks.md: every query x {Text, Parquet}) is a loader
# switch, not per-query code.

_SIDECAR = "_schema.json"
# Default CSV timestamp rendering keeps only millis; testdata carries
# micros — pin the format on both sides of the round trip.
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def write_text_table(df: DataFrame, out_dir: str) -> None:
    """K1 text sink: pipe-delimited CSV + StructType sidecar. SURVEY
    row K1: no registered query writes text; tests pin the round trip
    through ``read_text_table``."""
    import os

    (
        df.write.mode("overwrite")
        .option("sep", "|")
        .option("timestampFormat", _TS_FMT)
        .csv(out_dir)
    )
    with open(os.path.join(out_dir, _SIDECAR), "w") as fh:
        fh.write(df.schema.json())


def read_text_table(spark: SparkSession, dir_path: str) -> DataFrame:
    """S1 text source for sidecar-schema directories."""
    import json
    import os

    with open(os.path.join(dir_path, _SIDECAR)) as fh:
        schema = T.StructType.fromJson(json.load(fh))
    return (
        spark.read.schema(schema)
        .option("sep", "|")
        .option("timestampFormat", _TS_FMT)
        .csv(dir_path)
    )
