"""catalog.read_parquet: the package's one batch parquet read, which
infers a file's schema once per file identity."""

from __future__ import annotations

import ast
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from hadoop_and_spark_spark import catalog
from hadoop_and_spark_spark.catalog import _scoped_conf, load_table, read_parquet

PACKAGE = os.path.dirname(catalog.__file__)


def _jobs_in_group(spark, fn, group: str) -> int:
    """Spark jobs ``fn`` launches, counted by job group. The status
    store is fed asynchronously, in event order, so once a later
    fence job is visible every job before it is too."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    fence = f"{group}-fence"
    sc.setJobGroup(fence, fence)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(fence):
        assert time.monotonic() < deadline, "fence job never reached the status store"
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_table_launches_no_job(spark, sf_dir, tmp_path):
    """The first read of a fresh file infers its schema (≥1 job); the
    second is served from the schema memo and launches none."""
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(catalog.table_path(sf_dir, "lineitem"), sf)
    cold = _jobs_in_group(spark, lambda: load_table(spark, str(sf), "lineitem"), "rp-cold")
    warm = _jobs_in_group(spark, lambda: load_table(spark, str(sf), "lineitem"), "rp-warm")
    assert cold >= 1
    assert warm == 0
    assert load_table(spark, str(sf), "lineitem").count() == load_table(
        spark, sf_dir, "lineitem"
    ).count()


def test_rewritten_file_gets_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert df.collect()[0].b == "x"


def test_spark_overwrite_gets_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).selectExpr("id AS x", "'a' AS y").write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["x", "y"]
    assert df.count() == 3


def test_binary_as_string_conf_is_part_of_the_identity(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    for as_string, want in (
        ("false", T.BinaryType()),
        ("true", T.StringType()),
        ("false", T.BinaryType()),
    ):
        with _scoped_conf(spark, "spark.sql.parquet.binaryAsString", as_string):
            assert read_parquet(spark, path).schema["b"].dataType == want


def _raw_parquet_reads(tree: ast.AST, skip_helper: bool) -> list[int]:
    """Lines of every ``<x>.read….parquet(`` call chain in ``tree``
    (``readStream`` chains are streams, not batch reads), outside
    ``read_parquet`` itself when ``skip_helper``."""
    skip: set[int] = set()
    if skip_helper:
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "read_parquet":
                skip |= {id(n) for n in ast.walk(fn)}
    lines = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and id(node) not in skip
        ):
            continue
        link = node.func.value
        while isinstance(link, (ast.Call, ast.Attribute)):
            if isinstance(link, ast.Attribute) and link.attr == "read":
                lines.append(node.lineno)
                break
            link = link.func if isinstance(link, ast.Call) else link.value
    return lines


def test_raw_read_detector_flags_batch_reads_only():
    src = (
        "a = spark.read.parquet(p)\n"
        "b = df.sparkSession.read.schema(s).option('k', 1).parquet(p)\n"
        "c = spark.readStream.schema(s).parquet(d)\n"
        "df.write.mode('overwrite').parquet(p)\n"
    )
    assert _raw_parquet_reads(ast.parse(src), skip_helper=False) == [1, 2]


def test_every_batch_parquet_read_goes_through_read_parquet():
    found = []
    for root, _dirs, files in os.walk(PACKAGE):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read())
                skip = path == catalog.__file__
                found += [f"{path}:{n}" for n in _raw_parquet_reads(tree, skip)]
    assert found == []
