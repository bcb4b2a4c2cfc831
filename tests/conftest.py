from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session", autouse=True)
def scratch_tmpdir(tmp_path_factory):
    """Point this process's temp dir (and, through $TMPDIR, its Python
    workers') under pytest's basetemp before the first query, so the
    per-corpus artifacts and replay scratch of every test corpus land
    where pytest prunes them instead of in the system temp dir."""
    import tempfile

    os.environ["TMPDIR"] = str(tmp_path_factory.mktemp("scratch"))
    tempfile.tempdir = None


@pytest.fixture(scope="session")
def spark(scratch_tmpdir):
    from hadoop_and_spark_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def events_stream(spark, sf_dir, tmp_path):
    """The events table as a file-source stream, ts as TIMESTAMP (the
    type watermarks need). The file source reads directories and the
    testdata ships one parquet file, so the stream reads a symlink to
    it staged under ``tmp_path``."""
    from pyspark.sql import functions as F

    from hadoop_and_spark_spark.catalog import read_parquet, table_path

    src = table_path(sf_dir, "events")
    stage = tmp_path / "events_stream"
    stage.mkdir()
    (stage / "events.parquet").symlink_to(src)
    schema = read_parquet(spark, src).schema
    # ts is stored TIMESTAMP_NTZ; the session time zone is UTC, so the
    # cast keeps the stored wall clock
    return (
        spark.readStream.schema(schema)
        .parquet(str(stage))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def run_queries_concurrently(names, worker, max_workers: int = 16) -> list:
    """Run ``worker(name)`` for every query name on a thread pool —
    the registry-wide sweeps are latency-bound (driver-side planning,
    Py4J round-trips, many small jobs), so concurrent submission cuts
    their wall time ~3-4x without changing what executes. Spark
    supports concurrent job submission from threads, and every
    cross-query shared-state hazard is locked at its own source (see
    maintenance._keyed_lock), so queries pack the pool freely.
    Worker exceptions are collected, not raised mid-pool, and
    re-raised as one AssertionError naming every failed query."""
    from concurrent.futures import ThreadPoolExecutor

    failures: list[str] = []
    results: list = []

    def run(name: str) -> None:
        try:
            results.append(worker(name))
        except Exception as exc:  # noqa: BLE001 — re-raised below
            failures.append(f"{name}: {type(exc).__name__}: {exc}")

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        list(pool.map(run, names))
    assert not failures, "query sweep failures:\n" + "\n".join(failures)
    return results


def py_round6(x: float) -> float:
    """The one Python mirror of functions/portable.round6's
    half-away-from-zero tie rule — tests import THIS instead of
    hand-rolling copies, so a semantics change can't leave a stale
    witness validating the old rule."""
    import math

    mag = math.floor(abs(x) * 1e6 + 0.5) / 1e6
    return (-mag if x < 0 else mag) + 0.0  # + 0.0: -0.0 → +0.0
