"""Deterministic replayable stream sources: the scripted replay
files behind every registered streaming query (streaming/runtime.py
runs them) and the streaming unit tests.

Reference (S7/T1): sorted per-minute part files → queue of RDDs →
`queueStream` driven by a ManualClock (a7/EventCount.scala:62-83,
108-118). Structured-Streaming equivalent: split a batch table into
N time-ordered parquet files and replay them with the file source +
`maxFilesPerTrigger=1` — each file becomes one micro-batch, giving
the same deterministic batch boundaries without any clock hackery.

``write_replay_batches`` is the one writer of that layout (file
names, one file per batch, mtime order); the scripted per-frame
replay and the weekly event replay (streaming/trending.py) only
compute each row's batch number.
Readers pass the replay directory to ``read_replay_stream``.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def single_parquet_file(dir_path: str, required: bool = True) -> str | None:
    """The ONE parquet data file under ``dir_path``, or None when the
    directory is absent/empty and ``required`` is False.

    ``write_replay_batches`` renames per-partition write outputs into
    per-batch files. That rename is only sound while Spark emits
    exactly one data file per partition directory — true because
    each partition is written by a single task and
    ``spark.sql.files.maxRecordsPerFile`` is unset (0). If that conf
    (or a writer change) ever splits a task's output, renaming file
    [0] would silently DROP the rest of the batch — so a multi-file
    directory fails loudly, naming the assumption, instead of
    corrupting the replay."""
    found = sorted(glob.glob(os.path.join(dir_path, "*.parquet")))
    if len(found) > 1:
        raise AssertionError(
            f"{dir_path} holds {len(found)} parquet files; the replay "
            "writers rename exactly ONE data file per partition "
            "directory (requires spark.sql.files.maxRecordsPerFile=0 "
            "and one-task-per-partition writes) — refusing to pick one "
            "and silently drop the rest"
        )
    if not found:
        if required:
            raise AssertionError(f"no parquet data file under {dir_path}")
        return None
    return found[0]


def write_replay_batches(
    df: DataFrame, batch_col: str, n_batches: int, out_dir: str
) -> int:
    """THE replay-source writer. Empties ``out_dir`` (build_once
    reuses it, and readers read the whole directory), then writes one
    file ``part-{b:04d}.parquet`` per batch ``b`` in
    ``0..n_batches-1``. Batch ``b`` holds the rows whose int
    ``batch_col`` is ``b``; the column itself is not written, and an
    empty batch is a schema-only file. mtimes strictly increase in
    batch order: FileStreamSource admits files oldest-first by mtime,
    one per micro-batch under ``maxFilesPerTrigger=1``. One write:
    ``repartition(n, batch_col)`` puts each batch in a single task,
    so ``partitionBy`` emits one file per batch directory."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    stage = os.path.join(out_dir, "_stage")
    if n_batches:  # an empty replay writes no file at all
        df.repartition(n_batches, batch_col).write.partitionBy(
            batch_col
        ).parquet(stage)
    base = time.time()
    for b in range(n_batches):
        dest = os.path.join(out_dir, f"part-{b:04d}.parquet")
        part = single_parquet_file(
            os.path.join(stage, f"{batch_col}={b}"), required=False
        )
        if part is None:
            part = os.path.join(stage, f"_empty{b}")
            schema = df.drop(batch_col).schema
            df.sparkSession.createDataFrame([], schema).write.parquet(part)
            part = single_parquet_file(part)
        os.replace(part, dest)
        os.utime(dest, (base + b, base + b))
    shutil.rmtree(stage, ignore_errors=True)
    return n_batches


def write_scripted_batches(dfs: list[DataFrame], out_dir: str) -> int:
    """A scripted replay: batch N holds exactly the rows of ``dfs[N]``
    (for stateful-operator tests with exact per-batch counts). The
    frames are tagged with their index and written in one
    ``write_replay_batches`` pass."""
    tagged = [df.withColumn("_batch", F.lit(b)) for b, df in enumerate(dfs)]
    return write_replay_batches(
        reduce(DataFrame.unionByName, tagged), "_batch", len(dfs), out_dir
    )


def read_replay_stream(
    spark: SparkSession, dir_path: str, schema, fmt: str = "parquet"
) -> DataFrame:
    """File-source stream over the replay directory, one file per
    trigger."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .format(fmt)
        .load(dir_path)
    )
