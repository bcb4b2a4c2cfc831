"""Deterministic replayable stream sources: the scripted replay
files behind every registered streaming query (streaming/runtime.py
runs them) and the streaming unit tests.

Reference (S7/T1): sorted per-minute part files → queue of RDDs →
`queueStream` driven by a ManualClock (a7/EventCount.scala:62-83,
108-118). Structured-Streaming equivalent: split a batch table into
N time-ordered parquet files and replay them with the file source +
`maxFilesPerTrigger=1` — each file becomes one micro-batch, giving
the same deterministic batch boundaries without any clock hackery.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def single_parquet_file(dir_path: str, required: bool = True) -> str | None:
    """The ONE parquet data file under ``dir_path``, or None when the
    directory is absent/empty and ``required`` is False.

    The replay writers rename per-partition write outputs into
    scripted per-batch files. That rename is only sound while Spark
    emits exactly one data file per partition directory — true here
    because each partition is written by a single task and
    ``spark.sql.files.maxRecordsPerFile`` is unset (0). If that conf
    (or a future writer change) ever splits a task's output, renaming
    file [0] would silently DROP the rest of the batch — so a
    multi-file directory fails loudly, naming the assumption, instead
    of corrupting the replay."""
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


def write_replay_files(df: DataFrame, ts_col: str, out_dir: str, n_files: int) -> int:
    """Split `df` into `n_files` contiguous equal-count time ranges
    (ntile semantics: the remainder rows go to the EARLIEST buckets),
    one parquet file each, named AND mtime-stamped in time order
    (part-0001…). Returns file count.

    Scale-safe form: the original computed ``ntile(n).over(
    Window.orderBy(ts))`` — a GLOBAL single-partition window — and
    re-ran it once per output file (N passes through one task, the
    last corpus-sized single-task window in the repo). Here:

    1. range-partition on ``ts_col`` (the fan_out_sorted pattern —
       RangePartitioner emits partitions in range order, so partition
       id order IS global time order), checkpointed so the passes
       below reuse the shuffle instead of re-running it;
    2. one tiny job counts rows per partition → exact global offsets;
    3. global row index = offset[pid] + per-PARTITION row_number
       (a parallel window), bucket = the closed-form ntile inverse
       (base = n div k rows per bucket, first n mod k buckets get one
       extra — identical assignment to the builtin on a total-order
       ``ts_col``; tie rows at a bucket boundary were execution-order
       arbitrary under the old window too);
    4. ONE write of all buckets via ``partitionBy`` (each bucket
       hash-co-located into a single task → a single file), renamed
       into place. Buckets past the row count (n_files > rows) become
       genuinely empty files, as before.

    mtimes are stamped strictly increasing in bucket order: the old
    per-bucket loop got that by accident of sequential writes, and
    FileStreamSource admits files by modification time, so a
    single-pass writer must stamp it explicitly."""
    spark = df.sparkSession
    tmp = os.path.join(out_dir, "_tmp")
    os.makedirs(out_dir, exist_ok=True)

    from .maintenance import artifact_checkpoint

    parts = spark.sparkContext.defaultParallelism
    # _pid is materialized as a COLUMN on the checkpointed partitions
    # (not referenced inline downstream, where it would be re-evaluated
    # AFTER the window's own exchange and yield the wrong id).
    staged = artifact_checkpoint(
        df.repartitionByRange(parts, ts_col)
    ).withColumn("_pid", F.spark_partition_id())
    sizes = {
        r["_pid"]: r["n"]
        for r in staged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    total = sum(sizes.values())
    offs, acc = [0] * (max(sizes, default=-1) + 2), 0
    for pid in sorted(sizes):
        offs[pid] = acc
        acc += sizes[pid]
    base, rem = divmod(total, n_files)
    cut = rem * (base + 1)

    off = F.element_at(F.lit(offs), F.col("_pid") + 1)
    w = Window.partitionBy("_pid").orderBy(ts_col)
    idx = (off + F.row_number().over(w) - 1).cast("long")
    if base == 0:  # fewer rows than files: one row per leading bucket
        bucket = idx + 1
    else:
        bucket = F.when(
            idx < cut, F.floor(idx / (base + 1)) + 1
        ).otherwise(rem + F.floor((idx - cut) / base) + 1)
    (
        staged.withColumn("_bucket", bucket.cast("int"))
        .drop("_pid")
        .repartition(n_files, "_bucket")
        .sortWithinPartitions("_bucket", ts_col)
        .write.partitionBy("_bucket")
        .mode("overwrite")
        .parquet(tmp)
    )
    import time

    mtime = time.time()
    empty = None
    for b in range(1, n_files + 1):
        dest = os.path.join(out_dir, f"part-{b:04d}.parquet")
        part = single_parquet_file(os.path.join(tmp, f"_bucket={b}"), required=False)
        if part is not None:
            os.replace(part, dest)
        else:
            if empty is None:
                empty = spark.createDataFrame([], df.schema)
                empty.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(tmp, "_empty")
                )
            shutil.copyfile(
                single_parquet_file(os.path.join(tmp, "_empty")), dest
            )
        os.utime(dest, (mtime + 10 * b, mtime + 10 * b))
    shutil.rmtree(tmp)
    return n_files


def write_scripted_batches(dfs: list[DataFrame], out_dir: str) -> int:
    """Write each DataFrame as exactly one parquet file, named in
    sequence — a scripted replay where batch N contains exactly the
    rows of dfs[N] (for stateful-operator tests with exact per-batch
    counts).

    FileStreamSource orders files by MODIFICATION TIME, not name;
    back-to-back writes can tie on mtime and collapse two scripted
    batches into one trigger. Stamp strictly increasing mtimes so the
    replay order (and therefore per-batch watermark advancement) is
    deterministic."""
    import time

    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, "_tmp")
    base = time.time()
    for b, df in enumerate(dfs):
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = single_parquet_file(tmp)
        dst = os.path.join(out_dir, f"part-{b:04d}.parquet")
        os.replace(src, dst)
        os.utime(dst, (base + 10 * b, base + 10 * b))
    shutil.rmtree(tmp)
    return len(dfs)


def read_replay_stream(
    spark: SparkSession, dir_path: str, schema, fmt: str = "parquet"
) -> DataFrame:
    """File-source stream over the replay dir (or file glob), one file
    per trigger."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .format(fmt)
        .load(dir_path)
    )
