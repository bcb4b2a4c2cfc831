"""Replay-stream runtime: the one place a registered stream runs.

``run_replay`` owns the harness every registered replay query shares:
a one-file-per-trigger file source over a scripted replay directory,
a memory sink named after the stream and its corpus, a fresh
checkpoint (deleted after the run), an ``availableNow`` trigger that
drains the replay, the sink read back as a DataFrame, and one run per
(session, corpus) through the session memo. A query supplies its
registry name, its replay source, its plan (stream -> frame), its
output mode and its read-back. (cdc_upsert_stream, whose sink is a
``foreachBatch`` merge, builds its own writer, memoizes it under its
registry name, and shares the source and ``start_and_await``.)

State partitions equal the replay's scan parallelism. Every stateful
streaming operator (windowed aggregation, streaming dedup,
stream-stream join, session windows) commits one state-store delta
file, with its .crc and checksum siblings, per shuffle partition per
micro-batch (a stream-stream join keeps four stores per partition),
and ``applyInPandasWithState`` starts Python workers per partition.
``read_replay_stream`` admits one file per trigger, and a replay file
(tens of KB) is smaller than one file split, which never drops below
``spark.sql.files.openCostInBytes`` (4 MB), so every micro-batch
scans in ONE task: more state partitions add commit files and
workers, never parallelism. Hence 1, not the session-wide
``spark.sql.shuffle.partitions`` sized for batch analytics.

``start_and_await`` therefore pins ``spark.sql.shuffle.partitions`` to
``REPLAY_SHUFFLE_PARTITIONS`` (1) around the stream start and restores
the session value afterwards. This is safe, not a semantics knob:

- The partition count is captured into the checkpoint's offset-log
  metadata at FIRST query start; a restart from an existing checkpoint
  keeps the original state partitioning regardless of the live conf
  (the stop/restart recovery test restarts under a CHANGED
  ``spark.sql.shuffle.partitions`` and pins both the recovered total
  and the on-disk state partition count).
- Row-level results are partitioning-independent — the driver's hash
  gate and every straddle/eviction witness run against the same sinks.

At production scale state partitions are sized to state VOLUME and
commit throughput (e.g. hundreds for a 100 TB/day stream so each
store's delta stays small), never inherited incidentally from a
batch-oriented session default.
"""

from __future__ import annotations

import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame

from ..sources.mock_stream import read_replay_stream

REPLAY_SHUFFLE_PARTITIONS = "1"
_KEY = "spark.sql.shuffle.partitions"

# Refcounted pin: replay streams run on concurrent threads (the
# registry-wide sweeps submit queries from a thread pool), and a naive
# save/set/restore pair interleaved across two streams can capture the
# OTHER stream's pinned value as "prev" and leave the session pinned
# forever. The first stream in saves the session value and sets the
# pin; the last one out restores it; everyone in between just counts.
_PIN_LOCK = threading.Lock()
_PIN_DEPTH = 0
_PIN_PREV: str | None = None


def start_and_await(spark, writer) -> None:
    """Start a fully-configured ``DataStreamWriter`` under the replay
    state-partitioning and block until the availableNow trigger drains
    the source. The session's shuffle-partition setting is restored
    even if the stream fails (by whichever concurrent replay exits
    last); foreachBatch bodies intentionally run INSIDE the pinned
    conf (their per-batch merges shuffle micro-batch-sized data, same
    argument as the state stores)."""
    global _PIN_DEPTH, _PIN_PREV
    with _PIN_LOCK:
        if _PIN_DEPTH == 0:
            _PIN_PREV = spark.conf.get(_KEY)
            spark.conf.set(_KEY, REPLAY_SHUFFLE_PARTITIONS)
        _PIN_DEPTH += 1
    try:
        query = writer.start()
        query.awaitTermination()
    finally:
        with _PIN_LOCK:
            _PIN_DEPTH -= 1
            if _PIN_DEPTH == 0:
                spark.conf.set(_KEY, _PIN_PREV)


def scratch_dir(tag: str) -> str:
    """A fresh per-run directory (checkpoint, foreachBatch table)."""
    return tempfile.mkdtemp(prefix=f"hs_{tag}_")


def sink_name(name: str, sf_dir: str) -> str:
    """The memory sink the registered stream ``name`` writes over
    ``sf_dir``: the registry name plus the corpus digest, so runs over
    different corpora never shadow each other. A rerun over the same
    corpus reuses the name; a frame read from the earlier run keeps
    that run's rows."""
    from ..sources.maintenance import corpus_digest

    return f"{name}_{corpus_digest(sf_dir, width=8)}"


def run_replay(
    spark,
    sf_dir: str,
    name: str,
    table: str,
    source: Callable[[], str],
    schema: str,
    plan: Callable[[DataFrame], DataFrame],
    mode: str,
    read: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Run the registered stream ``name`` once per (session, corpus)
    and return ``read`` of its memory sink.

    A cold call builds the replay directory (``source``), replays it
    (one file per micro-batch) through ``plan`` into the memory sink
    ``sink_name(name, sf_dir)`` in output ``mode``, drains it with
    ``availableNow`` and deletes the checkpoint: the sink lives in the
    driver and never reads it. The result is memoized under version
    ``name`` of the source ``table``: a stream executes continuously
    in production, so re-invoking the query reads its sink, it does
    not restart the stream, and a warm call returns the same frame
    without touching the replay directory. Cold replay cost is priced
    by clearing the memo (bench warm-up, tools/scaling_probe.py)."""
    # imported here so a wrapper on the module attribute (the
    # benchmark tracer) sees every call
    from ..sources.maintenance import session_memo

    def run() -> DataFrame:
        src = source()
        qname = sink_name(name, sf_dir)
        ckpt = scratch_dir(f"{name}_ck")
        writer = (
            plan(read_replay_stream(spark, src, schema))
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        try:
            start_and_await(spark, writer)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        return read(spark.table(qname))

    return session_memo(spark, sf_dir, table, name, run)
