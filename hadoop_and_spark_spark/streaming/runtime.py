"""Replay-stream runtime: the one place a registered stream runs.

``run_replay`` owns the harness every registered replay query shares:
a one-file-per-trigger file source over a scripted replay directory,
a memory sink with a unique per-corpus name, a fresh checkpoint
(deleted after the run), an ``availableNow`` trigger that drains the
replay, and the sink read back as a DataFrame. A query supplies only
its plan (stream -> frame), its sink tag and its output mode.
(cdc_upsert_stream, whose sink is a ``foreachBatch`` merge, builds
its own writer and shares the source and ``start_and_await``.)

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


_STREAM_SEQ = [0]  # unique memory-sink names across repeat invocations
_SEQ_LOCK = threading.Lock()  # guards seq + _SINKS registration

# Newest memory-sink name per (tag, corpus). A replay runs once per
# (session, corpus), but the totality sweeps run every registered
# query against OTHER corpora too (e.g. an empty dir), each starting
# its own stream with a fresh seq — so "the raw sink for MY corpus"
# resolves by (tag, corpus), never by newest seq. Latest registration
# wins per key, which is the session_memo invariant (one live replay
# per session+corpus).
_SINKS: dict[tuple[str, str], str] = {}


def _corpus_digest(sf_dir: str) -> str:
    from ..sources.maintenance import corpus_digest

    return corpus_digest(sf_dir, width=8)


def register_sink(tag: str, sf_dir: str) -> str:
    """Allocate a unique memory-sink name for a replay stream over
    ``sf_dir`` and record it as the newest sink for (tag, corpus).
    The name embeds the corpus digest so sinks from different corpora
    can never shadow each other. Locked: replay queries may run on
    concurrent sweep threads, and a duplicated seq would alias two
    streams onto one memory-sink table."""
    with _SEQ_LOCK:
        _STREAM_SEQ[0] += 1
        qname = f"{tag}_{_corpus_digest(sf_dir)}_{_STREAM_SEQ[0]}"
        _SINKS[(tag, _corpus_digest(sf_dir))] = qname
    return qname


def sink_table(spark, sf_dir: str, tag: str) -> DataFrame:
    """The raw (pre-consolidation) memory sink of the newest ``tag``
    stream run over ``sf_dir`` in this session. Raises KeyError if no
    such stream has run — callers invoke the query first. A test hook
    onto the private sink registry."""
    return spark.table(_SINKS[(tag, _corpus_digest(sf_dir))])


def run_replay(
    spark,
    sf_dir: str,
    tag: str,
    source_dir: str,
    schema: str,
    plan: Callable[[DataFrame], DataFrame],
    mode: str,
) -> DataFrame:
    """Replay ``source_dir`` (one file per micro-batch) through
    ``plan`` into a fresh memory sink in output ``mode``, drain it
    with ``availableNow``, and return the sink table. The checkpoint
    is deleted once the run ends: the sink table lives in the driver
    and never reads it. Read-back order and any consolidation are the
    caller's."""
    qname = register_sink(tag, sf_dir)
    ckpt = scratch_dir(f"{tag}_ck")
    writer = (
        plan(read_replay_stream(spark, source_dir, schema))
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
    return spark.table(qname)
