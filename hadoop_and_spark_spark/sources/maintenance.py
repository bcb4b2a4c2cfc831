"""Table maintenance: small-file compaction + keep-latest merge upsert.

The two storage chores every long-lived 100 TB table needs between
queries (streaming sinks and incremental ingests fragment tables;
late/corrected records need keyed upserts). Neither exists in the
reference — its outputs are write-once HDFS directories — but an
engine a reference user could "switch to and run everything" needs
the table lifecycle, not just the queries.

Both are plain-parquet implementations (no external table format):
atomicity is write-to-new-directory + swap by the caller, the same
contract as the reference's job-output directories. On a transactional
lakehouse format these become `OPTIMIZE` / `MERGE INTO`; the plan
shapes below are what those execute under the hood.
"""

from __future__ import annotations

import math
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def corpus_digest(sf_dir: str, width: int = 16) -> str:
    """Stable per-corpus digest (md5 of the absolute scale-dir path).
    THE one implementation — replay paths, layout paths, and
    memory-sink names all key on it, and a width or scheme drift
    between copies would silently split their caches."""
    import hashlib

    return hashlib.md5(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:width]


def corpus_tmp_path(prefix: str, sf_dir: str) -> str:
    """Canonical /tmp location of a per-corpus derived artifact
    (replay source, partitioned/z-ordered layout): one digest-named
    directory per (artifact kind, corpus), shared by build_once."""
    import tempfile

    return os.path.join(
        tempfile.gettempdir(), f"{prefix}{corpus_digest(sf_dir)}"
    )


def source_marker(sf_dir: str, table: str, version: str) -> str:
    """Cache key for a derived artifact (persisted index, inverted
    file) of one source table: absolute path + mtime + size + artifact
    format version. Any source refresh or format bump changes the key,
    so stale artifacts can never serve reads silently (the
    tools/scaling_probe.py marker pattern)."""
    p = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    st = os.stat(p)
    return f"{p}|{st.st_mtime_ns}|{st.st_size}|{version}"


_BUILD_LOCKS: dict[str, object] = {}
_LOCK_GUARD = threading.Lock()


def _keyed_lock(locks: dict, key) -> object:
    """One lock per key, allocated under a module guard — concurrent
    sweep threads building the SAME artifact serialize on its key
    while different artifacts build in parallel.

    Registered queries may run on concurrent threads with no
    cross-query serialization (tests' run_queries_concurrently), so
    all shared state is locked at its source: the session memo and
    on-disk builds here, the replay shuffle-partition pin
    (streaming/runtime.py, refcounted), the memory-sink sequence
    (trending._SEQ_LOCK) and scoped SQL-conf mutation
    (catalog._CONF_LOCK). An in-session artifact cache is a
    ``session_memo`` call, not a new module-level dict."""
    with _LOCK_GUARD:
        return locks.setdefault(key, threading.Lock())


def build_once(out_path: str, marker: str, build) -> bool:
    """Idempotent derived-artifact builder — the "index built once,
    queries seek" deployment contract of the persisted-index family.

    Runs ``build()`` only when ``out_path`` lacks a ``_BUILD_MARKER``
    matching ``marker``; the stale marker is DELETED before the build
    starts and rewritten only after it succeeds, so a crashed rebuild
    can never leave the old marker claiming the (now mixed-state)
    directory is current — regardless of whether the builder
    overwrites ``out_path`` itself or only subdirectories beneath it
    (write_index overwrites postings/doclen/stats, not the root).
    Returns True when a build ran.

    Check-and-build holds a per-path lock: the default weekly-replay
    dir is shared by three streaming modules, whose queries may now
    run on concurrent sweep threads — without the lock two threads
    could both miss the marker and overwrite each other's half-built
    directory. (Cross-PROCESS builders still race, as ever; the
    driver and tests are single-process.)"""
    with _keyed_lock(_BUILD_LOCKS, os.path.abspath(out_path)):
        mp = os.path.join(out_path, "_BUILD_MARKER")
        try:
            with open(mp) as fh:
                if fh.read() == marker:
                    return False
        except OSError:
            pass
        try:
            os.remove(mp)
        except OSError:
            pass
        build()
        with open(mp, "w") as fh:
            fh.write(marker)
        return True


_SESSION_MEMO: dict[tuple[str, str], object] = {}
_MEMO_LOCKS: dict[tuple[str, str], object] = {}

# Guards every iteration and mutation of _SESSION_MEMO. The per-key
# locks above serialize same-artifact builds but still let thread A
# insert key X while thread B scans the dict for key Y's superseded
# entries, and an unlocked scan raises 'dictionary changed size
# during iteration'. Never held across a Spark call: unpersist runs
# after it is released.
_CACHE_LOCK = threading.Lock()

# Total session_memo calls (hits AND builds). bench.py diffs this
# around each query to tag memo-served rows in BENCH_QUERIES.json, so
# a 0.02 s cached-read timing can never be mistaken for pipeline cost.
MEMO_TOUCHES = 0


def clear_session_caches() -> None:
    """Clear the in-session derived-artifact memo. Used by bench.py
    and tools/scaling_probe.py to price COLD runs honestly; persisted
    on-disk artifacts (build_once markers) are deliberately left —
    those are built once across sessions by contract."""
    with _CACHE_LOCK:
        _SESSION_MEMO.clear()


def _try_unpersist(obj) -> None:
    """Best-effort release of a superseded memo value's cached blocks:
    DataFrames (incl. localCheckpoint results) unpersist; tuples are
    walked; driver-side lists have nothing to free."""
    if isinstance(obj, tuple):
        for part in obj:
            _try_unpersist(part)
        return
    unp = getattr(obj, "unpersist", None)
    if callable(unp):
        try:
            unp()
        except Exception:  # noqa: BLE001 — release is advisory
            pass


def _memo_insert(key: tuple[str, str], value) -> None:
    """Insert ``value`` into the session memo and evict, in the same
    _CACHE_LOCK hold, every entry with ``key``'s (applicationId, table
    path, artifact version) but a DIFFERENT source mtime/size — the
    entries an in-place table rewrite superseded. One atomic mutation,
    so no concurrent same-table build can slip an entry in between
    the scan and the insert; without the eviction every rewrite would
    leak the old entry (and its checkpoint blocks) for the application
    lifetime. The victims' unpersist (a Py4J call) runs after the lock
    is released."""
    app, marker = key
    # rsplit, not split: the marker tail (mtime|size|version) is
    # '|'-free by construction (source_marker), but the PATH prefix
    # is user-controlled — a table path containing '|' would
    # over-split a plain split() and silently skip eviction.
    path, _mt, _sz, version = marker.rsplit("|", 3)
    with _CACHE_LOCK:
        victims = []
        for k in [k for k in _SESSION_MEMO if k != key and k[0] == app]:
            kp = k[1].rsplit("|", 3)
            if len(kp) == 4 and kp[0] == path and kp[3] == version:
                victims.append(_SESSION_MEMO.pop(k))
        _SESSION_MEMO[key] = value
    for v in victims:
        _try_unpersist(v)


def artifact_checkpoint(df, eager: bool = True):
    """``localCheckpoint`` for CORPUS-SIZED artifacts (shingle tables,
    band tables, pair graphs) with a storage level sized to the heap.

    The default MEMORY_AND_DISK checkpoint pins the artifact's blocks
    in the unified pool's storage half; on a big heap that is the
    point (artifacts are re-read by several downstream passes), but on
    a small heap the pinned blocks starve execution memory for the
    join/aggregate passes that FOLLOW — the 2 GiB memory probe showed
    the ngram-jaccard candidate stage OOMing not on its own working
    set but on the ~600 MB deserialized shingle checkpoint it had to
    share the heap with. Under 8 GiB the artifact therefore goes
    DISK_ONLY (serialized, page-cache-fast locally; at cluster scale
    the analogous artifact is a parquet handoff anyway) and the whole
    execution pool stays available to the heavy stages.

    The heap is read from the OWNING session's ``spark.driver.memory``,
    not the env var: callers may pass their own session (the
    documented catalog.py case — the driver harness does), and the
    decision must track the JVM that will actually hold the blocks."""
    from pyspark.storagelevel import StorageLevel

    from ..session import _mem_bytes

    heap = _mem_bytes(
        df.sparkSession.conf.get("spark.driver.memory", "16g") or "16g"
    )
    level = None if heap >= 8 << 30 else StorageLevel.DISK_ONLY
    return df.localCheckpoint(eager=eager, storageLevel=level)


def session_memo(spark: SparkSession, sf_dir: str, table: str, version: str, build):
    """In-session twin of ``build_once``: memoize a derived artifact
    (checkpointed frame, trained model, converged ranks, IVF index,
    pair graph) per (applicationId, source_marker) — the one
    phase-handoff cache of the package. The source marker (path +
    mtime_ns + size) invalidates the memo when the source table is
    rewritten in-place, and inserting the fresh entry EVICTS the
    superseded one (same app/table/version, older marker) so dead
    checkpoint blocks don't accumulate across rewrites; a new session
    starts cold (checkpoint blocks die with the application).
    clear_session_caches empties it so cold runs include the build.

    Call sites import this function inside their bodies, so a wrapper
    installed on the module attribute (the benchmark tracer) sees
    every call."""
    global MEMO_TOUCHES
    MEMO_TOUCHES += 1
    key = (spark.sparkContext.applicationId, source_marker(sf_dir, table, version))
    # Per-key lock: concurrent sweep threads wanting the SAME artifact
    # wait for one build instead of double-building (and with
    # streaming replays, double-STARTING a stream); different
    # artifacts still build in parallel.
    with _keyed_lock(_MEMO_LOCKS, key):
        with _CACHE_LOCK:
            hit = _SESSION_MEMO.get(key)
        if hit is None:
            hit = build()
            _memo_insert(key, hit)
    return hit


def evict_version(version: str) -> None:
    """Drop every session-memo entry whose artifact VERSION tag
    matches — the supported test-facing way to force a rebuild of one
    artifact family (the budget-guard and recovery-contract tests
    need a memo MISS so the build path actually runs). Matches on the
    marker's version field proper (rsplit, the _memo_insert
    discipline), not a substring of the whole key, so a path that
    happens to contain the version string can't be swept by accident.
    Unpersist of evicted values runs outside the lock, as everywhere."""
    with _CACHE_LOCK:
        victims = []
        for k in [k for k in _SESSION_MEMO]:
            parts = k[1].rsplit("|", 3)
            if len(parts) == 4 and parts[3] == version:
                victims.append(_SESSION_MEMO.pop(k))
    for v in victims:
        _try_unpersist(v)


def parquet_data_size(path: str) -> int:
    """Total bytes of parquet data files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a fragmented parquet directory into ~target-sized files.

    The file count comes from the actual on-disk byte size (compressed
    parquet), not a row-count guess, so compaction converges in one
    pass: n_files = ceil(bytes / target). The rewrite is a pure
    round-robin ``repartition(n)`` — no keys, no sort, one shuffle
    whose only job is evening out file sizes; scan-side,
    ``maxPartitionBytes`` already papers over small files for READS,
    but footer/open overhead and driver file listings still scale with
    file COUNT, which is what compaction fixes. Returns the file count
    written."""
    n_files = max(1, math.ceil(parquet_data_size(in_path) / target_file_bytes))
    df = spark.read.parquet(in_path)
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def merge_upsert(
    spark: SparkSession,
    base_path: str,
    updates: DataFrame,
    key: str,
    version_col: str,
    out_path: str,
) -> None:
    """Keyed keep-latest merge: rows from ``updates`` replace base rows
    with the same ``key``; among duplicates the highest
    ``version_col`` wins (ties break toward the update side).

    Plan shape: union-tagged anti-join-free merge — both sides union
    with a side marker, then ONE hash aggregation per key keeps the
    max (version, is_update) row via ``max_by``. One shuffle on the
    key, no join node, no driver materialization: the same
    single-shuffle trick as the as-of union (temporal.py). At scale
    the aggregation is partial map-side for the (common) case where a
    key's rows co-locate in input splits."""
    base = spark.read.parquet(base_path)
    if set(base.columns) != set(updates.columns):
        raise ValueError(
            f"schema mismatch: base={sorted(base.columns)} "
            f"updates={sorted(updates.columns)}"
        )
    cols = base.columns
    tagged = base.withColumn("__upd", F.lit(0)).unionByName(
        updates.select(*cols).withColumn("__upd", F.lit(1))
    )
    payload = F.struct(*[F.col(c) for c in cols])
    merged = (
        tagged.groupBy(key)
        .agg(F.max_by(payload, F.struct(F.col(version_col), F.col("__upd"))).alias("p"))
        .select(*[F.col(f"p.{c}").alias(c) for c in cols])
    )
    merged.write.mode("overwrite").parquet(out_path)
