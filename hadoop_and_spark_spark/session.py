"""SparkSession factory.

One place to encode the execution-model decisions that matter at
100 TB but must also behave on local[32]:

- AQE on (runtime join-strategy switch, partition coalescing, skew
  splitting) — replaces every hand-tuned reducer count in the
  reference (e.g. ``-reducers N``, RunPersonalizedPageRankBasic's
  fixed partition counts).
- Arrow on for the few Pandas-UDF kernels.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle bit-for-bit.
- Shuffle partitions default small locally (override with
  SPARK_GRAFT_SHUFFLE); on a real cluster this would be sized to
  ~128 MB post-shuffle partitions, and AQE coalesces down anyway.
- Generated-code cache sized to the registry, so a query shape that
  already ran reuses its compiled classes instead of recompiling them
  with Janino and JIT-compiling them again.
- Streaming checkpoints written through the FileSystem-based
  checkpoint manager, whose local rename is one atomic call instead
  of a shell process per checkpoint file.
- Python workers forked from ``worker_daemon``, whose zip importers
  re-read ``pyspark.zip``'s directory only when the file changed
  instead of on every task.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` partitions IFF
    the plan has fewer. Small local scans (one parquet file) otherwise pin
    every downstream stage — Arrow kernels especially — to one core;
    a 100 TB scan already has >> defaultParallelism input splits, so
    there this is a no-op (no shuffle inserted).

    Call ONLY on scan-rooted plans: the partition introspection
    converts the plan to an RDD, and under AQE that finalizes — i.e.
    eagerly EXECUTES — any shuffle stages the plan contains, running
    them again when the real action fires. For a shuffle-rooted frame
    use a plain ``repartition(n)`` instead."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def fan_out_local_sorted(df: DataFrame, *cols: str) -> DataFrame:
    """Parallel + WITHIN-PARTITION ordered — the scale-safe form for
    corpus-sized outputs whose ordering is presentation-only: the
    round-robin ``fan_out`` (a no-op once the scan has enough input
    splits, i.e. always at 100 TB) followed by a local sort (no
    exchange, no range-sampling pass). Where downstream logic needs
    global order, ``orderBy`` it."""
    return fan_out(df).sortWithinPartitions(*cols)


def _mem_bytes(spec: str) -> int:
    """JVM memory spec ('16g', '16gb', '512m', plain bytes) → bytes.

    Tolerant of the spellings users actually type into
    $SPARK_GRAFT_DRIVER_MEM ('16gb', trailing spaces, '' ): anything
    unparseable falls back to the 16 GiB default with a warning
    instead of crashing session startup — the value only scales
    conservative memory thresholds, so a wrong-but-sane default
    degrades plans, never correctness. Fractional specs ('1.5g') are
    rejected by the JVM itself, so they fall back too."""
    import re
    import warnings

    m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", spec.strip().lower())
    if not m:
        warnings.warn(
            f"unparseable memory spec {spec!r}; using 16g", stacklevel=2
        )
        return 16 << 30
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "": 1}
    return int(m.group(1)) * mult[m.group(2)]


def get_spark(app_name: str = "hadoop-and-spark-spark") -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Local cores come from $SPARK_GRAFT_CPUS (fallback 32); shuffle
    partitions from $SPARK_GRAFT_SHUFFLE (fallback = cores, so one
    wave of reduce tasks locally).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus)))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    # Broadcast threshold sized to the heap, never a flat constant: a
    # broadcast relation costs ~5-10x its shuffle bytes as an in-heap
    # hash map, built while concurrent tasks hold execution memory, so
    # what is a fine broadcast on a 16 GiB JVM OOMs a 2 GiB one (the
    # bounded-memory probe caught exactly this: AQE re-chose broadcast
    # for a vocabulary-sized join under a 2 GiB heap at a flat 64 MB
    # threshold and the broadcast build failed). heap/256 is 64 MB
    # at the 16 GiB default; smaller heaps degrade to shuffled joins
    # instead of dying. On a real cluster this mirrors sizing the
    # threshold to executor memory, not to the dataset you hope is
    # small.
    bcast_threshold = max(4 << 20, min(64 << 20, _mem_bytes(driver_mem) // 256))
    # Tungsten page size, heap-scaled for the same reason: Spark sizes
    # pages up as cores-per-memory shrinks (a 2 GiB/2-core session
    # computed 256 MB pages), and a stage that pipelines a sort-merge
    # join into a partial aggregate holds several consumers per task —
    # granular pages let them trade memory through spill cycles where
    # one 256 MB request on a ~1 GiB execution pool dies with
    # UNABLE_TO_ACQUIRE_MEMORY (measured by the 2 GiB bounded-memory
    # probe on the ngram-jaccard candidate stage). heap/128 is the
    # 64 MB ceiling at the 16 GiB default; small heaps get
    # proportionally granular pages.
    page_size = max(1 << 20, min(64 << 20, _mem_bytes(driver_mem) // 128))
    # Spill-merge readers each hold a 2 x 1 MB read-ahead double
    # buffer, and UnsafeExternalSorter merges ALL of a task's spill
    # files through one priority queue — a heavy aggregate that
    # spilled 60 files re-buys 120 MB per task at merge time, which
    # the 2 GiB probe measured as the terminal OOM of the
    # ngram-jaccard candidate stage after every allocator-level cause
    # was fixed. Small heaps trade the read-ahead pipelining (a
    # sequential-read optimization, near-free on page-cached local
    # disks) for merge-buffer headroom; the 16 GiB default keeps it.
    small_heap = _mem_bytes(driver_mem) < 8 << 30

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite a planned sort-merge join to a shuffled hash
        # join at runtime when every post-shuffle partition's build
        # side is measured under the advisory partition size (guide
        # §3.1): the sort drops out exactly when the per-task hash map
        # provably fits, and the bound is per-partition, so it is the
        # same decision on a 3-node or 3000-node cluster. Static plans
        # (and the plan-pin tests) are unchanged — this only rewrites
        # at runtime from measured sizes. Spark's default is 0 (off).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 << 20),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet writes in zstd, not the snappy default (guide §6).
        # SESSION-GLOBAL: this covers the persisted artifacts it was
        # measured for (postings-index build at sf0.1 — 399,375 →
        # 294,010 bytes, -26%, build/serve flat) AND every other
        # session write (compaction outputs, streaming stage files,
        # session-rewritten corpora). Size heuristics calibrated
        # against snappy bytes must account for that: dedup.py's
        # broadcast gate reads the corpus files' actual codec
        # (_disk_heap_multiplier) instead of assuming the snappy
        # ratio. Reads stay splittable and the codec is per-file
        # metadata, so existing snappy artifacts keep reading fine.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(bcast_threshold))
        .config("spark.buffer.pageSize", str(page_size))
        .config(
            "spark.unsafe.sorter.spill.read.ahead.enabled",
            "false" if small_heap else "true",
        )
        .config("spark.driver.memory", driver_mem)
        # Spill/shuffle compression runs through lz4-java's JNI
        # critical sections, which hold the GCLocker; JDK 17 retries a
        # blocked allocation only twice before throwing a spurious
        # heap OOM (JDK-8192647) — under heavy spill on a small heap
        # the 2 GiB probe hit exactly that ('Retried waiting for
        # GCLocker too often') with memory demonstrably free. Raising
        # the retry count is the documented remedy; it is inert on an
        # unpressured heap.
        # ParallelGC, not the JDK-default G1: this engine is pure
        # batch (throughput, no latency SLO), and Tungsten's big
        # contiguous allocations — hash-map doublings and sorter
        # pointer arrays of 64-256 MB — are 'humongous' objects to G1,
        # which needs that many CONTIGUOUS small regions (at a 2 GiB
        # heap: 128 x 1 MB) and fails them under fragmentation long
        # before the heap is actually full; the old-gen-compacting
        # parallel collector serves them as ordinary allocations. The
        # GCLocker retry bump covers lz4-java's JNI critical sections
        # holding GC during spill compression (JDK-8192647: default
        # retry is 2, throwing spurious OOMs under heavy spill).
        # Both measured by the 2 GiB bounded-memory probe on the
        # ngram-jaccard candidate stage.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseParallelGC "
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64",
        )
        # ContextCleaner frees dead checkpoint/broadcast/shuffle state
        # only after a JVM GC collects the weak references; its default
        # periodic System.gc() interval (30min) never fires inside a
        # bench-length run, so on an unpressured 16 GiB ParallelGC heap
        # dead localCheckpoint blocks from ~430 query executions
        # accumulate until the heap is exhausted and the JVM dies on a
        # long multi-pass run. 90s bounds the residue to ~a pass's worth;
        # measured whole-suite impact is inside the host noise band
        # (full GCs on this heap are tens of ms).
        .config("spark.cleaner.periodicGC.interval", "90s")
        # Generated-code cache: Spark keeps compiled whole-stage and
        # expression classes in a cache of this many entries (default
        # 100). One pass over the full registry generates ~1,330
        # distinct classes and one relational_warm pass compiles ~182,
        # so at the default every repeated pass recompiles every query
        # with Janino and HotSpot JIT-compiles the fresh classes again.
        # 4096 holds a full registry pass with ~3x headroom for the
        # test session, which runs extra shapes. It caches code, never
        # data or results. Static conf: read once when CodeGenerator's
        # cache is built, so it must be set on the builder.
        # Rejected on top of it: -XX:TieredStopAtLevel=1 (C1 only).
        # It cut sf0.01 pass CPU a further 20-27%, but made sf0.1
        # queries 1.1-2.3x slower (q9_price_percentiles 2.67 ->
        # 5.5-6.2 s), because C1 code is slower once work grows.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Streaming checkpoint manager. Spark's default, the
        # FileContext-based one, renames through RawLocalFileSystem,
        # which without Hadoop's native library (PySpark ships none)
        # forks a `readlink` per rename and a `chmod` per file it
        # creates; a replay writes offsets, commits, source logs and
        # state deltas, each with a .crc sibling. The FileSystem-based
        # manager renames with FileSystem.rename (File.renameTo
        # locally, atomic within one filesystem), with no `readlink`.
        # With one replay state partition (streaming/runtime.py), one
        # cold event_count_hourly_stream run at sf0.01 on 4 vCPUs went
        # from ~1,400 new processes and 6.1 CPU-s (1.8 of them in
        # reaped children) to ~160 and 3.1 CPU-s, rows unchanged.
        # Checkpoint checksums
        # (spark.sql.streaming.checkpoint.fileChecksum.enabled) stay
        # on: they are an integrity check.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Python worker daemon (worker_daemon.py): the workers it forks
        # keep each zip archive's directory until the file changes,
        # where pyspark.daemon's re-read pyspark.zip on every task
        # (~0.27 CPU-s each). Static conf: read when the worker
        # factory starts the daemon.
        .config(
            "spark.python.daemon.module", "hadoop_and_spark_spark.worker_daemon"
        )
        .config("spark.ui.enabled", "false")
        # Console progress bars share stdout with the driver's JSON
        # tail capture (bench.py prints its result line there); static
        # conf, so it must be set at builder time.
        .config("spark.ui.showConsoleProgress", "false")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long and convert in the
        # catalog (micro truncation can't move a window bucket).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    return builder.getOrCreate()
