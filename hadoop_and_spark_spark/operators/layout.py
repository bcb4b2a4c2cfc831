"""Data-layout and runtime-pruning operators.

The reference never had to think about layout — its corpora fit one
teaching host (`/root/reference/assignment0.md` §Q3: 14 mappers).
At 100 TB the dominant costs are (a) rows that enter a shuffle only
to be discarded by the join on the other side, and (b) scans that
cannot skip files because the interesting rows are scattered across
all of them. This module implements the two standard answers as
first-class, oracle-checked operators:

- ``bloom_prune_join`` — a declarative Bloom-style bitmap semi-filter
  applied to the fact side BEFORE its shuffle, the manual form of
  Spark's own runtime row-level filtering
  (``spark.sql.optimizer.runtimeFilter.bloomFilter.enabled``), for
  the plans the optimizer cannot reach (pre-aggregated inputs,
  foreachBatch sinks, hand-built pipelines).
- ``zorder_key`` / ``zorder_layout`` — Morton (Z-order) interleaving
  of two clustering dimensions so a single range-partitioned sort
  bounds BOTH dimensions per output bucket, which is what makes
  parquet min/max footer stats prunable on either predicate.
- ``latest_snapshot`` — changelog → current-state snapshot (latest
  row per key with tombstone removal) via ``max(struct(...))``
  partial aggregation instead of a window sort: the map-side combine
  reduces each partition to one candidate row per key before the
  shuffle, where ``row_number() = 1`` would shuffle every row.

All three are pure built-in-function plans (no Python in the hot
path) and each registered query has a DuckDB oracle expressing the
same semantics the naive way — the layout machinery must be invisible
in the result to be correct.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..functions.portable import round6, round6_sql

# --------------------------------------------------------------- bloom

# Bitmap sizing for the demo: M = 2^18 bits, k = 2 hashes. With n keys
# the false-positive rate is (1 - e^(-kn/M))^k: ~0.007% for the ~1.1k
# keys at sf0.1 (measured: 9 of 146,190 non-matching order keys, 32 of
# 595,747 non-matching lineitems; the rate predicts ~10 and ~39), and
# ~0.00007% for the 109 keys at sf0.01 (measured: none). False
# positives only cost work (they are removed by the exact join), never
# correctness. At a real 100 TB build-side, size M at ~10 bits/key and
# raise K_HASHES. Build and probe both read these two constants, so
# the two sides cannot disagree on the hash layout.
M_BITS = 1 << 18
K_HASHES = 2

URGENT_CUTOFF = "1995-04-01"


def bloom_bitmap(keys: DataFrame, key: str) -> DataFrame:
    """Build a Bloom filter over ``keys[key]`` as a DataFrame of
    occupied 64-bit words: ``(word_idx BIGINT, bits BIGINT)``.

    Hash i is ``pmod(xxhash64(key, seed=i), M_BITS)``; each key sets
    K_HASHES bits via ``bit_or`` partial aggregation, so the build is one
    map-side-combined shuffle of at most ``M_BITS/64`` rows — tiny and
    always broadcastable even when the key SET itself is not. Only
    occupied words are materialized (absent word ⇒ all-zero bits)."""
    per_hash = []
    for seed in range(K_HASHES):
        h = F.pmod(F.xxhash64(F.col(key), F.lit(seed)), F.lit(M_BITS))
        per_hash.append(
            keys.select(
                (h / 64).cast("long").alias("word_idx"),
                F.expr(
                    f"shiftleft(1L, cast(pmod(xxhash64({key}, {seed}),"
                    f" {M_BITS}) % 64 as int))"
                ).alias("bit"),
            )
        )
    stacked = per_hash[0]
    for extra in per_hash[1:]:
        stacked = stacked.unionAll(extra)
    return stacked.groupBy("word_idx").agg(F.bit_or("bit").alias("bits"))


def bloom_might_contain(probe: DataFrame, key: str, bitmap: DataFrame) -> DataFrame:
    """Keep only ``probe`` rows whose ``key`` passes the Bloom filter
    (every one of the K_HASHES bits set). Broadcast-joins the
    occupied-words table K_HASHES times on ``word_idx`` — each a
    map-side hash lookup, no shuffle of the probe side — and filters
    ``bits & bit != 0``. A LEFT join treats missing words as
    definite-absent."""
    out = probe
    for seed in range(K_HASHES):
        h = F.pmod(F.xxhash64(F.col(key), F.lit(seed)), F.lit(M_BITS))
        bm = bitmap.withColumnRenamed("bits", f"__bits{seed}")
        out = (
            out.withColumn("__w", (h / 64).cast("long"))
            .withColumn(
                "__b",
                F.expr(
                    f"shiftleft(1L, cast(pmod(xxhash64({key}, {seed}),"
                    f" {M_BITS}) % 64 as int))"
                ),
            )
            .join(F.broadcast(bm), F.col("__w") == bm.word_idx, "left")
            .where(
                F.col(f"__bits{seed}").isNotNull()
                & (F.col(f"__bits{seed}").bitwiseAND(F.col("__b")) != 0)
            )
            .drop("__w", "__b", "word_idx", f"__bits{seed}")
        )
    return out


def bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by return flag for lineitems of urgent early-1995
    orders, with the fact side pre-pruned by a Bloom bitmap BEFORE
    the exact join (SURVEY §2.4 "not present": runtime filters).

    Build side: o_orderkey of orders with priority 1-URGENT placed
    before 1995-04-01 (~1% of orders). The KEY SET may be large at
    100 TB, but its Bloom bitmap is ≤ M_BITS/64 rows by construction
    — always broadcastable. Probe side: every lineitem checks the
    bitmap via broadcast word lookups (no shuffle), so only the ~1%
    true matches plus ~0.007% false positives ever reach the exact
    sort-merge join; shuffle volume drops ~99% versus joining first.
    The final join is hinted ``merge`` to model the production case
    where the build side exceeds the broadcast threshold — when it
    fits, a plain broadcast join subsumes all of this.

    Oracle: the same aggregate with a naive join — the Bloom must be
    result-invisible (false positives eliminated, no false negatives).
    tests/test_layout.py pins the plan: probe-side scan feeds the
    bitmap filter below the SortMergeJoin's exchange."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    urgent = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") < F.lit(URGENT_CUTOFF))
    ).select("o_orderkey")
    bitmap = bloom_bitmap(urgent, "o_orderkey")
    candidates = bloom_might_contain(li, "l_orderkey", bitmap)
    urgent_smj = urgent.hint("merge")
    exact = candidates.join(
        urgent_smj,
        candidates.l_orderkey == urgent_smj.o_orderkey,
        "left_semi",
    )
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            round6(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


# ------------------------------------------------------------- z-order

Z_BITS = 8          # bits per dimension
Z_BUCKETS_SHIFT = 11  # 16-bit z-key >> 11 = 32 buckets


def zorder_key(x: Column, y: Column) -> Column:
    """Morton-interleave two Z_BITS-bit non-negative ints: x's bit i
    lands at position 2i+1, y's at 2i. Pure integer arithmetic —
    whole-stage-codegen'd, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def zorder_key_sql(x: str, y: str) -> str:
    """DuckDB expression computing the identical Morton key."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


def write_zordered(df: DataFrame, x: str, y: str, path: str,
                   buckets: int = 32) -> None:
    """Materialize ``df`` clustered by z-order over (x, y): bucket by
    the EXPLICIT top log2(buckets) bits of the Morton key, one
    hive-style directory (and exactly one file) per bucket, rows
    z-sorted within each. Every file's parquet footer then carries
    TIGHT min/max for BOTH x and y, so a later scan with a predicate
    on either dimension skips most files — the property a
    single-column sort only gives one dimension.

    Top-bit bucketing instead of ``repartitionByRange(buckets, z)``
    is load-bearing twice over. Correctness of the span guarantee:
    range boundaries are SAMPLED (seeded by the shuffle RDD's id, so
    they drift with session history), and a boundary that lands
    mid-cell yields a file straddling two z-cells whose x/y span is
    the union — the dense-grid skipping test caught exactly that
    under full-suite ordering. Cost: the explicit bucket id is a
    codegen'd projection, dropping range partitioning's extra
    sampling pass over the input. Fixing the top z-bits fixes the
    top bits of both dimensions, so with 32 buckets over 8-bit dims
    every file provably spans ≤ 32 of 256 x-values and ≤ 64 of 256
    y-values — and the bucket id doubles as a hive partition key, so
    directory pruning composes with manifest pruning on the read
    side. At scale, grow ``buckets`` (any power of two up to
    4^Z_BITS); each bucket stays one file per write."""
    nbits = buckets.bit_length() - 1
    if buckets <= 0 or (1 << nbits) != buckets or nbits > 2 * Z_BITS:
        raise ValueError(
            f"buckets must be a power of two in [1, 4^Z_BITS]; got {buckets}"
        )
    keyed = df.withColumn("__z", zorder_key(F.col(x), F.col(y)))
    keyed = keyed.withColumn(
        "__zb", F.shiftright("__z", 2 * Z_BITS - nbits).cast("int")
    )
    (
        # Hash-repartition on the bucket id: collisions only co-locate
        # whole buckets in one TASK; partitionBy still splits them into
        # one file per bucket directory. The within-task sort leads
        # with __zb (the ordering dynamic partitioning needs — no
        # writer-inserted extra sort) and __z keeps rows z-ordered
        # inside each file.
        keyed.repartition(buckets, "__zb")
        .sortWithinPartitions("__zb", "__z")
        .drop("__z")
        .write.mode("overwrite")
        .partitionBy("__zb")
        .parquet(path)
    )


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket clustering statistics of a z-ordered events layout
    (SURVEY §2.4 "not present": multi-dimensional clustering).

    Dimensions: x = pmod(user_id, 256) (the access-path key), y =
    six-minute-of-day slot / 240 scaled to 8 bits (the time key).
    Bucket = top 5 bits of the 16-bit Morton key — exactly the file
    boundary ``write_zordered`` produces with 32 buckets.
    The returned min/max spans per bucket are the parquet-footer
    stats a reader would prune on: the top-5 z-bits fix x's bits
    7..5 and y's bits 7..6, so every bucket provably spans ≤ 32 of
    256 x-values and ≤ 64 of 256 y-values — a predicate on either
    dimension skips ≥ 7/8 (x) or ≥ 3/4 (y) of the files, where a
    ts-only sort gives x no pruning at all.

    The whole computation is one scan + one 32-group partial
    aggregate; at 100 TB the same plan computes the layout manifest
    (no shuffle of data rows, only of 32-key partials)."""
    ev = load_table(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(256)).cast("long")
    slot = (F.hour("ts") * 60 + F.minute("ts")) / F.lit(6)
    y = ((slot.cast("long")) * 256 / 240).cast("long")
    z = zorder_key(x, y)
    return (
        ev.select(
            F.shiftright(z, Z_BUCKETS_SHIFT).alias("bucket"),
            x.alias("x"),
            y.alias("y"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------ z-order read-side (scan)

# Probe predicate: a 4-wide x-slice, populated at every test SF (the
# smallest corpus only has user_ids 0..14). On a corpus whose x
# values cover the full 8-bit range, a z-ordered layout confines each
# file's x-span to ~32 of 256 values, so a narrow slice opens ~1/8 of
# the files (tests/test_layout.py pins the factor on a dense grid
# where the bound is deterministic); a ts-sorted layout would open
# every file.
ZSCAN_X_LO, ZSCAN_X_HI = 8, 12


def zordered_events_path(sf_dir: str) -> str:
    """Canonical location of the z-ordered events layout for a
    corpus; the skipping manifest lives at ``<path>_mf``."""
    from ..sources.maintenance import corpus_tmp_path

    return corpus_tmp_path("hs_evz_", sf_dir)


def write_zordered_events(spark: SparkSession, sf_dir: str,
                          path: str) -> None:
    """Materialize the z-ordered events layout AND its skipping
    manifest: per output file, the min/max of both clustering
    dimensions — exactly the parquet footer stats, lifted into a
    metadata table so planning can prune files without opening any
    footer (the Iceberg/Delta data-skipping design: manifest rows
    scale with FILE count, not row count)."""
    ev = load_table(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(256)).cast("long")
    slot = (F.hour("ts") * 60 + F.minute("ts")) / F.lit(6)
    y = ((slot.cast("long")) * 256 / 240).cast("long")
    df = ev.select(
        x.alias("x"), y.alias("y"), "event_type", "value"
    )
    write_zordered(df, "x", "y", path)
    import glob as _glob
    import os as _os

    if not _glob.glob(_os.path.join(path, "**", "*.parquet"),
                      recursive=True):
        # Empty corpus: a partitionBy write of an empty frame emits no
        # schema-bearing files, so there is nothing to read back. Leave
        # the manifest absent — zordered_scan's degenerate path reads
        # the source table with a false predicate instead.
        return
    back = read_parquet(spark, path)
    (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            F.min("x").alias("min_x"), F.max("x").alias("max_x"),
            F.min("y").alias("min_y"), F.max("y").alias("max_y"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path + "_mf")
    )


def zscan_candidate_files(spark: SparkSession, path: str,
                          lo: int, hi: int) -> tuple[list, int]:
    """Manifest-driven planning: (files whose x-span intersects
    [lo, hi), total file count). Driver-side by design — the manifest
    has one row per FILE (≤ tens of thousands at 100 TB, vs 10^9+
    data rows), the same metadata-scale read every table format's
    planner performs."""
    mf = read_parquet(spark, path + "_mf").collect()
    keep = [r.f for r in mf
            if r.max_x >= lo and r.min_x < hi]
    return keep, len(mf)


def zordered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type stats for one 4-wide x-slice, read FROM the z-ordered
    layout with manifest-driven file skipping — the read-side proof of
    ``write_zordered``'s claim (SURVEY §2.4 "not present":
    multi-dimensional clustering; ``zorder_layout`` verifies the
    bucket spans, this query actually prunes on them).

    Planning consults the per-file manifest and opens only files whose
    x-span intersects the slice. Because the layout buckets on the
    EXPLICIT top-5 Morton bits (one file per bucket), every file's
    x-span is provably confined to a 32-of-256-value cell and its
    y-span to 64 — the same bit-derived cells ``zorder_layout``
    manifests — so a narrow x-slice opens ≤ 1/8 of the files, and the
    SAME manifest prunes a y-slice too (tests/test_layout.py pins
    both factors on a dense deterministic grid, plus that the corpus
    layout skips files at every SF). The exact predicate is
    re-applied after the coarse file cut, so false inclusions cost
    I/O, never correctness.
    Oracle: the same filter and aggregate over the unpartitioned
    source table — the layout must be result-invisible."""
    from ..sources.maintenance import build_once, source_marker

    path = zordered_events_path(sf_dir)
    build_once(
        path,
        # v2: top-bit bucketed hive layout (was sampled range partitions)
        source_marker(sf_dir, "events", "evz_v2"),
        lambda: write_zordered_events(spark, sf_dir, path),
    )
    import glob as _glob
    import os as _os

    agg_cols = [
        F.count("*").alias("n_events"),
        round6(F.sum("value")).alias("sum_value"),
    ]
    if not _glob.glob(_os.path.join(path + "_mf", "part-*.parquet")):
        # empty corpus ⇒ no layout files were produced; degenerate to
        # the schema-preserving empty plan over the source table
        ev = load_table(spark, sf_dir, "events")
        part = ev.select(
            F.pmod(F.col("user_id"), F.lit(256)).cast("long").alias("x"),
            "event_type", "value",
        )
    else:
        files, _total = zscan_candidate_files(
            spark, path, ZSCAN_X_LO, ZSCAN_X_HI
        )
        if files:
            part = read_parquet(spark, *files).select(
                "x", "event_type", "value"
            )
        else:  # no file intersects the slice ⇒ provably empty result
            part = read_parquet(spark, path).select(
                "x", "event_type", "value"
            ).where(F.lit(False))
    return (
        part.where(
            (F.col("x") >= ZSCAN_X_LO) & (F.col("x") < ZSCAN_X_HI)
        )
        .groupBy("event_type")
        .agg(*agg_cols)
        .orderBy("event_type")
    )


# ----------------------------------------------- partitioned layout


PARTITION_WEEK = "2024-01-08"  # Monday; scan window = one ISO week


def partitioned_events_path(sf_dir: str) -> str:
    """Canonical location of the date-partitioned events layout for a
    corpus."""
    from ..sources.maintenance import corpus_tmp_path

    return corpus_tmp_path("hs_evdate_", sf_dir)


def write_date_partitioned(df: DataFrame, path: str) -> None:
    """Materialize hive-style date partitions: one directory per
    event_date, the standard 100 TB fact-table layout. Reads with a
    date predicate then PRUNE PARTITIONS at plan time (directories
    never listed, files never opened) — cheaper than any row-level
    mechanism because the pruning happens before I/O exists."""
    (
        df.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )


def partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type counts over ONE week of a date-partitioned events
    layout — the hive-style partition-pruning path (SURVEY §2.1 S2's
    100 TB companion: partition pruning is the first line of defense
    before parquet row-group stats and runtime filters).

    The layout is built once per corpus (build_once marker) by
    ``write_date_partitioned``; the query reads it back with a date
    range predicate that Catalyst turns into PartitionFilters — the
    scan lists only the 7 matching directories (of 30 here; of ~3650
    on a 10-year production corpus), so the rest is never opened
    (tests/test_layout.py pins PartitionFilters in the plan and that
    the scanned-file count shrinks). The oracle runs the same filter
    over the unpartitioned source table."""
    import glob as _glob
    import os as _os

    from ..sources.maintenance import build_once, source_marker

    path = partitioned_events_path(sf_dir)
    build_once(
        path,
        source_marker(sf_dir, "events", "evdate_v1"),
        lambda: write_date_partitioned(
            load_table(spark, sf_dir, "events"), path
        ),
    )
    start = F.lit(PARTITION_WEEK).cast("date")
    if not _glob.glob(_os.path.join(path, "event_date=*")):
        # empty corpus ⇒ the partitioned write produced no partition
        # directories (schema not inferable); degenerate to the
        # schema-preserving empty plan over the source table
        part = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
    else:
        part = read_parquet(spark, path)
    return (
        part.where(
            (F.col("event_date") >= start)
            & (F.col("event_date") < F.date_add(start, 7))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            round6(F.sum("value")).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------- changelog snapshot

TOMBSTONE = "error"  # event_type marking a deleted key in the demo


def latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog → current-state snapshot: the most recent event per
    user (ordered by ts, then event_id for uniqueness), dropping keys
    whose latest record is a tombstone (SURVEY §2.4 "not present":
    CDC snapshot read; the batch dual of ``sources/maintenance.py``'s
    ``merge_upsert`` foreachBatch sink).

    Implemented as ``max(struct(ts, event_id, event_type, value))``
    — struct comparison is lexicographic, and (ts, event_id) is a
    unique total order per key, so the max struct IS the latest row.
    Unlike the textbook ``row_number() OVER (PARTITION BY key ORDER
    BY ts DESC) = 1`` (which must shuffle and sort EVERY changelog
    row), the aggregate partial-combines map-side: each input
    partition ships exactly one candidate struct per key it has seen.
    At a 100 TB changelog with ~10^9 keys that is the difference
    between shuffling the full log and shuffling ~one row per key
    per partition. The oracle states the window form; results are
    identical by the uniqueness argument above."""
    ev = load_table(spark, sf_dir, "events")
    latest = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.struct("ts", "event_id", "event_type", "value")).alias(
                "last"
            )
        )
        .select(
            "user_id",
            F.col("last.ts").alias("last_ts"),
            F.col("last.event_type").alias("last_type"),
            F.col("last.value").alias("last_value"),
        )
    )
    # Within-partition order only: the output is keyed-cardinality
    # (one row per live user — 10^9 at 100 TB), so a global sort is
    # presentation-only cost; the driver compare canonicalizes rows.
    return (
        latest.where(F.col("last_type") != TOMBSTONE)
        .sortWithinPartitions("user_id")
    )


QUERIES = {
    "bloom_prune_join": bloom_prune_join,
    "zorder_layout": zorder_layout,
    "zordered_scan": zordered_scan,
    "latest_snapshot": latest_snapshot,
    "partitioned_scan": partitioned_scan,
}

ORACLE_SQL = {
    "bloom_prune_join": f"""
        SELECT l_returnflag, count(*) AS n_items,
               {round6_sql('sum(l_extendedprice * (1 - l_discount))')}
                   AS revenue
        FROM lineitem
        WHERE l_orderkey IN (
            SELECT o_orderkey FROM orders
            WHERE o_orderpriority = '1-URGENT'
              AND o_orderdate < TIMESTAMP '{URGENT_CUTOFF} 00:00:00'
        )
        GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "zorder_layout": f"""
        WITH pts AS (
            SELECT user_id % 256 AS x,
                   (((extract(hour FROM ts) * 60
                      + extract(minute FROM ts)) // 6) * 256 // 240) AS y
            FROM events
        ), keyed AS (
            SELECT x, y,
                   {zorder_key_sql('x', 'y')} >> {Z_BUCKETS_SHIFT} AS bucket
            FROM pts
        )
        SELECT bucket, count(*) AS n,
               min(x) AS min_x, max(x) AS max_x,
               min(y) AS min_y, max(y) AS max_y
        FROM keyed GROUP BY bucket ORDER BY bucket
    """,
    "zordered_scan": f"""
        SELECT event_type, count(*) AS n_events,
               {round6_sql('sum(value)')} AS sum_value
        FROM events
        WHERE (user_id % 256) >= {ZSCAN_X_LO}
          AND (user_id % 256) < {ZSCAN_X_HI}
        GROUP BY event_type ORDER BY event_type
    """,
    "partitioned_scan": f"""
        SELECT event_type, count(*) AS n_events,
               {round6_sql('sum(value)')} AS sum_value
        FROM events
        WHERE ts::date >= DATE '{PARTITION_WEEK}'
          AND ts::date < DATE '{PARTITION_WEEK}' + INTERVAL 7 DAY
        GROUP BY event_type ORDER BY event_type
    """,
    "latest_snapshot": f"""
        WITH ranked AS (
            SELECT user_id, ts AS last_ts, event_type AS last_type,
                   value AS last_value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        )
        SELECT user_id, last_ts, last_type, last_value
        FROM ranked WHERE rn = 1 AND last_type <> '{TOMBSTONE}'
        ORDER BY user_id
    """,
}
