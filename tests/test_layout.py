"""Layout/pruning operator tests: Bloom prefilter equivalence + plan,
z-order clustering invariants, latest-snapshot differential."""

from __future__ import annotations

import contextlib
import io

import pyspark.sql.functions as F
from pyspark.sql import Window

from hadoop_and_spark_spark.catalog import load_table
from hadoop_and_spark_spark.operators import layout as L
from hadoop_and_spark_spark.operators import relational as R


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# --------------------------------------------------------------- bloom


def test_bloom_prefilter_is_result_invisible(spark, sf_dir):
    """The Bloom-pruned semi-join must equal the naive semi-join
    row-for-row: no false negatives ever, false positives removed by
    the exact join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    urgent = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") < F.lit(L.URGENT_CUTOFF))
    ).select("o_orderkey")
    naive = li.join(
        urgent, li.l_orderkey == urgent.o_orderkey, "left_semi"
    )
    bitmap = L.bloom_bitmap(urgent, "o_orderkey")
    pruned = L.bloom_might_contain(li, "l_orderkey", bitmap)
    exact = pruned.join(
        urgent, pruned.l_orderkey == urgent.o_orderkey, "left_semi"
    )
    key = lambda df: sorted(  # noqa: E731
        (r.l_orderkey, r.l_linenumber) for r in df.collect()
    )
    assert key(exact) == key(naive) and naive.count() > 0


def test_bloom_filter_actually_prunes(spark, sf_dir):
    """The bitmap pass must reject the vast majority of non-matching
    fact rows (k=2 hashes, m=2^18 bits, ~100 keys at sf0.001 ⇒ FP
    rate well under 1%)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    urgent = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") < F.lit(L.URGENT_CUTOFF))
    ).select("o_orderkey")
    bitmap = L.bloom_bitmap(urgent, "o_orderkey")
    survivors = L.bloom_might_contain(li, "l_orderkey", bitmap).count()
    true_matches = li.join(
        urgent, li.l_orderkey == urgent.o_orderkey, "left_semi"
    ).count()
    total = li.count()
    false_pos = survivors - true_matches
    assert false_pos >= 0
    assert false_pos <= max(5, total * 0.01)


def test_bloom_plan_filters_below_the_smj_exchange(spark, sf_dir):
    """Plan shape: the registered query must contain the exact
    SortMergeJoin (LeftSemi) AND the broadcast bitmap lookups feeding
    it — i.e. the probe rows are filtered BEFORE the join's shuffle,
    which is the entire point at 100 TB."""
    p = plan(L.bloom_prune_join(spark, sf_dir))
    assert "SortMergeJoin" in p and "LeftSemi" in p
    assert p.count("BroadcastHashJoin") >= L.K_HASHES
    # the bitmap filter predicate survives into the physical plan
    assert "xxhash64" in p


# ------------------------------------------------------------- z-order


def test_zorder_key_is_a_bijection_on_the_grid(spark):
    n = 32  # 5-bit demo grid; full 8-bit would be 65536 rows
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )
    keys = grid.select(L.zorder_key(F.col("x"), F.col("y")).alias("z"))
    assert keys.distinct().count() == n * n
    lo, hi = keys.agg(F.min("z"), F.max("z")).first()
    assert lo == 0 and hi == n * n - 1  # dense on [0, 4^5)


def test_zorder_buckets_bound_both_dimensions(spark, sf_dir):
    """Top-5-bit buckets fix x bits 7..5 and y bits 7..6, so every
    bucket spans ≤ 32 x-values and ≤ 64 y-values — the min/max
    footer-stat tightness that makes 2-D file skipping work."""
    rows = L.zorder_layout(spark, sf_dir).collect()
    assert rows and sum(r.n for r in rows) == load_table(
        spark, sf_dir, "events"
    ).count()
    for r in rows:
        assert r.max_x - r.min_x < 32
        assert r.max_y - r.min_y < 64


def test_write_zordered_round_trips_and_ranges(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.pmod("user_id", F.lit(256)).alias("x"),
        F.pmod("event_id", F.lit(256)).alias("y"),
    )
    out = str(tmp_path / "zordered")
    L.write_zordered(ev, "x", "y", out, buckets=8)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # root reads recover the bucket id as a hive partition column;
    # the data columns round-trip exactly
    assert sorted(back.drop("__zb").columns) == sorted(ev.columns)
    # file-level x ranges must be tighter than the global range for
    # most files (clustering actually happened)
    per_file = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg((F.max("x") - F.min("x")).alias("span"))
        .collect()
    )
    assert len(per_file) > 1
    assert sum(1 for r in per_file if r.span < 255) >= len(per_file) // 2


def test_zordered_scan_matches_unclustered_filter(spark, sf_dir):
    """The layout must be result-invisible: reading the pruned file
    subset + exact predicate equals the naive filter over the source
    table."""
    ev = load_table(spark, sf_dir, "events")
    naive = (
        ev.where(
            (F.pmod("user_id", F.lit(256)) >= L.ZSCAN_X_LO)
            & (F.pmod("user_id", F.lit(256)) < L.ZSCAN_X_HI)
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    got = {tuple(r) for r in L.zordered_scan(spark, sf_dir).collect()}
    want = {
        (r.event_type, r.n_events, r.sum_value) for r in naive.collect()
    }
    assert got and got == want


def test_zordered_scan_skips_corpus_files(spark, sf_dir):
    """The corpus layout must skip every file outside the slice's
    x-cell. With top-bit bucketing the x dimension is carved into
    32-wide cells; whenever the corpus population spans more than one
    cell (sf0.01 has users across 5 cells, sf0.1 across all 8), the
    4-wide registered slice keeps only its own cell's files. A corpus
    whose users all fall in ONE cell (sf0.001: user_ids 1..15) has
    nothing to skip on x BY CONSTRUCTION — the layout is still exact
    (pinned on the dense grid below), so the honest assertion there
    is keep-everything, not a sampled-boundary fluke that happens to
    split mid-cell."""
    L.zordered_scan(spark, sf_dir).collect()  # ensure layout built
    path = L.zordered_events_path(sf_dir)
    x_files, total = L.zscan_candidate_files(
        spark, path, L.ZSCAN_X_LO, L.ZSCAN_X_HI
    )
    mf = spark.read.parquet(path + "_mf").collect()
    cells = {r.min_x // 32 for r in mf} | {r.max_x // 32 for r in mf}
    assert total >= 2, "layout produced too few files to demonstrate"
    assert len(x_files) >= 1
    # Pruning soundness, derived from the DATA rather than the
    # manifest (which would be tautological): every file that actually
    # contains a row in the slice must be kept. This is the guarantee
    # that makes pruning result-invisible — a false INCLUSION costs
    # I/O, a false exclusion would lose rows.
    actual = (
        spark.read.parquet(path)
        .withColumn("f", F.input_file_name())
        .where((F.col("x") >= L.ZSCAN_X_LO) & (F.col("x") < L.ZSCAN_X_HI))
        .select("f")
        .distinct()
        .collect()
    )
    must_keep = {r.f for r in actual}
    assert must_keep <= set(x_files), must_keep - set(x_files)
    if len(cells) > 1:
        # population spans several x-cells: the 4-wide slice must
        # actually skip — cell-exact bound: kept files' cells all
        # intersect the slice's cell
        assert len(x_files) < total, (len(x_files), total)
        slice_cells = {L.ZSCAN_X_LO // 32, (L.ZSCAN_X_HI - 1) // 32}
        kept = {r.f: (r.min_x // 32, r.max_x // 32) for r in mf}
        for f in x_files:
            lo_c, hi_c = kept[f]
            assert slice_cells & set(range(lo_c, hi_c + 1)), (f, kept[f])


def test_zordered_grid_skips_both_dimensions(spark, tmp_path):
    """The 2-D skipping pin on a DENSE 256×256 grid: with 32 top-bit
    buckets every file is provably confined to one 32×64 z-cell (x
    bits 7..5 and y bits 7..6 fixed), so a 16-wide x-slice opens
    exactly the 4 files of one x-cell and a 32-wide y-slice exactly
    the 8 files of one y-cell — the either-dimension property a
    single-column sort cannot give. EXACT counts, not ratios: sampled
    range boundaries used to drift with session history (the sampler
    seeds on the shuffle RDD's id) and widen spans across cells; the
    explicit-bit bucketing makes the layout deterministic, so the pin
    can be too."""
    n = 256
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"),
        (F.col("id") / n).cast("long").alias("y"),
    )
    out = str(tmp_path / "zgrid")
    L.write_zordered(grid, "x", "y", out, buckets=32)
    per_file = (
        spark.read.parquet(out)
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            F.min("x").alias("min_x"), F.max("x").alias("max_x"),
            F.min("y").alias("min_y"), F.max("y").alias("max_y"),
        )
        .collect()
    )
    total = len(per_file)
    assert total == 32
    for r in per_file:
        assert r.max_x - r.min_x < 32, r
        assert r.max_y - r.min_y < 64, r
    x_keep = [r for r in per_file if r.max_x >= 32 and r.min_x < 48]
    y_keep = [r for r in per_file if r.max_y >= 0 and r.min_y < 32]
    assert len(x_keep) == 4, (len(x_keep), total)
    assert len(y_keep) == 8, (len(y_keep), total)


# ----------------------------------------------------------- snapshot


def test_latest_snapshot_matches_window_form(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    windowed = (
        ev.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("event_type") != L.TOMBSTONE))
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )
    got = {tuple(r) for r in L.latest_snapshot(spark, sf_dir).collect()}
    want = {tuple(r) for r in windowed.collect()}
    assert got == want and want


def test_latest_snapshot_partial_aggregates_no_window_sort(spark, sf_dir):
    """The plan must be a two-phase hash/sort aggregate (map-side
    combine), with NO Window node and no per-row sort of the full
    changelog."""
    p = plan(L.latest_snapshot(spark, sf_dir))
    assert "Window" not in p
    assert "partial_max" in p or "partial_first" in p


# ------------------------------------------------------- grouping sets


def test_grouping_sets_equals_unioned_groupbys(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit(R.Q6_CUTOFF)
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(disc), 2).alias("revenue"), F.count("*").alias("cnt")
    )
    coarse = li.groupBy("l_linestatus").agg(
        F.round(F.sum(disc), 2).alias("revenue"), F.count("*").alias("cnt")
    )
    want = {
        (r.l_returnflag, r.l_linestatus, r.revenue, r.cnt)
        for r in fine.collect()
    } | {
        (None, r.l_linestatus, r.revenue, r.cnt) for r in coarse.collect()
    }
    got = {
        (r.l_returnflag, r.l_linestatus, r.revenue, r.cnt)
        for r in R.q8c_pricing_grouping_sets(spark, sf_dir).collect()
    }
    assert got == want
    gids = {
        r.gid for r in R.q8c_pricing_grouping_sets(spark, sf_dir).collect()
    }
    assert gids == {0, 2}


def test_grouping_sets_single_expand_single_aggregate(spark, sf_dir):
    p = plan(R.q8c_pricing_grouping_sets(spark, sf_dir))
    assert p.count("Expand") >= 1
    assert "HashAggregate" in p


# ------------------------------------------------ partition pruning


def test_partitioned_scan_prunes_directories(spark, sf_dir):
    """The date predicate must become PartitionFilters (plan-time
    directory pruning), also on the second read, whose schema comes
    from read_parquet's memo; and the pruned scan must touch ~7/30 of
    the partitions."""
    from hadoop_and_spark_spark import catalog

    path = L.partitioned_events_path(sf_dir)
    for _ in range(2):
        p = plan(L.partitioned_scan(spark, sf_dir))
        assert "PartitionFilters: [" in p
        # the filter is ON the partition column, not pushed as a data filter
        assert "event_date" in p.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert (path,) in catalog._SCHEMAS
    week = spark.read.parquet(path).where(
        (F.col("event_date") >= F.lit(L.PARTITION_WEEK).cast("date"))
        & (
            F.col("event_date")
            < F.date_add(F.lit(L.PARTITION_WEEK).cast("date"), 7)
        )
    )
    scanned = week.select(F.input_file_name()).distinct().count()
    total = (
        spark.read.parquet(path)
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert scanned < total / 2, (scanned, total)


def test_partitioned_scan_matches_unpartitioned_filter(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    start = F.lit(L.PARTITION_WEEK).cast("date")
    want = sorted(
        tuple(r)
        for r in ev.where(
            (F.to_date("ts") >= start) & (F.to_date("ts") < F.date_add(start, 7))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .collect()
    )
    got = sorted(tuple(r) for r in L.partitioned_scan(spark, sf_dir).collect())
    assert got == want and got
