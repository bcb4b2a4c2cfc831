"""Streaming tests: batch-window oracles, Structured Streaming
equivalence (availableNow + memory sink), multi-batch stateful trend
detection via file replay (the reference's manual-clock harness
re-expressed, SURVEY §5.2 item 4)."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from hadoop_and_spark_spark.catalog import load_table
from hadoop_and_spark_spark.oracle import compare
from hadoop_and_spark_spark.sources.mock_stream import (
    read_replay_stream,
    write_replay_batches,
    write_scripted_batches,
)
from hadoop_and_spark_spark.streaming import trending as T
from hadoop_and_spark_spark.streaming import windows as W

# windows.ORACLE_SQL holds the oracles of trending's replay queries too
WINDOW_QUERIES = {**W.QUERIES, **T.QUERIES}


def _windowed_counts(events_stream):
    """Per-type 10-minute tumbling counts as a streaming plan under a
    30-minute watermark (IncrementalExecution handles the
    inverse-function optimization the reference hand-specified, T4)."""
    return (
        events_stream.withWatermark("ts", "30 minutes")
        .groupBy("event_type", F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select("event_type", F.col("w.start").alias("window_start"), "cnt")
    )


@pytest.mark.parametrize("name", sorted(WINDOW_QUERIES))
def test_windows_vs_oracle(spark, sf_dir, name):
    if name not in W.ORACLE_SQL:
        # rows-only at the driver (user_reach_approx: HLL registers
        # aren't cross-engine reproducible); pinned by
        # test_hll_reach_tracks_exact instead
        assert WINDOW_QUERIES[name](spark, sf_dir).count() >= 1
        return
    ok, msg = compare(spark, sf_dir, WINDOW_QUERIES[name], W.ORACLE_SQL[name])
    assert ok, f"{name}: {msg}"


def test_hll_reach_tracks_exact(spark, sf_dir):
    """The HLL sketch reach must land within a few RSDs of the exact
    distinct-user count per event type, and its plan must partial-
    aggregate the sketch map-side (two aggregate nodes around one
    exchange — bounded state per group, unlike exact distinct's
    (type, user) expansion)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from hadoop_and_spark_spark.catalog import load_table

    approx = {
        r.event_type: r.n_users_approx
        for r in W.user_reach_approx(spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for t, e in exact.items():
        assert abs(approx[t] - e) / e <= 5 * W.HLL_RSD, (t, approx[t], e)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        W.user_reach_approx(spark, sf_dir).explain("simple")
    p = buf.getvalue()
    assert "partial_approx_count_distinct" in p


def test_streaming_matches_batch(spark, sf_dir, tmp_path, events_stream):
    """availableNow streaming windowed counts == batch aggregation."""
    ev = load_table(spark, sf_dir, "events")
    out = _windowed_counts(events_stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_type, r.window_start, r.cnt)
        for r in spark.sql("select * from win_counts").collect()
    }
    want = {
        (r.event_type, r.ws, r.cnt)
        for r in ev.groupBy(
            "event_type", F.window("ts", "10 minutes").alias("w")
        )
        .agg(F.count("*").alias("cnt"))
        .select("event_type", F.col("w.start").alias("ws"), "cnt")
        .collect()
    }
    assert got == want and got


def test_trending_stateful_multi_batch(spark, tmp_path):
    """Scripted burst: batch counts per key 4 → 20 → 21 must alert
    exactly at the 20 batch (20 >= 2*4 and >= 10), mirroring
    TrendingArrivals.scala:53 semantics across micro-batches."""
    from hadoop_and_spark_spark.streaming.trending import trending_stream

    # three replay files = three micro-batches for key 'k'
    rows = []
    counts = [4, 20, 21]
    t0 = 1_700_000_000
    for b, n in enumerate(counts):
        for i in range(n):
            rows.append((t0 + b * 60 + i % 50, "k"))
    df = spark.createDataFrame(rows, "epoch long, event_type string").select(
        F.timestamp_seconds("epoch").alias("ts"), "event_type"
    )
    replay_dir = str(tmp_path / "replay")
    batches = [
        df.where(
            (F.unix_timestamp("ts") >= t0 + b * 60)
            & (F.unix_timestamp("ts") <= t0 + b * 60 + 59)
        )
        for b in range(len(counts))
    ]
    write_scripted_batches(batches, replay_dir)

    stream = read_replay_stream(spark, replay_dir, df.schema)
    out = trending_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("trends")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = [
        (r.cnt, r.prev, r.trending)
        for r in spark.sql("select * from trends order by prev").collect()
    ]
    assert got == [(4, 0, False), (20, 4, True), (21, 20, False)]


def test_streaming_observed_batch_counter(spark, sf_dir, tmp_path, events_stream):
    """A14 streaming: the named observation reports per-micro-batch
    row counts through StreamingQueryProgress.observedMetrics — the
    reference's completed-RDD accumulator (EventCount.scala:55)."""
    n_events = load_table(spark, sf_dir, "events").count()
    with_counter = W.with_batch_counter(events_stream, "engine_metrics")
    out = _windowed_counts(with_counter)
    q = (
        out.writeStream.format("memory")
        .queryName("obs_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_obs"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    observed = [
        p["observedMetrics"]["engine_metrics"]["n_rows"]
        for p in (q.recentProgress or [])
        if p.get("observedMetrics", {}).get("engine_metrics")
    ]
    assert observed, "no observedMetrics surfaced in query progress"
    assert sum(observed) == n_events


def test_batch_stream_trend_trajectories(spark, sf_dir, tmp_path):
    """Batch↔stream twin cross-check: replay the same events through
    trending_lagged_counts (lag over event-time windows) and the
    stateful streaming twin (one micro-batch per hour) and require
    identical (key, cnt, prev, trending) state trajectories."""
    from hadoop_and_spark_spark.streaming.trending import trending_stream

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    lo = ev.agg(F.min("ts").alias("lo")).first().lo
    t0 = lo.replace(minute=0, second=0, microsecond=0)
    n_hours = 8
    hours = [
        ev.where(
            (F.col("ts") >= F.lit(t0) + F.expr(f"INTERVAL {h} HOURS"))
            & (F.col("ts") < F.lit(t0) + F.expr(f"INTERVAL {h + 1} HOURS"))
        )
        for h in range(n_hours)
    ]
    subset = ev.where(
        (F.col("ts") >= F.lit(t0))
        & (F.col("ts") < F.lit(t0) + F.expr(f"INTERVAL {n_hours} HOURS"))
    )
    replay_dir = str(tmp_path / "replay_hours")
    write_scripted_batches(hours, replay_dir)
    out = trending_stream(read_replay_stream(spark, replay_dir, subset.schema))
    q = (
        out.writeStream.format("memory")
        .queryName("trend_traj")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_traj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r.key, r.cnt, r.prev, r.trending)
        for r in spark.sql("select * from trend_traj").collect()
    )
    want = sorted(
        (r.event_type, r.cnt, r.prev, r.trending)
        for r in W.trending_lagged_counts(subset).collect()
    )
    assert got == want and got


def test_trending_arrivals_stream_matches_sql_twin(spark, sf_dir):
    """The REGISTERED stateful query (week-per-batch replay through
    applyInPandasWithState) must reproduce the declarative lag-over-
    weeks trajectory computed in Spark SQL — the third engine next to
    the DuckDB oracle the driver hashes it against."""
    from hadoop_and_spark_spark.streaming.trending import trending_arrivals_stream

    got = sorted(
        tuple(r) for r in trending_arrivals_stream(spark, sf_dir).collect()
    )
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(
            F.col("event_type").alias("key"),
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    lagw = W.Window.partitionBy("key").orderBy("week")
    want = sorted(
        tuple(r)
        for r in counts.withColumn(
            "prev", F.coalesce(F.lag("cnt").over(lagw), F.lit(0))
        )
        .withColumn(
            "trending",
            (F.col("cnt") >= W.TREND_MIN)
            & (F.col("cnt") >= W.TREND_FACTOR * F.greatest("prev", F.lit(1))),
        )
        .collect()
    )
    assert got == want and got


def test_event_count_hourly_stream_equals_batch(spark, sf_dir):
    """The watermarked streaming aggregation over the weekly replay
    must reproduce the batch hourly count exactly (each window updates
    in exactly one week-batch, so the update-mode sink is complete)."""
    from hadoop_and_spark_spark.streaming.trending import event_count_hourly_stream

    got = sorted(tuple(r) for r in event_count_hourly_stream(spark, sf_dir).collect())
    want = sorted(tuple(r) for r in W.event_count_hourly(spark, sf_dir).collect())
    assert got == want and got


def test_region_event_count_stream_equals_batch(spark, sf_dir):
    """Keyed-window streaming twin ≡ batch query (same one-update-per-
    window argument as the hourly twin)."""
    from hadoop_and_spark_spark.streaming.trending import region_event_count_stream

    got = sorted(tuple(r) for r in region_event_count_stream(spark, sf_dir).collect())
    want = sorted(tuple(r) for r in W.region_event_count(spark, sf_dir).collect())
    assert got == want and got


def test_streaming_geo_matches_batch(spark, tmp_path):
    """The taxi geo pipeline as a STREAM (CSV file source, one file
    per micro-batch) must produce exactly the batch query's windowed
    counts — the reference's actual a7 deployment shape."""
    import shutil

    from hadoop_and_spark_spark.sources.taxi import (
        FIXTURE,
        geo_windowed_counts,
        read_taxi_csv_stream,
        region_event_count_geo,
    )

    stage = tmp_path / "taxi_stream"
    stage.mkdir()
    shutil.copy(FIXTURE, stage / "taxi_events.csv")
    out = geo_windowed_counts(read_taxi_csv_stream(spark, str(stage)))
    q = (
        out.writeStream.format("memory")
        .queryName("geo_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_geo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in spark.sql("select * from geo_counts").collect()
    )
    want = sorted(
        tuple(r) for r in region_event_count_geo(spark, "ignored").collect()
    )
    assert got == want and got


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data contract (absent in the reference, whose manual
    clock made lateness impossible): an event older than the
    watermark must NOT update its closed window once the watermark
    has passed it. The watermark applies with one micro-batch of lag
    (it is recomputed from the PREVIOUS batch's max event time), so
    two advancing batches separate W0 from the late replay; the late
    event must then be dropped — W0's count stays at its batch-0
    value with no re-emission."""

    t0 = 1_700_000_000
    mk = lambda epochs: spark.createDataFrame(  # noqa: E731
        [(e, "k") for e in epochs], "epoch long, event_type string"
    ).select(F.timestamp_seconds("epoch").alias("ts"), "event_type")
    batches = [
        mk([t0 + i for i in range(5)]),        # 5 events in W0
        mk([t0 + 7200]),                        # advance event-time high-mark
        mk([t0 + 7300]),                        # watermark now past W0's end
        mk([t0 + 10]),                          # LATE: inside W0, beyond wm
    ]
    replay_dir = str(tmp_path / "late_replay")
    write_scripted_batches(batches, replay_dir)
    out = _windowed_counts(
        read_replay_stream(spark, replay_dir, batches[0].schema)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("late_counts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    import datetime

    w0 = datetime.datetime.fromtimestamp(t0 - t0 % 600, datetime.timezone.utc)
    rows = [
        r
        for r in spark.sql("select * from late_counts").collect()
        if r.window_start.replace(tzinfo=datetime.timezone.utc) == w0
    ]
    assert len(rows) == 1 and rows[0].cnt == 5  # no update from the late event


def test_streaming_dedup_first_arrival_wins(spark, sf_dir, tmp_path):
    """Cross-batch exact dedup: replay documents in batches with every
    text duplicated under a new doc_id in a LATER batch; the stream
    must keep exactly one row per distinct text, and it must be the
    first (lowest-batch) arrival."""
    from hadoop_and_spark_spark.streaming.dedup import streaming_dedup_exact

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
    originals = docs.where(F.col("doc_id") < 40)
    # re-arrivals: same texts, new ids, in later batches
    dupes = originals.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    batches = [
        originals.where(F.col("doc_id") < 20),
        originals.where(F.col("doc_id") >= 20),
        dupes,
    ]
    replay_dir = str(tmp_path / "dedup_replay")
    write_scripted_batches(batches, replay_dir)
    out = streaming_dedup_exact(
        read_replay_stream(spark, replay_dir, originals.schema)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from stream_dedup").collect()
    n_texts = originals.select("text").distinct().count()
    assert len(rows) == n_texts
    # first arrival wins: none of the +100000 re-arrivals survive
    assert all(r.doc_id < 100000 for r in rows)


def test_value_outliers_are_the_true_tail(spark, sf_dir):
    """Every flagged event really is > Z_THRESHOLD population sigmas
    from its type's mean (checked against driver-side exact moments),
    no non-outlier is flagged, and the plan is window-free
    (aggregate + broadcast join back)."""
    import math

    from hadoop_and_spark_spark.catalog import load_table
    from hadoop_and_spark_spark.streaming.windows import (
        Z_THRESHOLD,
        value_outliers,
    )

    ev = load_table(spark, sf_dir, "events").collect()
    by_type: dict[str, list[float]] = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(round(r.value, 2))
    expect = set()
    for r in ev:
        vs = by_type[r.event_type]
        m = sum(vs) / len(vs)
        sd = math.sqrt(sum(v * v for v in vs) / len(vs) - m * m)
        if sd > 0 and abs((r.value - m) / sd) > Z_THRESHOLD:
            expect.add(r.event_id)
    got = {r.event_id for r in value_outliers(spark, sf_dir).collect()}
    assert got == expect and got

    plan = (
        value_outliers(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan and "BroadcastHashJoin" in plan


def test_streaming_upsert_sink_converges_to_batch_merge(spark, sf_dir, tmp_path):
    """Streaming table maintenance end-to-end: micro-batches of keyed
    updates flow through foreachBatch → merge_upsert into a parquet
    table, and the final table equals one batch keep-latest merge of
    the full update stream — the CDC-style sink the streaming surface
    (K3) plus the table lifecycle (X34) compose into."""
    from pyspark.sql import functions as F

    from hadoop_and_spark_spark.catalog import read_parquet
    from hadoop_and_spark_spark.sources.maintenance import merge_upsert

    schema = "k long, v string, ver long"
    batches = [
        spark.createDataFrame([(1, "a0", 1), (2, "b0", 1)], schema),
        spark.createDataFrame([(1, "a1", 2), (3, "c0", 1)], schema),
        spark.createDataFrame([(2, "b2", 3), (1, "a0-late", 1)], schema),
    ]
    feed = str(tmp_path / "feed")
    write_scripted_batches(batches, feed)

    table = str(tmp_path / "table")
    spark.createDataFrame([], schema).write.parquet(table)

    def apply_batch(bdf, _bid):
        staged = str(tmp_path / "staged")
        base = read_parquet(bdf.sparkSession, table, schema=schema)
        merge_upsert(base, bdf, "k", "ver", staged)
        # swap: write-to-new-directory + replace (the documented
        # atomicity contract of the plain-parquet implementation)
        import shutil

        shutil.rmtree(table)
        os.replace(staged, table)

    q = (
        read_replay_stream(spark, feed, schema)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.k, r.v, r.ver) for r in spark.read.parquet(table).collect()
    }
    # batch twin: one merge of the whole update stream; ties on ver
    # keep the update side (the third batch's (1,'a0-late',1) loses to
    # the table's (1,'a1',2) on version, so 'a1' survives)
    assert got == {(1, "a1", 2), (2, "b2", 3), (3, "c0", 1)}


def test_streaming_hll_reach_matches_batch_sketch(spark, sf_dir, tmp_path, events_stream):
    """The HLL distinct-reach sketch under IncrementalExecution: the
    same approx_count_distinct aggregation run as an availableNow
    stream (complete mode — register state merges across
    micro-batches) must land within the batch sketch's own tolerance
    of the exact per-type reach. Proves the bounded-state cardinality
    path works in the streaming engine, not just batch."""
    exact = {
        (r.event_type): r.n_users
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .collect()
    }
    out = events_stream.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=W.HLL_RSD).alias("n_approx")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("hll_reach")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_hll"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_type: r.n_approx
        for r in spark.sql("select * from hll_reach").collect()
    }
    assert set(got) == set(exact)
    for t, e in exact.items():
        assert abs(got[t] - e) / e <= 5 * W.HLL_RSD, (t, got[t], e)


def _weeks(spark, sf_dir):
    """The corpus's calendar weeks, in chronological order."""
    wk = F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("w")
    events = load_table(spark, sf_dir, "events")
    return sorted(r.w for r in events.select(wk).distinct().collect())


def test_late_replay_evicts_exactly_the_displaced_week(spark, sf_dir):
    """event_count_hourly_late delivers chronological week #2 LAST;
    by then the 1-hour watermark sits at (global max ts − 1 h), so
    every displaced-week row must be DROPPED. Pin: the late result is
    the in-order hourly result minus precisely the displaced week's
    windows — if eviction failed, the counts would be identical."""
    from hadoop_and_spark_spark.streaming.trending import (
        LATE_WEEK_IDX,
        event_count_hourly_late,
    )
    from hadoop_and_spark_spark.streaming.windows import event_count_hourly

    full = {
        r.window_start: r.cnt
        for r in event_count_hourly(spark, sf_dir).collect()
    }
    late = {
        r.window_start: r.cnt
        for r in event_count_hourly_late(spark, sf_dir).collect()
    }
    weeks = _weeks(spark, sf_dir)
    displaced = weeks[LATE_WEEK_IDX]
    nxt = weeks[LATE_WEEK_IDX + 1]
    dropped = {
        ws for ws in full if displaced <= ws[:10] and ws[:10] < nxt
    }
    assert dropped, "displaced week must cover at least one window"
    assert set(late) == set(full) - dropped
    for ws, cnt in late.items():
        assert cnt == full[ws], ws


def test_tolerated_late_replay_keeps_every_row(spark, sf_dir):
    """Same scripted out-of-order delivery, 60-day watermark: the
    displaced week must be AGGREGATED, not dropped — the tolerated
    result equals the in-order batch result exactly, proving the
    watermark horizon (not delivery order) decides late-data fate."""
    from hadoop_and_spark_spark.streaming.trending import (
        event_count_hourly_late_tolerated,
    )
    from hadoop_and_spark_spark.streaming.windows import event_count_hourly

    full = {
        (r.window_start, r.cnt)
        for r in event_count_hourly(spark, sf_dir).collect()
    }
    tol = {
        (r.window_start, r.cnt)
        for r in event_count_hourly_late_tolerated(spark, sf_dir).collect()
    }
    assert tol == full and full


def test_dedup_stream_suppresses_scripted_rearrivals(spark, sf_dir):
    """The document replay re-delivers bucket 0's lowest doc_ids in
    every later batch (staleness pin: the re-arrival set is
    non-empty), and the streaming dedup emits each content hash
    exactly once across all batches — per-batch-only dedup would emit
    the re-arrivals again."""
    from hadoop_and_spark_spark.streaming.dedup import (
        DOC_REPLAY_BUCKETS,
        REARRIVAL_IDS_LT,
        dedup_exact_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_rearrivals = docs.where(
        (F.col("doc_id") % DOC_REPLAY_BUCKETS == 0)
        & (F.col("doc_id") < REARRIVAL_IDS_LT)
    ).count()
    assert n_rearrivals > 0, "replay must actually re-deliver documents"

    emitted = dedup_exact_stream(spark, sf_dir).collect()
    hashes = [r.text_md5 for r in emitted]
    assert len(hashes) == len(set(hashes)), "a hash was emitted twice"
    n_distinct = docs.select(F.md5("text")).distinct().count()
    assert len(hashes) == n_distinct


def test_sliding_stream_equals_batch_and_straddles_batches(spark, sf_dir):
    """Hopping-window streaming twin ≡ batch hopping query, AND the
    raw update-mode sink must contain at least one window with >1
    update row — the witness that overlapping-window state survived a
    micro-batch boundary (every multi-update window is one whose
    2-hour span straddles a weekly batch edge). Without the second
    batch's update, max-consolidation would under-count and the
    equality half would fail too."""
    from hadoop_and_spark_spark.streaming.runtime import sink_name
    from hadoop_and_spark_spark.streaming.trending import (
        event_count_sliding_stream,
    )

    got = sorted(
        tuple(r) for r in event_count_sliding_stream(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r) for r in W.event_count_sliding(spark, sf_dir).collect()
    )
    assert got == want and got

    # the consolidated result comes from a memory sink named per
    # (stream, corpus): another corpus's run (e.g. the empty-dir
    # totality sweep) cannot shadow it
    raw = spark.table(sink_name("event_count_sliding_stream", sf_dir))
    multi = (
        raw.groupBy("window_start")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert multi >= 1, "no window updated across two micro-batches"


def test_bounded_dedup_suppresses_within_and_readmits_beyond(spark, sf_dir):
    """dropDuplicatesWithinWatermark, both sides of the horizon: every
    hash in the rearrival set is emitted EXACTLY twice (first arrival
    + the beyond-watermark re-admission after state eviction; the
    within-watermark re-delivery must not add a third), every other
    hash exactly once."""
    from hadoop_and_spark_spark.streaming.dedup import (
        DOC_REPLAY_BUCKETS,
        REARRIVAL_IDS_LT,
        dedup_bounded_stream,
    )

    emitted = dedup_bounded_stream(spark, sf_dir).collect()
    counts: dict[str, int] = {}
    for r in emitted:
        counts[r.text_md5] = counts.get(r.text_md5, 0) + 1

    # mirror the writer's min-id-per-distinct-text input view
    docs = (
        load_table(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    rearrival = {
        r[0]
        for r in docs.where(
            (F.col("doc_id") % DOC_REPLAY_BUCKETS == 0)
            & (F.col("doc_id") < REARRIVAL_IDS_LT)
        )
        .select(F.md5("text"))
        .collect()
    }
    assert rearrival and rearrival <= set(counts)
    for h, n in counts.items():
        assert n == (2 if h in rearrival else 1), (h, n)


def test_sink_registry_resolves_per_corpus(spark, sf_dir, tmp_path):
    """Sink names resolve per (stream, corpus): after a sliding stream
    runs against a SECOND corpus (here: an empty one, the
    totality-sweep shape), the FIRST corpus's sink must still hold the
    first corpus's rows, not the second corpus's zero-row sink."""
    from hadoop_and_spark_spark.catalog import TABLES
    from hadoop_and_spark_spark.streaming.runtime import sink_name
    from hadoop_and_spark_spark.streaming.trending import (
        event_count_sliding_stream,
    )

    n_real = event_count_sliding_stream(spark, sf_dir).count()
    assert n_real > 0

    ed = str(tmp_path / "sf_empty")
    os.makedirs(ed)
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(0).write.parquet(
            os.path.join(ed, f"{t}.parquet")
        )
    event_count_sliding_stream(spark, ed).count()  # newer stream, 0 rows

    name = "event_count_sliding_stream"
    raw = spark.table(sink_name(name, sf_dir))
    assert raw.count() > 0, "empty-corpus sink shadowed the real one"
    assert spark.table(sink_name(name, ed)).count() == 0


def test_late_data_queries_keep_separate_sinks(spark, sf_dir):
    """The two late-data queries share a replay source but not a sink:
    the evicting one's raw sink holds fewer rows than the tolerant
    one's, because it dropped the displaced week."""
    from hadoop_and_spark_spark.streaming.runtime import sink_name
    from hadoop_and_spark_spark.streaming.trending import (
        event_count_hourly_late,
        event_count_hourly_late_tolerated,
    )

    dropped = event_count_hourly_late(spark, sf_dir).count()
    kept = event_count_hourly_late_tolerated(spark, sf_dir).count()
    assert 0 < dropped < kept
    evicting = spark.table(sink_name("event_count_hourly_late", sf_dir))
    tolerant = spark.table(
        sink_name("event_count_hourly_late_tolerated", sf_dir)
    )
    assert evicting.count() == dropped < tolerant.count() == kept


def test_rerun_under_the_same_sink_name_keeps_earlier_frames(spark, sf_dir):
    """A rerun of one name over one corpus replaces the memory-sink
    view the name points at, but a frame read from the earlier run
    still returns that run's rows — the Spark behaviour reusing one
    sink name per (stream, corpus) relies on. The rerun's plan keeps
    no rows, so a frame that followed the view would come back
    empty."""
    from hadoop_and_spark_spark.sources.maintenance import evict_version
    from hadoop_and_spark_spark.streaming.runtime import run_replay, sink_name
    from hadoop_and_spark_spark.streaming.trending import weekly_replay_source

    name = "test_sink_name_reuse"

    def run(keep):
        return run_replay(
            spark, sf_dir, name, "events",
            lambda: weekly_replay_source(spark, sf_dir), "ts timestamp",
            lambda stream: stream.where(keep)
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .count(),
            "update",
            lambda sink: sink,
        )

    try:
        evict_version(name)
        first = run(F.col("ts").isNotNull())
        rows = sorted(first.collect())
        assert rows
        evict_version(name)
        run(F.col("ts") < F.lit(0).cast("timestamp"))
        assert spark.table(sink_name(name, sf_dir)).count() == 0
        assert sorted(first.collect()) == rows
    finally:
        evict_version(name)


def test_replay_pin_is_refcounted_and_restored(spark):
    """start_and_await pins the state partitioning to
    REPLAY_SHUFFLE_PARTITIONS while ANY replay is inside it. Two
    replays overlap out of order: A starts, B starts, A finishes while
    B is still inside, then B fails at start(). B must still see the
    pin after A has left, and the session value must come back when
    B — the last one out, on the failure path — exits."""
    import threading

    from hadoop_and_spark_spark.streaming import runtime

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    seen: dict[str, str] = {}
    failed = []

    class QueryA:
        def awaitTermination(self):
            assert b_in.wait(60)

    class WriterA:
        def start(self):
            seen["a"] = spark.conf.get(key)
            a_in.set()
            return QueryA()

    class WriterB:
        def start(self):
            b_in.set()
            assert a_out.wait(60)
            seen["b_after_a"] = spark.conf.get(key)
            raise RuntimeError("stream failed to start")

    def run_a():
        runtime.start_and_await(spark, WriterA())
        a_out.set()

    def run_b():
        assert a_in.wait(60)
        try:
            runtime.start_and_await(spark, WriterB())
        except RuntimeError:
            failed.append("b")

    try:
        spark.conf.set(key, "11")
        threads = [threading.Thread(target=f) for f in (run_a, run_b)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert not any(t.is_alive() for t in threads)
        pinned = runtime.REPLAY_SHUFFLE_PARTITIONS
        assert pinned != "11"
        assert seen == {"a": pinned, "b_after_a": pinned}
        assert failed == ["b"]
        assert spark.conf.get(key) == "11"
        assert runtime._PIN_DEPTH == 0
    finally:
        spark.conf.set(key, prev)


def test_replay_state_has_replay_shuffle_partitions(spark, tmp_path):
    """A stateful replay through start_and_await keeps exactly
    REPLAY_SHUFFLE_PARTITIONS state partitions, whatever the session's
    spark.sql.shuffle.partitions."""
    from hadoop_and_spark_spark.streaming import runtime

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    frames = [
        spark.sql(f"SELECT timestamp'2024-01-01 0{i}:00:00' AS ts, {i} AS v")
        for i in range(3)
    ]
    write_scripted_batches(frames, src)
    agg = (
        read_replay_stream(spark, src, "ts timestamp, v int")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .count()
    )
    writer = (
        agg.writeStream.format("memory")
        .queryName("replay_state_parts")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") != (
        runtime.REPLAY_SHUFFLE_PARTITIONS
    )
    runtime.start_and_await(spark, writer)
    parts = [d for d in os.listdir(os.path.join(ck, "state", "0")) if d.isdigit()]
    assert len(parts) == int(runtime.REPLAY_SHUFFLE_PARTITIONS)


def test_checkpoints_use_the_filesystem_manager(spark):
    """The default FileContext-based checkpoint manager forks a
    `readlink` per rename on the local filesystem; the session must
    name the FileSystem-based one, so a session rebuild cannot bring
    the forks back."""
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


# Every registered replay query; each is memoized under its own name.
REPLAY_QUERIES = (
    "cdc_upsert_stream",
    "dedup_bounded_stream",
    "dedup_exact_stream",
    "event_count_hourly_late",
    "event_count_hourly_late_tolerated",
    "event_count_hourly_stream",
    "event_count_sliding_stream",
    "purchase_click_pairs",
    "region_event_count_stream",
    "tier_counts_stream",
    "trending_arrivals_stream",
    "user_sessions_stream",
)


@pytest.mark.parametrize("name", REPLAY_QUERIES)
def test_replay_runs_once_per_session_and_corpus(spark, sf_dir, name, monkeypatch):
    """A cold call starts exactly one stream and leaves exactly one
    memo entry, whose version is the registry name; a second call
    returns the memoized frame itself and starts none."""
    from hadoop_and_spark_spark.registry import collect
    from hadoop_and_spark_spark.sources import maintenance
    from hadoop_and_spark_spark.sources.maintenance import evict_version
    from hadoop_and_spark_spark.streaming import runtime

    starts = []
    real_start = runtime.start_and_await

    def counting_start(spark_, writer):
        starts.append(writer)
        real_start(spark_, writer)

    monkeypatch.setattr(runtime, "start_and_await", counting_start)
    fn = collect()[0][name]
    evict_version(name)
    first = fn(spark, sf_dir)
    assert len(starts) == 1
    versions = [k[1].rsplit("|", 3)[3] for k in maintenance._SESSION_MEMO]
    assert versions.count(name) == 1
    assert fn(spark, sf_dir) is first
    assert len(starts) == 1


def test_session_stream_equals_batch_and_merges_across_batches(spark, sf_dir):
    """Session-window state through the incremental engine: the
    append-mode replay must equal batch sessionization exactly, AND
    the corpus must contain sessions whose first and last events lie
    in different calendar weeks — such a session's events arrive in
    different weekly micro-batches, so its single emitted row is the
    witness that the state store held the open session across the
    batch boundary and merged it (a lost merge would split the
    session and the equality half would fail)."""
    import datetime as dt

    from hadoop_and_spark_spark.operators.temporal import (
        SESSION_GAP,
        user_sessions,
    )
    from hadoop_and_spark_spark.streaming.trending import (
        user_sessions_stream,
    )

    got = sorted(
        tuple(r) for r in user_sessions_stream(spark, sf_dir).collect()
    )
    want = sorted(tuple(r) for r in user_sessions(spark, sf_dir).collect())
    assert got == want and got

    assert SESSION_GAP == "6 hours"  # last event = end − gap, used below
    gap_us = 6 * 3600 * 1_000_000

    def week(us: int) -> dt.date:
        d = dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).date()
        return d - dt.timedelta(days=d.weekday())

    straddling = [
        r for r in got if week(r[1]) != week(r[2] - gap_us)
    ]
    assert straddling, "no session spans a weekly micro-batch boundary"


def test_sliding_counts_cover_each_event_twice(spark, sf_dir):
    """len/hop = 2 ⇒ the hopping counts sum to exactly 2× the event
    count (every event lies in exactly two epoch-aligned windows)."""
    total = sum(r.cnt for r in W.event_count_sliding(spark, sf_dir).collect())
    n = load_table(spark, sf_dir, "events").count()
    assert total == 2 * n


def test_stream_restart_recovers_state_from_checkpoint(spark, tmp_path):
    """T6 as an actual stop/restart, not just a checkpointLocation
    option: run an hourly count over file A to completion, START A NEW
    QUERY from the SAME checkpoint over newly-arrived file B with more
    rows in the SAME hour, and require the re-emitted window total to
    include file A's rows — which is only possible if the aggregation
    state was recovered from the checkpoint (a fresh query would emit
    2, not 5)."""
    import datetime as dt

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    h = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write_file(name, minutes):
        spark.createDataFrame(
            [(h + dt.timedelta(minutes=m),) for m in minutes], "ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once(qname):
        # foreachBatch, not the memory sink: memory sinks refuse
        # checkpoint recovery, and recovery is the thing under test
        emitted = {}

        def sink(batch_df, _bid):
            for r in batch_df.collect():
                emitted[r.ws] = r.cnt

        stream = spark.readStream.schema("ts timestamp").parquet(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("ws"), "cnt")
        )
        q = (
            agg.writeStream.foreachBatch(sink)
            .queryName(qname)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return emitted

    # Restart under a DIFFERENT shuffle-partition conf: the state
    # partition count is captured into the checkpoint's offset-log
    # metadata at first start, so the recovered query must keep the
    # ORIGINAL partitioning (and the recovered total) regardless of
    # the live conf — the exact claim streaming/runtime.py makes for
    # pinning replay state partitioning.
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "3")
        write_file("a", [1, 2, 3])
        first = run_once("ckpt_run_1")
        assert first == {h: 3}

        spark.conf.set(key, "13")
        write_file("b", [10, 20])
        second = run_once("ckpt_run_2")
        assert second == {h: 5}, second
    finally:
        spark.conf.set(key, prev)

    state_parts = [
        d for d in os.listdir(os.path.join(ck, "state", "0")) if d.isdigit()
    ]
    assert len(state_parts) == 3, (
        f"restart under shuffle.partitions=13 must keep the original "
        f"3 state partitions, saw {len(state_parts)}"
    )


def test_replay_writer_refuses_split_partition_files(spark, sf_dir, tmp_path):
    """The replay writers rename ONE parquet file per partition dir
    into each scripted batch; if a conf like
    spark.sql.files.maxRecordsPerFile splits a task's output, picking
    file [0] would silently drop rows from the batch. Pin the loud
    failure instead: under a splitting conf every replay writer
    raises, naming the assumption, rather than unpacking an opaque
    tuple or dropping rows."""
    from hadoop_and_spark_spark.catalog import _scoped_conf
    from hadoop_and_spark_spark.streaming.dedup import write_doc_replay

    ev = load_table(spark, sf_dir, "events").limit(40)
    with _scoped_conf(spark, "spark.sql.files.maxRecordsPerFile", "3"):
        with pytest.raises(AssertionError, match="maxRecordsPerFile"):
            write_doc_replay(spark, sf_dir, str(tmp_path / "doc_split"))
        with pytest.raises(AssertionError, match="maxRecordsPerFile"):
            write_scripted_batches([ev, ev], str(tmp_path / "scr_split"))
        with pytest.raises(AssertionError, match="maxRecordsPerFile"):
            T.write_weekly_replay(spark, sf_dir, str(tmp_path / "wk_split"))


def test_replay_batches_layout(spark, tmp_path):
    """write_replay_batches owns the replay directory: a stale file
    from an older layout is gone, every batch is one part file (an
    empty batch a schema-only file), and mtimes strictly increase in
    batch order."""
    out = tmp_path / "rb"
    out.mkdir()
    (out / "wk000.parquet").write_bytes(b"stale")
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 2)], "k long, v string, b int"
    )
    assert write_replay_batches(df, "b", 3, str(out)) == 3
    assert sorted(os.listdir(out)) == [f"part-{b:04d}.parquet" for b in range(3)]
    files = sorted(glob.glob(str(out / "part-*.parquet")))
    got = [sorted(tuple(r) for r in spark.read.parquet(f).collect()) for f in files]
    assert got == [[(1, "a"), (2, "b")], [], [(3, "c")]]
    assert spark.read.parquet(files[1]).schema == df.drop("b").schema
    mt = [os.path.getmtime(f) for f in files]
    assert all(a < b for a, b in zip(mt, mt[1:]))


def test_weekly_replay_delivery_scripts(spark, sf_dir, tmp_path):
    """The late variant delivers chronological week LATE_WEEK_IDX last;
    the session variant ends with the two flush sentinels (user_id −1
    then −2), each its own file."""
    def file_rows(path, col):
        return [
            sorted({r[0] for r in spark.read.parquet(f).select(col).collect()})
            for f in sorted(glob.glob(path + "/part-*.parquet"))
        ]

    weeks = _weeks(spark, sf_dir)
    late = str(tmp_path / "late")
    T.write_weekly_replay(spark, sf_dir, late, displace_idx=T.LATE_WEEK_IDX)
    order = [w for i, w in enumerate(weeks) if i != T.LATE_WEEK_IDX]
    assert file_rows(late, "wk") == [[w] for w in order + [weeks[T.LATE_WEEK_IDX]]]

    sess = str(tmp_path / "sess")
    T.write_weekly_replay(spark, sf_dir, sess, include_value=True, flush_days=30)
    users = file_rows(sess, "user_id")
    assert len(users) == len(weeks) + 2
    assert users[-2:] == [[-1], [-2]]
    assert all(u >= 0 for batch in users[:-2] for u in batch)


def test_replay_runs_remove_their_checkpoints(spark, sf_dir):
    """A replay's checkpoint is dead once its availableNow run ends:
    a forced rebuild of a memory-sink replay and of the cdc upsert
    leaves no new checkpoint directory behind."""
    from hadoop_and_spark_spark.registry import collect
    from hadoop_and_spark_spark.sources.maintenance import evict_version

    def leftovers():
        tmp = tempfile.gettempdir()
        return sorted(glob.glob(f"{tmp}/hs_*_ck_*") + glob.glob(f"{tmp}/hs_cdc_*/ckpt"))

    before = leftovers()
    queries = collect()[0]
    for name in ("event_count_hourly_stream", "cdc_upsert_stream"):
        evict_version(name)
        assert queries[name](spark, sf_dir).count() > 0
    assert leftovers() == before


def test_cdc_work_dir_lives_as_long_as_its_memo_entry(spark, sf_dir):
    """The cdc upsert's memo entry owns its work directory: evicting
    the entry, clearing the session caches or the process-exit hook
    (for the entry still alive when the process ends) deletes it."""
    from hadoop_and_spark_spark.registry import collect
    from hadoop_and_spark_spark.sources import maintenance

    def work_dirs():
        return glob.glob(f"{tempfile.gettempdir()}/hs_cdc_*")

    fn = collect()[0]["cdc_upsert_stream"]
    maintenance.evict_version("cdc_upsert_stream")
    assert work_dirs() == []
    assert fn(spark, sf_dir).count() > 0
    assert len(work_dirs()) == 1
    maintenance.clear_session_caches()
    assert work_dirs() == []
    try:
        assert fn(spark, sf_dir).count() > 0
        assert len(work_dirs()) == 1
        maintenance._remove_scratch_at_exit()
        assert work_dirs() == []
    finally:
        # the entry's frame reads the deleted table; drop it
        maintenance.evict_version("cdc_upsert_stream")


def test_cdc_rerun_adds_no_schema_entry(spark, sf_dir):
    """Every read of a cdc run's scratch table (each micro-batch's merge
    base and the final read-back) passes the schema the run wrote, so
    a cold run adds no schema-memo entry while its work directory is
    still alive."""
    from hadoop_and_spark_spark import catalog
    from hadoop_and_spark_spark.registry import collect
    from hadoop_and_spark_spark.sources.maintenance import evict_version

    fn = collect()[0]["cdc_upsert_stream"]
    # one run first: its source reads (the events table) may add entries
    assert fn(spark, sf_dir).count() > 0
    evict_version("cdc_upsert_stream")
    size = len(catalog._SCHEMAS)
    assert fn(spark, sf_dir).count() > 0
    assert len(catalog._SCHEMAS) == size
