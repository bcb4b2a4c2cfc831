"""Stateful trend detection over a stream (reference a7
TrendingArrivals.scala:47-68,140 — `mapWithState` keeping
(prev_count) per key, alert when the current batch count at least
doubles the previous and reaches a floor).

Structured-Streaming re-expression: `applyInPandasWithState` over
groupBy(key). Each micro-batch delivers the key's new rows; state
holds the previous batch's count. Emits one row per (key, batch)
with the alert flag — mirroring the reference, which emitted state
for every key every batch (TrendingArrivals.scala:140).

The batch-checkable twin (lag() over event-time windows) lives in
streaming/windows.py::trending_arrivals_batch; tests replay the same
events through both and cross-check the alert semantics on scripted
burst sequences.

The module also hosts the WEEKLY REPLAY source — the events table
split into one parquet file per calendar week by
``mock_stream.write_replay_batches``, so a maxFilesPerTrigger=1 file
source replays the weeks as deterministic micro-batches (the
Structured-Streaming stand-in for the reference's manual-clock
DStream batches) — and registers the seven queries that
run REAL streaming execution over it under the driver's hash gate:
trending_arrivals_stream (T5, applyInPandasWithState), the hourly
(T2), late, late-tolerated, keyed (T3) and hopping windowed counts,
and user_sessions_stream (session windows). Each is a plan handed to
``runtime.run_replay``. Their oracles live in streaming/windows.py
beside the batch twins they share.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .runtime import run_replay
from .windows import (
    _WINDOW_FMT,
    SLIDE_HOP,
    SLIDE_LEN,
    TREND_FACTOR,
    TREND_MIN,
    _classify,
)

OUTPUT_SCHEMA = (
    "key string, cnt long, prev long, trending boolean"
)
STATE_SCHEMA = "prev long"


def _trend_step(cur: int, state: GroupState) -> tuple[int, bool]:
    """Advance one key's state by a batch of ``cur`` arrivals. Returns
    the previous batch's count and the alert: ``cur`` at least
    TREND_FACTOR times the previous count (floored at 1) and at least
    TREND_MIN."""
    prev = state.get[0] if state.exists else 0
    state.update((cur,))
    return prev, cur >= TREND_FACTOR * max(prev, 1) and cur >= TREND_MIN


def _trend_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    cur = sum(len(pdf) for pdf in batches)
    prev, trending = _trend_step(cur, state)
    yield pd.DataFrame(
        {
            "key": [key[0]],
            "cnt": [cur],
            "prev": [prev],
            "trending": [trending],
        }
    )


WEEK_OUTPUT_SCHEMA = (
    "key string, week string, cnt long, prev long, trending boolean"
)


def _trend_fn_week(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """_trend_fn with the batch's week label carried into the output
    row (every row of a micro-batch shares one week by construction of
    the replay source, so max() just reads it)."""
    cur = 0
    week = ""
    for pdf in batches:
        cur += len(pdf)
        if len(pdf):
            week = max(week, pdf["wk"].max())
    prev, trending = _trend_step(cur, state)
    yield pd.DataFrame(
        {
            "key": [key[0]],
            "week": [week],
            "cnt": [cur],
            "prev": [prev],
            "trending": [trending],
        }
    )


def weekly_replay_path(sf_dir: str, tag: str = "") -> str:
    """Canonical on-disk location of the week-per-file replay source
    for a corpus. ``tag`` separates delivery-order variants (e.g. the
    late-data replay)."""
    from ..sources.maintenance import corpus_tmp_path

    return corpus_tmp_path(f"hs_trendwk_{tag}", sf_dir)


# Delivery-order script for the late-data replay: the SECOND
# chronological week's file is delivered LAST — long after the
# watermark has advanced past its windows — so its rows must be
# dropped by watermark eviction for the oracle to match.
LATE_WEEK_IDX = 1


def write_weekly_replay(
    spark,
    sf_dir: str,
    out_path: str,
    displace_idx: int | None = None,
    include_value: bool = False,
    flush_days: int | None = None,
) -> None:
    """Write the events table as ONE replay file per calendar week, in
    delivery order (``mock_stream.write_replay_batches``): under
    maxFilesPerTrigger=1 each week is one micro-batch, the stand-in
    for the scripted batch sequence of the reference's manual-clock
    DStream tests (a7/TrendingArrivalsTest.scala). Every row of a
    file shares one ``wk``; row order within a file is unspecified.

    ``displace_idx`` scripts OUT-OF-ORDER delivery: that week (by
    chronological index) is delivered LAST, so when its micro-batch
    runs every watermarked consumer's watermark sits at (global max
    event time − delay), far past its windows. Requires ≥3 weeks so
    a displaced week-1 is genuinely beyond the watermark.

    ``include_value`` carries the value column (session aggregation
    needs it). ``flush_days`` appends TWO one-row sentinel batches
    (user_id −1, −2) ``flush_days`` and ``flush_days + 1`` days past
    the corpus max event time. They push every watermark beyond all
    real windows/sessions so append-mode sinks emit the tail; two,
    because the watermark a batch computes only takes effect in the
    NEXT batch. The last sentinel's own session stays open (never
    emitted)."""
    import datetime as dt

    from pyspark.sql import types as T

    from ..catalog import load_table
    from ..sources.mock_stream import write_replay_batches

    cols = [
        F.col("event_id"),  # for the stream-stream pair join (T9)
        F.col("event_type"),
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("wk"),
        F.col("ts"),  # event time, for the windowed-aggregation replay twin
        F.col("user_id"),  # for the stream-static enrich (T8) and T9
    ]
    if include_value:
        cols.append(F.col("value"))
    ev = load_table(spark, sf_dir, "events").select(*cols)
    weeks = sorted(r.wk for r in ev.select("wk").distinct().collect())
    delivery = list(weeks)
    if displace_idx is not None and weeks:
        # An EMPTY corpus degenerates to an empty replay (the
        # engine-wide empty-input contract); 1–2 weeks is a
        # mis-scripted scenario — the displaced week would not be
        # genuinely late — so that still raises.
        if len(weeks) < 3 or displace_idx >= len(weeks) - 1:
            raise ValueError(
                f"late-data replay needs >=3 weeks with the displaced week "
                f"before the last; got {len(weeks)} weeks, idx {displace_idx}"
            )
        delivery = [w for i, w in enumerate(weeks) if i != displace_idx]
        delivery.append(weeks[displace_idx])
    # batch = the week's 0-based position in the delivery list
    pos = F.array_position(F.array(*map(F.lit, delivery)), F.col("wk"))
    batches = ev.withColumn("_batch", (pos - 1).cast("int"))
    n = len(delivery)
    if flush_days is not None and weeks:
        max_ts = ev.agg(F.max("ts")).first()[0]
        sentinels = spark.createDataFrame(
            [
                (-1 - j, "flush", "9999-01-01",
                 max_ts + dt.timedelta(days=flush_days + j), -1 - j)
                + ((0.0,) if include_value else ())
                + (n + j,)
                for j in range(2)
            ],
            T.StructType([*ev.schema, T.StructField("_batch", T.IntegerType())]),
        )
        batches = batches.unionByName(sentinels)
        n += 2
    write_replay_batches(batches, "_batch", n, out_path)


# Weekly replay variants: path tag -> (build_once marker version,
# write_weekly_replay options).
_WEEKLY_VARIANTS = {
    "": ("trendwk_v4", {}),
    "late_": ("trendwk_late_v3", {"displace_idx": LATE_WEEK_IDX}),
    "sess_": ("sesswk_v3", {"include_value": True, "flush_days": 30}),
}


def weekly_replay_source(spark, sf_dir: str, variant: str = "") -> str:
    """Build the ``variant`` weekly replay once per corpus (build_once
    marker) and return the directory its stream reads."""
    from ..sources.maintenance import build_once, source_marker

    version, opts = _WEEKLY_VARIANTS[variant]
    src = weekly_replay_path(sf_dir, tag=variant)
    build_once(
        src,
        source_marker(sf_dir, "events", version),
        lambda: write_weekly_replay(spark, sf_dir, src, **opts),
    )
    return src


def trending_arrivals_stream(spark, sf_dir: str) -> DataFrame:
    """T5 through the REAL stateful path, driver-checkable: replay the
    events table week-by-week through ``applyInPandasWithState`` (one
    calendar week per micro-batch via a file-per-week source under
    ``maxFilesPerTrigger=1`` + Trigger.AvailableNow), capture the
    update-mode output in a memory sink, and return it as a DataFrame.

    Because a key emits exactly one row per batch it appears in, the
    trajectory is SQL-expressible: per-(type, week) counts with
    lag(cnt) over weeks — so unlike most stateful streaming this query
    has a full DuckDB oracle (registered in streaming/windows.py), and
    the driver's hash gate covers the state-store path itself, not a
    batch twin.

    Scale: state is one long per key; the memory sink holds
    |keys|×|weeks| rows (a console/kafka sink in production). The
    replay source is built once per corpus (build_once marker)."""

    def plan(stream: DataFrame) -> DataFrame:
        return (
            stream.select(F.col("event_type").alias("key"), "wk")
            .groupBy("key")
            .applyInPandasWithState(
                _trend_fn_week,
                outputStructType=WEEK_OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    return run_replay(
        spark, sf_dir, "trending_arrivals_stream", "events",
        lambda: weekly_replay_source(spark, sf_dir),
        "event_type string, wk string", plan, "update",
        lambda sink: sink.orderBy("key", "week"),
    )


def _hourly_plan(delay: str) -> Callable[[DataFrame], DataFrame]:
    """The hourly tumbling count, watermarked ``delay`` behind the
    newest event."""

    def plan(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", delay)
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("cnt"))
            .select(
                F.date_format("w.start", _WINDOW_FMT).alias("window_start"),
                "cnt",
            )
        )

    return plan


def _by_window(sink: DataFrame) -> DataFrame:
    return sink.orderBy("window_start")


def event_count_hourly_stream(spark, sf_dir: str) -> DataFrame:
    """T2 through the REAL incremental engine, driver-checkable: the
    hourly tumbling count as a watermarked streaming aggregation over
    the week-per-micro-batch replay, update-mode memory sink.

    Why the result is exact and oracle-checkable: the replay batches
    partition event time by week, and hourly windows never straddle a
    week boundary — so every window receives ALL its events in exactly
    one micro-batch and emits exactly one update row. The sink content
    therefore equals the batch query event_count_hourly, whose DuckDB
    oracle this query shares. The watermark bounds state: windows a
    week behind the stream are evicted after their single update (at
    scale: state size = windows within the watermark horizon, not
    stream history)."""
    return run_replay(
        spark, sf_dir, "event_count_hourly_stream", "events",
        lambda: weekly_replay_source(spark, sf_dir), "ts timestamp",
        _hourly_plan("1 hour"), "update", _by_window,
    )


def event_count_hourly_late(spark, sf_dir: str) -> DataFrame:
    """T2 under OUT-OF-ORDER delivery — the watermark-EVICTION pin the
    in-order replay can't provide: the second chronological week's
    file is delivered LAST (write_weekly_replay displace_idx), so when
    its micro-batch finally runs, the 1-hour watermark has advanced to
    (global max event time − 1 h), every one of its hourly windows
    ends weeks earlier, and the engine must DROP all its rows. The
    registered oracle counts hours EXCLUDING the displaced week — the
    driver row is green only if the late data is actually evicted, so
    this query hash-gates lateness handling itself, not just state
    bounding. (tests/test_streaming.py's watermark pin covers the same
    semantics at unit level; this puts it under the driver gate.)

    Scale: identical to event_count_hourly_stream — watermark-bounded
    state, update-mode sink; the only difference is the scripted
    delivery order."""
    return run_replay(
        spark, sf_dir, "event_count_hourly_late", "events",
        lambda: weekly_replay_source(spark, sf_dir, "late_"), "ts timestamp",
        _hourly_plan("1 hour"), "update", _by_window,
    )


def event_count_hourly_late_tolerated(spark, sf_dir: str) -> DataFrame:
    """The acceptance half of the lateness matrix: IDENTICAL
    out-of-order delivery to event_count_hourly_late, but the
    watermark delay (60 days) exceeds the displaced week's lateness —
    so the engine must KEEP the window state alive and aggregate the
    late rows when they finally arrive. The oracle is the full
    in-order hourly count: green iff nothing was dropped. Together
    with the eviction twin, the driver gate now pins that the
    watermark HORIZON — not delivery order — decides late-data fate.

    Scale note: tolerating 60-day lateness means 60 days of window
    state; the production trade the pair of queries demonstrates is
    exactly state size vs completeness."""
    return run_replay(
        spark, sf_dir, "event_count_hourly_late_tolerated", "events",
        lambda: weekly_replay_source(spark, sf_dir, "late_"), "ts timestamp",
        _hourly_plan("60 days"), "update", _by_window,
    )


def region_event_count_stream(spark, sf_dir: str) -> DataFrame:
    """T3 through the incremental engine: the KEYED tumbling count
    (classify event_type -> region, 10-minute windows) as a
    watermarked streaming aggregation over the weekly replay — the
    keyed-state companion to event_count_hourly_stream (T2) and
    trending_arrivals_stream (T5), completing the reference's
    streaming trio through the driver's hash gate. Exactness argument
    identical to the hourly twin: 10-minute windows never straddle the
    week-batch boundaries, so each (region, window) updates exactly
    once and the update-mode sink equals the batch query — whose
    oracle it shares."""

    def plan(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .select(_classify(F.col("event_type")).alias("region"), "ts")
            .groupBy("region", F.window("ts", "10 minutes").alias("w"))
            .agg(F.count("*").alias("cnt"))
            .select(
                "region",
                F.date_format("w.start", _WINDOW_FMT).alias("window_start"),
                "cnt",
            )
        )

    return run_replay(
        spark, sf_dir, "region_event_count_stream", "events",
        lambda: weekly_replay_source(spark, sf_dir),
        "event_type string, ts timestamp", plan, "update",
        lambda sink: sink.orderBy("region", "window_start"),
    )


def event_count_sliding_stream(spark, sf_dir: str) -> DataFrame:
    """The HOPPING window through the incremental engine — the state
    shape the tumbling twins can't pin: each event belongs to
    len/hop = 2 live windows, and a 2-hour window straddling a weekly
    micro-batch boundary receives rows in TWO batches, so the
    update-mode sink legitimately holds multiple rows for it (one per
    update, each the window's running total). The consolidation is
    the standard update-sink read: counts are monotone under
    accumulation, so max(cnt) per window is the final value — which
    must equal the batch hopping query, whose DuckDB oracle this
    shares. A green driver row therefore witnesses that overlapping-
    window state survives across micro-batches and that the last
    update per window carries the complete count.

    Scale: state = (len/hop) × windows inside the watermark horizon;
    the 1-hour watermark evicts a window one hour after its end, and
    the straddling windows are exactly the ones whose state must
    outlive a batch boundary to be evicted only after their second
    update."""

    def plan(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", SLIDE_LEN, SLIDE_HOP).alias("w"))
            .agg(F.count("*").alias("cnt"))
            .select(
                F.date_format("w.start", _WINDOW_FMT).alias("window_start"),
                "cnt",
            )
        )

    return run_replay(
        spark, sf_dir, "event_count_sliding_stream", "events",
        lambda: weekly_replay_source(spark, sf_dir), "ts timestamp", plan,
        "update",
        lambda sink: sink.groupBy("window_start")
        .agg(F.max("cnt").alias("cnt"))
        .orderBy("window_start"),
    )


def user_sessions_stream(spark, sf_dir: str) -> DataFrame:
    """Gap-based sessionization through the incremental engine — the
    SESSION-WINDOW state store under the driver gate (the one stateful
    operator family the tumbling/hopping twins can't pin): unlike
    fixed windows, a session's extent is DATA-DEFINED, so an open
    session at a weekly micro-batch boundary must be held in the state
    store and MERGED with next batch's events (26+ sessions straddle a
    week boundary in every test corpus — tests pin that at least one
    merged session's events arrived in different batches). The sink
    runs APPEND mode: a session is emitted exactly once, when the
    watermark passes its close — so a green driver row witnesses both
    the merge and the watermark-close semantics against the batch
    sessionization oracle (operators/temporal.py user_sessions).

    The replay source carries TWO trailing event-time flush sentinels
    (users −1/−2, 30/31 days past the corpus max): availableNow
    replays otherwise end with the watermark one delay short of the
    last events, leaving the final week's sessions unflushed — and
    the watermark a batch computes only takes effect in the NEXT
    batch, so one sentinel alone advances it with no batch left to
    emit. Sentinel rows are excluded on the batch-side sink read
    (never on the stream side, where the filter would push down to
    the scan and starve the watermark of the sentinel timestamps).

    Scale: state = open sessions per user inside the watermark
    horizon (one row each), evicted at close; the memory sink holds
    the emitted sessions (keyed cardinality)."""
    from ..operators.temporal import streaming_user_sessions

    # NO user_id >= 0 filter on the STREAM side: Catalyst pushes such
    # a filter through the aggregate to the scan (user_id is a
    # grouping key), which drops the sentinel rows BEFORE they can
    # advance the watermark — un-flushing the exact tail the sentinel
    # exists to flush. The sentinels are filtered on the batch-side
    # sink read instead (sentinel 2's watermark closes sentinel 1's
    # session, so exactly one sentinel row does reach the sink).
    # Within-partition order only: output is corpus-proportional
    # (sessions per user), same presentation policy as the batch twin.
    return run_replay(
        spark, sf_dir, "user_sessions_stream", "events",
        lambda: weekly_replay_source(spark, sf_dir, "sess_"),
        "ts timestamp, user_id bigint, value double",
        lambda stream: streaming_user_sessions(stream, watermark="1 hour"),
        "append",
        lambda sink: sink.where(F.col("user_id") >= 0).sortWithinPartitions(
            "user_id", "session_start_us"
        ),
    )


def trending_stream(events_stream: DataFrame) -> DataFrame:
    """Per-micro-batch arrival counts per event type with trend alerts.

    Matches the reference's batch-granularity semantics (each
    micro-batch plays the role of one 1-minute DStream batch; the
    10-minute windowing variant composes this after a windowed
    pre-aggregation).

    Reference form, not registered: the stateful twin that
    tests/test_streaming.py replays scripted batches through and diffs
    against windows.trending_lagged_counts. The registered
    ``trending_arrivals_stream`` runs the same rule per week.
    """
    from pyspark.sql import functions as F

    keyed = events_stream.select(F.col("event_type").alias("key"))
    return keyed.groupBy("key").applyInPandasWithState(
        _trend_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


QUERIES = {
    "user_sessions_stream": user_sessions_stream,
    "trending_arrivals_stream": trending_arrivals_stream,
    "event_count_hourly_stream": event_count_hourly_stream,
    "event_count_hourly_late": event_count_hourly_late,
    "event_count_hourly_late_tolerated": event_count_hourly_late_tolerated,
    "region_event_count_stream": region_event_count_stream,
    "event_count_sliding_stream": event_count_sliding_stream,
}
