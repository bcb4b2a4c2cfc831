"""Streaming joins: stream-static enrichment + stream-stream interval
self-join (SURVEY §2.9 T8/T9 — beyond the reference, which never joins
inside a stream).

Two shapes a production event pipeline needs that windowed aggregation
(T2/T3) can't express:

- **Stream-static enrich (T8)**: every incoming event joins a slowly-
  changing batch dimension (here a per-user profile derived offline
  from history). Spark re-plans the static side per micro-batch; with
  a broadcastable dim the stream side never shuffles for the join —
  the streaming analogue of the J2 broadcast dim join. The aggregation
  downstream keys on (profile tier × event-time window), so state
  stays bounded by tiers × hours, not users.

- **Stream-stream interval self-join (T9)**: purchases ⋈ clicks of
  the same user within the 24 h window before the purchase — the
  STREAMING twin of the bucketized batch range join (X23,
  `operators/temporal.py:range_join_counts`). Both sides carry
  watermarks and the join condition bounds event-time distance in
  BOTH directions, so the state store can evict rows once the
  watermark passes `ts + 24 h` — without the bound the click state
  grows forever. Inner join ⇒ append-mode output per match.

Both are REGISTERED driver queries: the weekly replay makes each
deterministic and finite, so `tier_counts_stream` (T8) and
`purchase_click_pairs` (T9) run real incremental execution under the
driver's hash gate with full DuckDB oracles; the batch↔stream duality
tests (`tests/test_stream_joins.py`) are the unit-level pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.temporal import ASOF_LEFT_TYPE, ASOF_RIGHT_TYPE
from .runtime import run_replay
from .trending import weekly_replay_source

TIER_SPLIT = 50.7  # per-user mean value splitting low/high profile tiers
PAIR_WINDOW = "24 hours"
PAIR_WATERMARK = "1 hour"


def user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static dimension: per-user historical mean event value,
    banded into a profile tier. Computed offline (batch) and joined
    into the live stream — the lambda-architecture enrich shape."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.when(F.avg("value") < TIER_SPLIT, "low").otherwise("high").alias("tier")
    )


def enriched_tier_counts(events: DataFrame, profiles: DataFrame) -> DataFrame:
    """events (batch OR stream) ⋈ broadcast(profiles) → hourly counts
    per profile tier. The identical expression runs both ways — the
    duality test pins them equal."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.join(F.broadcast(profiles), "user_id")
        .groupBy("tier", F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "tier",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias(
                "window_start"
            ),
            "cnt",
        )
    )


def purchase_click_pairs_stream(events_stream: DataFrame) -> DataFrame:
    """Stream-stream self-join: (purchase, click) pairs of the same
    user with the click in the 24 h window before the purchase.

    Both branches of the SAME source stream are watermarked; the join
    predicate bounds c_ts to (p_ts − 24 h, p_ts], which is what lets
    the state store evict a buffered click once the watermark passes
    its reach. Returns append-mode match rows keyed
    (purchase_id, click_id)."""
    ev = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    p = (
        ev.where(F.col("event_type") == ASOF_LEFT_TYPE)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", PAIR_WATERMARK)
    )
    c = (
        ev.where(F.col("event_type") == ASOF_RIGHT_TYPE)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", PAIR_WATERMARK)
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr(f"INTERVAL {PAIR_WINDOW}"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    return p.join(c, cond, "inner").select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id")
    )


def purchase_click_pairs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch twin of the stream-stream join: a reference form the
    duality test diffs the stream against.
    (Deliberately the naive interval join: at test scale it is exact
    and simple; the scale-safe BATCH form is the bucketized
    range_join_counts — X23 — which aggregates these same pairs.)"""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == ASOF_LEFT_TYPE).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("p_ts"),
    )
    c = ev.where(F.col("event_type") == ASOF_RIGHT_TYPE).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").cast("timestamp").alias("c_ts"),
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr(f"INTERVAL {PAIR_WINDOW}"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    return p.join(c, cond, "inner").select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id")
    )


# ------------------------------------------ registered driver queries
#
# Each runs its join shape over the weekly replay (streaming/
# trending.py) through runtime.run_replay.


def tier_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 under the driver gate: the events stream (weekly replay)
    joins the BROADCAST static profile dimension per micro-batch, then
    aggregates hourly counts per tier (watermarked, update sink).
    Windows never straddle week batches, so each (tier, window)
    updates exactly once and the sink equals the batch
    enriched_tier_counts — whose SQL the oracle runs. The stream side
    never shuffles for the join (broadcast), the streaming analogue of
    the J2 broadcast dim join; aggregation state is bounded by
    tiers x watermark-horizon windows."""
    return run_replay(
        spark, sf_dir, "tier_counts_stream", "events",
        lambda: weekly_replay_source(spark, sf_dir),
        "ts timestamp, user_id bigint",
        lambda stream: enriched_tier_counts(
            stream.withWatermark("ts", "1 hour"), user_profiles(spark, sf_dir)
        ),
        "update",
        lambda sink: sink.orderBy("tier", "window_start"),
    )


def purchase_click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 under the driver gate: the watermarked stream-stream
    interval self-join over the weekly replay, append-mode sink.

    Why the streamed pair set is EXACTLY the batch join's: a click can
    only match purchases within 24 h after it; the join's time bound
    plus the 1 h watermark keeps click state alive for 25 h past each
    week's end, which covers every cross-boundary match (a click
    older than that can match no future purchase), and in-order
    weekly delivery means no match's inputs are ever separated by
    more than one batch boundary. So append-mode emits each matching
    (purchase, click) pair exactly once and the DuckDB interval-join
    oracle gates the state store's buffering AND eviction. Output is
    event-proportional: within-partition order only."""
    return run_replay(
        spark, sf_dir, "purchase_click_pairs", "events",
        lambda: weekly_replay_source(spark, sf_dir),
        "event_id bigint, event_type string, ts timestamp, user_id bigint",
        purchase_click_pairs_stream,
        "append",
        lambda sink: sink.sortWithinPartitions("purchase_id", "click_id"),
    )


QUERIES = {
    "tier_counts_stream": tier_counts_stream,
    "purchase_click_pairs": purchase_click_pairs,
}

ORACLE_SQL = {
    "tier_counts_stream": f"""
        WITH prof AS (
            SELECT user_id,
                   CASE WHEN avg(value) < {TIER_SPLIT} THEN 'low'
                        ELSE 'high' END AS tier
            FROM events GROUP BY user_id
        )
        SELECT prof.tier,
               strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M') AS window_start,
               count(*) AS cnt
        FROM events e JOIN prof USING (user_id)
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "purchase_click_pairs": f"""
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               p.user_id AS user_id
        FROM events p
        JOIN events c
          ON p.user_id = c.user_id
         AND c.ts > p.ts - INTERVAL '24 hours'
         AND c.ts <= p.ts
        WHERE p.event_type = '{ASOF_LEFT_TYPE}'
          AND c.event_type = '{ASOF_RIGHT_TYPE}'
        ORDER BY 1, 2
    """,
}
