"""Batch↔stream duality tests for the streaming join shapes (T8/T9)."""

from __future__ import annotations

from hadoop_and_spark_spark.catalog import load_table
from hadoop_and_spark_spark.streaming import joins as J


def _run_stream(spark, df, name, tmp_path, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"select * from {name}").collect()


def test_stream_static_enrich_matches_batch(spark, sf_dir, tmp_path, events_stream):
    """T8: the same enrich+window expression over the same feed must
    produce identical tier counts in batch and streaming."""
    profiles = J.user_profiles(spark, sf_dir)
    want = {
        (r.tier, r.window_start, r.cnt)
        for r in J.enriched_tier_counts(
            load_table(spark, sf_dir, "events"), profiles
        ).collect()
    }
    got = {
        (r.tier, r.window_start, r.cnt)
        for r in _run_stream(
            spark,
            J.enriched_tier_counts(events_stream, profiles),
            "tier_counts",
            tmp_path,
            "complete",
        )
    }
    assert got == want and got
    # both tiers must be populated or the split constant drifted
    assert {t for t, _, _ in got} == {"low", "high"}


def test_stream_stream_pairs_match_batch(spark, sf_dir, tmp_path, events_stream):
    """T9: the watermarked stream-stream interval self-join must emit
    exactly the batch join's (purchase, click) pair set."""
    want = {
        (r.purchase_id, r.click_id, r.user_id)
        for r in J.purchase_click_pairs_batch(spark, sf_dir).collect()
    }
    got = {
        (r.purchase_id, r.click_id, r.user_id)
        for r in _run_stream(
            spark,
            J.purchase_click_pairs_stream(events_stream),
            "pc_pairs",
            tmp_path,
            "append",
        )
    }
    assert got == want and got


def test_stream_stream_pairs_agree_with_range_join(spark, sf_dir):
    """Cross-operator consistency: grouping the pair set by purchase
    must reproduce the bucketized range join's per-purchase counts
    (for purchases that have any click in window)."""
    from collections import Counter

    from hadoop_and_spark_spark.operators.temporal import range_join_counts

    pair_counts = Counter(
        r.purchase_id for r in J.purchase_click_pairs_batch(spark, sf_dir).collect()
    )
    ranged = {
        r.purchase_id: r.n_clicks_24h
        for r in range_join_counts(spark, sf_dir).collect()
    }
    for pid, n in pair_counts.items():
        assert ranged[pid] == n
    # and every zero-count purchase in the range join has no pairs
    zeros = [p for p, n in ranged.items() if n == 0]
    assert all(p not in pair_counts for p in zeros)


def test_registered_pair_stream_equals_batch_join(spark, sf_dir):
    """The driver-registered replay form of the stream-stream join
    must emit exactly the batch interval join's pairs — including
    matches whose click and purchase arrive in DIFFERENT weekly
    micro-batches (the state-store buffering the oracle gates)."""
    from hadoop_and_spark_spark.streaming.joins import (
        purchase_click_pairs,
        purchase_click_pairs_batch,
    )

    got = {
        (r.purchase_id, r.click_id, r.user_id)
        for r in purchase_click_pairs(spark, sf_dir).collect()
    }
    want = {
        (r.purchase_id, r.click_id, r.user_id)
        for r in purchase_click_pairs_batch(spark, sf_dir).collect()
    }
    assert got == want and got
