"""Salted-join equivalence + hierarchical top-k equivalence tests."""

from __future__ import annotations

import pyspark.sql.functions as F

from hadoop_and_spark_spark.catalog import load_table
from hadoop_and_spark_spark.operators.skew import salted_equi_join


def test_salted_join_equals_plain_join(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    profile = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"))
    )
    plain = {
        (r.event_id, r.avg_value)
        for r in ev.join(profile, "user_id").collect()
    }
    salted = {
        (r.event_id, r.avg_value)
        for r in salted_equi_join(
            ev, profile, key="user_id", spread="event_id", salt=8
        ).collect()
    }
    assert salted == plain and plain


def test_salted_join_spreads_hot_key(spark):
    """A single ultra-hot key must land in >1 salt sub-key (the whole
    point), and the join must still match every row exactly once."""
    hot = spark.range(1000).select(
        F.lit(7).alias("k"), F.col("id").alias("rid")
    )
    dim = spark.createDataFrame([(7, "x")], "k long, v string")
    out = salted_equi_join(hot, dim, key="k", spread="rid", salt=8)
    assert out.count() == 1000
    n_salts = (
        hot.withColumn("s", F.pmod(F.hash("rid"), F.lit(8)))
        .select("s")
        .distinct()
        .count()
    )
    assert n_salts > 1


def test_hierarchical_topk_equals_naive_window(spark, sf_dir):
    from pyspark.sql import Window

    from hadoop_and_spark_spark.streaming.windows import (
        HEAVY_K,
        heavy_users_topk,
    )

    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("user_id"))
    naive = {
        (r.event_type, r.rank, r.user_id, r.cnt)
        for r in counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= HEAVY_K)
        .collect()
    }
    got = {
        (r.event_type, r.rank, r.user_id, r.cnt)
        for r in heavy_users_topk(spark, sf_dir).collect()
    }
    assert got == naive and got


def test_salted_hot_key_join_plan_spreads_the_hot_key(spark, sf_dir):
    """The registered skew demo must actually plan the salt: both join
    inputs exchange on (hot_user, __salt) — so the 95%-hot key spreads
    over SALT_DEMO shuffle sub-keys — and the salted join is a shuffle
    join, never a broadcast (a broadcastable dim would make the salt
    dead weight)."""
    from hadoop_and_spark_spark.operators.skew import salted_hot_key_join

    plan = (
        salted_hot_key_join(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    salted_exchanges = [
        l
        for l in plan.splitlines()
        if "hashpartitioning" in l and "__salt" in l and "hot_user" in l
    ]
    assert len(salted_exchanges) >= 2, plan
    assert not any(
        "BroadcastHashJoin" in l and "__salt" in l for l in plan.splitlines()
    ), plan


def test_salted_hot_key_join_equals_unsalted(spark, sf_dir):
    """Salting must be invisible in the result: the demo equals the
    plain (unsalted) join+aggregate row-for-row."""
    from hadoop_and_spark_spark.operators.skew import (
        HOT_MOD,
        salted_hot_key_join,
    )
    from hadoop_and_spark_spark.functions.portable import round6

    ev = load_table(spark, sf_dir, "events")
    fact = ev.select(
        F.when(F.col("user_id") % HOT_MOD != 0, F.lit(0).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("hot_user"),
        "value",
    )
    dim = fact.select("hot_user").distinct().select(
        "hot_user", (F.floor(F.col("hot_user") / HOT_MOD) % 5).alias("tier")
    )
    plain = {
        (r.tier, r.n_events, r.sum_value)
        for r in fact.join(dim, "hot_user")
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_events"),
            round6(F.sum("value")).alias("sum_value"),
        )
        .collect()
    }
    got = {
        (r.tier, r.n_events, r.sum_value)
        for r in salted_hot_key_join(spark, sf_dir).collect()
    }
    assert got == plain and got


def test_hot_key_distribution_is_actually_skewed(spark, sf_dir):
    """Staleness pin for the demo's premise: the folded key must hold
    the overwhelming majority of rows (else the demo stops
    demonstrating skew)."""
    from hadoop_and_spark_spark.operators.skew import HOT_MOD

    ev = load_table(spark, sf_dir, "events")
    total = ev.count()
    hot = ev.where(F.col("user_id") % HOT_MOD != 0).count()
    assert hot / total > 0.9, (hot, total)


import pytest


@pytest.fixture(scope="session")
def hot_user_corpus_dir(spark, sf_dir, tmp_path_factory) -> str:
    """Hot-GROUP corpus: ONE user holds ~half of all events (every
    even event_id is reassigned to user 7 — the one-celebrity-account
    shape along the GROUP axis rather than the join-key axis
    tools/skew_compare.py measures). Events keep their timestamps and
    ids, so every replay script and watermark scenario stays valid;
    the other tables are symlinked untouched."""
    import os

    from hadoop_and_spark_spark.catalog import TABLES, load_table

    hd = str(tmp_path_factory.mktemp("sf_hotuser"))
    for t in TABLES:
        if t == "events":
            df = load_table(spark, sf_dir, t).withColumn(
                "user_id",
                F.when(F.col("event_id") % 2 == 0, F.lit(7).cast("long"))
                .otherwise(F.col("user_id")),
            )
            df.write.parquet(os.path.join(hd, "events.parquet"))
        else:
            os.symlink(
                os.path.join(sf_dir, f"{t}.parquet"),
                os.path.join(hd, f"{t}.parquet"),
            )
    return hd


def test_user_keyed_state_handles_hot_user(spark, hot_user_corpus_dir):
    """Round 8's adversarial corpus stressed value/width extremes; the
    remaining untested axis is the hot GROUP: one user holding ~half
    the events concentrates per-user state — the session window
    (user_sessions, user_sessions_stream's open-session state), the
    interval join's per-user click buffer (purchase_click_pairs), and
    next_event_pairs' per-user lead window — into single window
    partitions / state-store keys. This sweep runs every temporal,
    skew, and streaming-family query on exactly that corpus and pins
    ORACLE PARITY (the driver's own check) wherever an oracle exists,
    totality otherwise."""
    import importlib

    from conftest import run_queries_concurrently

    from hadoop_and_spark_spark import oracle
    from hadoop_and_spark_spark.registry import _OPERATOR_MODULES, collect

    queries, oracles = collect()
    names = [
        n
        for modname in _OPERATOR_MODULES
        if ".streaming." in modname
        or modname.rsplit(".", 1)[1] in ("temporal", "skew", "taxi")
        for n in importlib.import_module(modname).QUERIES
    ]
    assert len(names) >= 25  # the sweep must not silently shrink

    def check(name: str) -> None:
        if name in oracles:
            ok, msg = oracle.compare(
                spark, hot_user_corpus_dir, queries[name], oracles[name]
            )
            assert ok, f"hot-user oracle drift: {name}: {msg}"
        else:
            queries[name](spark, hot_user_corpus_dir).collect()

    run_queries_concurrently(names, check)
