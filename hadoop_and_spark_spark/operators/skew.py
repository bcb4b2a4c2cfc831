"""Skew-mitigation utilities.

Policy is AQE-first: the session enables
``spark.sql.adaptive.skewJoin`` (session.py), which splits oversized
sort-merge partitions at runtime, and hash aggregations partial-
aggregate map-side, so MOST skew needs no hand-tuning. Manual salting
is for the cases AQE cannot reach:

- shuffled-hash / state-keyed plans where a single key's rows must
  not land in one task (streaming state stores, windowed ranks — see
  ``heavy_users_topk``'s two-level hierarchical form for the
  aggregation flavor),
- deterministic layouts where runtime re-splitting is not available
  (bucketed writes, pre-AQE engines being reproduced).

``salted_equi_join`` implements the classic construction: the skewed
(fact) side spreads each hot key across SALT sub-keys by hashing a
per-row spread column; the other side replicates each row SALT times
so every sub-key still finds its match. The join result is EXACTLY
the plain join's — replication is keyed, never cross-joined — at the
cost of a SALT× blowup of the (small, but not broadcastable) side.

Measured boundary (tools/skew_compare.py, 20M rows ~95% on one key):
where OptimizeSkewedJoin engages it beats the salt — 1.1–1.3 s vs
2.4 s, no replication to pay — but it pattern-matches only joins fed
by BARE shuffle stages; a dim whose ``distinct()`` final aggregate
fuses before the join is silently declined (7.99 s, same as skew-off)
while the salt holds its 3.3×. Its detector also reads COMPRESSED
shuffle sizes against a 256 MB default threshold, so well-compressed
hot partitions can evade detection entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import round6, round6_sql

SALT_COL = "__salt"


def salted_equi_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    spread: str,
    salt: int = 8,
) -> DataFrame:
    """Equi-join on ``key`` with the skewed side's hot keys spread
    over ``salt`` shuffle sub-keys.

    ``spread`` is any column of the skewed side with per-row variety
    (an event id, a timestamp): the salt is ``pmod(hash(spread),
    salt)``, deterministic per row — no RNG, so plans stay replayable.
    ``other`` explodes to one copy per salt value; each (key, salt)
    pair therefore joins exactly one replica and the output equals the
    unsalted join row-for-row."""
    if SALT_COL in skewed.columns or SALT_COL in other.columns:
        raise ValueError(f"{SALT_COL} column name is reserved")
    left = skewed.withColumn(SALT_COL, F.pmod(F.hash(F.col(spread)), F.lit(salt)))
    right = other.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return left.join(right, [key, SALT_COL]).drop(SALT_COL)


# ------------------------------------------- registered demonstration

HOT_MOD = 20  # user_id % HOT_MOD != 0 folds onto hot key 0 (~95% of rows)
SALT_DEMO = 8


def salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join under GENUINE hot-key skew, end-to-end through the
    driver gate: fold ~95% of the event stream onto one hot user key
    (every user_id not divisible by HOT_MOD maps to key 0 — the
    one-celebrity-account shape), join it to a per-key dimension, and
    aggregate per tier.

    Without salting, a shuffle join on hot_user lands 95% of the fact
    table in ONE task — the partition AQE's skew-join can split for
    sort-merge but a state-keyed or bucketed plan cannot. The
    ``salted_equi_join`` construction spreads the hot key across
    SALT_DEMO sub-keys (deterministic pmod(hash(event_id))) while the
    dimension replicates SALT_DEMO×, so every shuffle partition
    carries ≤ ~1/SALT of the hot key and the result equals the plain
    join row-for-row — which is exactly what the DuckDB oracle runs
    (no salt: the salt must be invisible in the result to be correct).
    The dimension side carries a shuffle_hash hint: a broadcastable
    dim needs no salt (broadcast joins never shuffle the fact side);
    the demo models the production case where the dim is
    shuffle-joined. tests/test_plans.py pins the salt spread in the
    physical plan (hashpartitioning on (hot_user, __salt), no
    broadcast on the salted join).

    At 100 TB: the fact side shuffles once on (key, salt) — same
    volume as the unsalted join, minus the straggler — and the dim
    side grows SALT×, the standard trade. The dim here derives from
    the fact stream for self-containedness; a real deployment joins a
    stored dimension table through the identical plan."""
    ev = load_table(spark, sf_dir, "events")
    fact = ev.select(
        F.when(F.col("user_id") % HOT_MOD != 0, F.lit(0).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("hot_user"),
        "event_id",
        "value",
    )
    dim = (
        fact.select("hot_user")
        .distinct()
        .select(
            "hot_user",
            (F.floor(F.col("hot_user") / HOT_MOD) % 5).alias("tier"),
        )
        .hint("shuffle_hash")
    )
    joined = salted_equi_join(
        fact, dim, key="hot_user", spread="event_id", salt=SALT_DEMO
    )
    return (
        joined.groupBy("tier")
        .agg(
            F.count("*").alias("n_events"),
            round6(F.sum("value")).alias("sum_value"),
        )
        .orderBy("tier")
    )


QUERIES = {"salted_hot_key_join": salted_hot_key_join}

ORACLE_SQL = {
    "salted_hot_key_join": f"""
        WITH fact AS (
            SELECT CASE WHEN user_id % {HOT_MOD} <> 0 THEN 0
                        ELSE user_id END AS hot_user,
                   event_id, value
            FROM events
        ), dim AS (
            SELECT DISTINCT hot_user, (hot_user // {HOT_MOD}) % 5 AS tier
            FROM fact
        )
        SELECT d.tier, count(*) AS n_events,
               {round6_sql('sum(f.value)')} AS sum_value
        FROM fact f JOIN dim d USING (hot_user)
        GROUP BY d.tier ORDER BY d.tier
    """,
}
