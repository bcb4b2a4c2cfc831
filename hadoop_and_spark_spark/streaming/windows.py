"""Windowed event analytics (reference a7, batch-checkable forms).

The reference runs DStream jobs — `reduceByKeyAndWindow` with an
inverse function, manual-clock micro-batches — whose *semantics* are
plain event-time tumbling windows. Each query here is expressed over
the batch `events` table (DuckDB-checkable, the driver gate). The
Structured Streaming twins are the replay queries of
streaming/trending.py, whose oracles live here beside the batch forms.

Mapping (SURVEY §2.9):
- T2 EventCount: tumbling 1-hour count over everything.
- T3 RegionEventCount: keyed tumbling 10-minute counts after a
  classification projection (events stand in for the taxi feed;
  the geo variant lives in sources/taxi.py).
- T5 TrendingArrivals: batch re-expression via lag() — alert when
  cur >= 2*prev and cur >= 10 (a7/TrendingArrivals.scala:53); the
  stateful streaming twin is streaming/trending.py.
- T4 (inverse-function window optimization) is internal to the
  Structured Streaming state store — nothing to write.

Scale notes: tumbling-window groupBy is a single shuffle keyed
(key, window); with a watermark the state store evicts closed
windows, so unbounded streams run in bounded memory. Late data is
handled by `withWatermark` (absent in the reference — its manual
clock made lateness impossible).

The module also carries the events-table analytics beyond the
reference surface: JSON props stats, the HLL reach sketch (X25),
hierarchical per-group top-k (X31), the trailing moving average
(X36), and the declared-list pivot (X37) — each sharing the same
fact-table scan discipline (pre-aggregate before any window, declare
category domains, sketch where exact state is unbounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import round6, round6_sql

TREND_FACTOR = 2  # cur >= 2*prev, a7/TrendingArrivals.scala:53
TREND_MIN = 10  # and cur >= 10

_WINDOW_FMT = "yyyy-MM-dd HH:mm"


def _classify(col):
    """Stand-in for the taxi bbox dispatch: map event_type to a
    coarse region so the keyed-window query has the reference shape."""
    return (
        F.when(col.isin("purchase", "signup"), "conversion")
        .when(col.isin("click", "view"), "engagement")
        .otherwise("other")
    )


def event_count_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: tumbling 1-hour event counts (EventCount.scala:66-70).

    No fan_out on these window counts: the map side is cheap codegen
    (classify + truncate) that partial-aggregates inside the scan's
    own splits, so a round-robin pre-shuffle of the full event stream
    costs more than the parallelism it buys (measured min-of-3 at
    sf0.1: 0.28 s vs 0.44 s hourly, 0.39 s vs 0.59 s keyed) and is a
    no-op on a multi-split scan anyway. fan_out stays reserved for
    expensive per-row map work (tokenize+explode, Arrow kernels)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format(F.col("w.start"), _WINDOW_FMT).alias("window_start"),
            "cnt",
        )
        .orderBy("window_start")
    )


def region_event_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: keyed tumbling 10-minute counts after classification
    (RegionEventCount.scala:77-114). No fan_out — see
    event_count_hourly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(_classify(F.col("event_type")).alias("region"), "ts")
        .groupBy("region", F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "region",
            F.date_format(F.col("w.start"), _WINDOW_FMT).alias("window_start"),
            "cnt",
        )
        .orderBy("region", "window_start")
    )


SLIDE_LEN = "2 hours"
SLIDE_HOP = "1 hour"


def event_count_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time window — the overlapping-window
    family T2/T3's tumbling windows don't exercise: 2-hour windows
    every 1 hour, so each event lands in exactly len/hop = 2 windows.

    Spark plans this as a single Expand (one row per covering window)
    feeding the same partial+final hash aggregate as a tumbling count
    — one shuffle of (window, partial) pairs, map-side combined, with
    the len/hop ratio as the Expand multiplier. The DuckDB oracle
    states the expansion explicitly (each event contributes to the
    windows starting at trunc_hour(ts) and trunc_hour(ts) − 1 h; both
    engines align windows to the epoch, i.e. to hour boundaries).

    At 100 TB the cost scales with len/hop — keep the ratio small and
    pre-aggregate to hop-sized tumbling buckets first if it isn't
    (the classic two-level hopping optimization; unnecessary at
    ratio 2)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", SLIDE_LEN, SLIDE_HOP).alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format(F.col("w.start"), _WINDOW_FMT).alias("window_start"),
            "cnt",
        )
        .orderBy("window_start")
    )


def trending_arrivals_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 batch twin: per-type hourly counts, alert when a window at
    least doubles the previous existing window and reaches the floor
    (TrendingArrivals.scala:47-68 semantics on event time; the
    reference's 10-minute window is widened to 1 hour because the
    events table averages <1 event per type per 10 minutes — the
    alert rule constants are unchanged).

    First-window semantics follow the reference's initial state 0
    (TrendingArrivals.scala:53): a key's first window has prev = 0,
    and the rule is ``cnt >= TREND_FACTOR * max(prev, 1)`` — so an
    opening burst ≥ TREND_MIN alerts, exactly like the streaming twin
    (streaming/trending.py::_trend_fn). No fan_out — see
    event_count_hourly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        trending_lagged_counts(ev)
        .where("trending")
        .select(
            "event_type",
            F.date_format("ws", _WINDOW_FMT).alias("window_start"),
            "cnt",
            "prev",
        )
        .orderBy("event_type", "window_start")
    )


def trending_lagged_counts(ev: DataFrame) -> DataFrame:
    """Per-type hourly counts with the previous EXISTING window's
    count and the trend flag — the full state trajectory, unfiltered.
    This is the exact batch twin of streaming/trending.py::_trend_fn
    (which is likewise only invoked for batches where the key has
    rows, so its ``prev`` also means last-window-with-data): the
    cross-check test replays the same events through both and
    requires identical (key, cnt, prev, trending) trajectories."""
    counts = (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select("event_type", F.col("w.start").alias("ws"), "cnt")
    )
    lagw = Window.partitionBy("event_type").orderBy("ws")
    return counts.withColumn(
        "prev", F.coalesce(F.lag("cnt").over(lagw), F.lit(0))
    ).withColumn(
        "trending",
        (F.col("cnt") >= TREND_MIN)
        & (F.col("cnt") >= TREND_FACTOR * F.greatest("prev", F.lit(1))),
    )


def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured projection: extract ``props.k`` from the JSON
    string column and aggregate per event type.

    The reference has no JSON surface (SURVEY §2.8 flags this as the
    natural extension for the ``events.props`` column); adds
    get_json_object + count_distinct coverage to the engine. JSON
    parsing happens once in the scan projection (codegen'd), so at
    scale this is scan-bound — push any k-filter before the groupBy.
    No fan_out (measured neutral at sf0.1) — see event_count_hourly.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", "user_id", "value", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            # Sum in decimal(18,2) (order-independent, exact), then
            # convert the final 2-dp value to double: the harness
            # hashes PANDAS frames, where DuckDB renders DECIMAL as
            # float64 but Spark keeps object(Decimal) — only a DOUBLE
            # final column hashes identically on both engines. The
            # decimal→double conversion of a fixed 2-dp value is the
            # same nearest-double everywhere, so no precision flap.
            # try_cast, not cast: a non-finite or >10^16 value row
            # degrades to NULL (skipped by sum) instead of an ANSI
            # ArithmeticException killing the executor.
            F.sum(F.col("value").try_cast("decimal(18,2)"))
            .try_cast("decimal(18,2)")
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


HLL_RSD = 0.01  # HyperLogLog++ target relative standard deviation


def user_reach_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user reach via the HyperLogLog++
    sketch — the cardinality sibling of q9b's quantile sketch, and
    the 100 TB form of events_json_stats' exact count_distinct:
    exact distinct shuffles every (type, user) pair to dedupe; the
    HLL sketch is a fixed ~kilobytes-per-group register set that
    partial-aggregates map-side and merges at the exchange, so
    distinct-counting 10¹⁰ users costs the same state as 10⁴.

    Rows-only at the driver: HLL register contents are not
    cross-engine reproducible. Correctness story: tolerance pin
    against the exact (oracle-green) n_users in events_json_stats
    (tests/test_streaming.py) plus the partial-aggregation plan pin.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=HLL_RSD).alias(
                "n_users_approx"
            ),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


HEAVY_K = 10  # top users per event type
HEAVY_SALT = 32  # stage-1 fan-out of each group's candidate scan


def heavy_users_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-HEAVY_K users per event type by event count — per-group
    top-k on a fact table whose groups are FEW and HUGE (5 types ×
    all users), i.e. exactly the shape where the obvious
    `row_number over (partition by type)` window collapses each
    type's entire user population into one task.

    Scale-safe shape — HIERARCHICAL top-k: salt each group by
    user_id % HEAVY_SALT, take the top-K of every (type, salt)
    sub-group (windows over bounded sub-partitions), then re-rank the
    ≤ types·SALT·K survivors in a final window over the now-tiny
    candidate set. Exact, not approximate: any global top-K member is
    by definition in its own sub-group's top-K (ties broken
    deterministically by user_id on both levels, mirrored in the
    oracle). On a cluster HEAVY_SALT scales with executor count; the
    candidate set stays  ≤ groups·SALT·K rows regardless of corpus
    size — the same bounded-rank move as tfidf's orderBy+limit, per
    group."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("cnt")
    )
    sub = Window.partitionBy(
        "event_type", F.col("user_id") % HEAVY_SALT
    ).orderBy(F.desc("cnt"), F.asc("user_id"))
    cand = (
        counts.withColumn("r1", F.row_number().over(sub))
        .where(F.col("r1") <= HEAVY_K)
        .drop("r1")
    )
    final = Window.partitionBy("event_type").orderBy(
        F.desc("cnt"), F.asc("user_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= HEAVY_K)
        .select("event_type", "rank", "user_id", "cnt")
        .orderBy("event_type", "rank")
    )


MAVG_WINDOW = 3  # trailing days in the moving average

# Fixed pivot column list: at scale pivot must NEVER discover its
# values with an extra distinct job over the fact table — the
# category domain is declared, and unexpected values fall out (or
# land in an 'other' bucket if added here).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def value_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily value totals with a trailing MAVG_WINDOW-
    day moving average — the analytic-window (frame-spec) operator
    family over the fact table.

    Determinism across engines: the daily total is summed as
    DECIMAL(18,2) (exact, order-free) and only then widened to
    DOUBLE; the moving average is built from explicit lag() terms —
    (s + lag(s,1) + lag(s,2)) / n — rather than an avg() OVER a ROWS
    frame, whose internal summation order is engine-defined. Window
    partitions are (event_type): their size is bounded by the DATE
    RANGE (one row per day after the pre-aggregation), not the
    corpus — the aggregation runs first, the window only ever sees
    days × types rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(
            # try_cast: non-finite/overflow rows → NULL, never an
            # ANSI executor crash (see events_json_stats above)
            F.sum(F.col("value").try_cast("decimal(18,2)"))
            .try_cast("decimal(18,2)")
            .cast("double")
            .alias("day_value")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lag1 = F.lag("day_value", 1).over(w)
    lag2 = F.lag("day_value", 2).over(w)
    n = F.least(F.row_number().over(w), F.lit(MAVG_WINDOW))
    mavg = (
        F.col("day_value") + F.coalesce(lag1, F.lit(0.0)) + F.coalesce(lag2, F.lit(0.0))
    ) / n
    return (
        daily.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            # day_value is already exact at 2 dp (decimal-summed);
            # mavg rounds via the portable floor form — engine round()
            # builtins disagree on binary .5 ties (see portable.round6)
            "day_value",
            round6(mavg).alias("mavg3"),
        )
        .orderBy("event_type", "day")
    )


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts pivoted to one column per event type — the
    PIVOT relational operator with the value list DECLARED
    (EVENT_TYPES), expressed as conditional aggregation: one
    count-when per declared type inside a SINGLE groupBy(day).

    Two reasons over ``df.pivot()``: a bare ``pivot(col)`` runs a
    values-DISCOVERY job over the whole fact table before planning,
    and even the declared-list pivot plans as TWO aggregation phases
    ((day, type) counts → pivotfirst per day — two exchanges). The
    conditional form is the plan PIVOT should make: one partial+final
    hash aggregation around one exchange, state = days × declared
    types, absent combinations a typed 0 (count of no rows), never
    NULL. Plan-pinned to exactly two HashAggregates and no Expand."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            *[
                F.count(F.when(F.col("event_type") == t, F.lit(1))).alias(t)
                for t in EVENT_TYPES
            ]
        )
        .orderBy("day")
    )


Z_THRESHOLD = 3.0  # |z| cut for the outlier flag


def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers: events whose value sits more than
    Z_THRESHOLD population standard deviations from their type's mean
    — the robust-stats anomaly gate of the events family.

    Plan: aggregate-then-broadcast-back (the balance_quartiles shape)
    — ONE pass computes each type's exact moment sums, the 5-row
    stats table broadcasts, and the flag is a comparison projection;
    no window, nothing corpus-sized shuffles, outliers stream out of
    the scan. Cross-engine determinism: builtin avg/stddev are
    FP-order-dependent, so the moments are summed as DECIMALs
    (value is 2-dp; value² is exactly a 4-dp decimal), converted to
    double only once — both engines then evaluate the identical
    mean/variance/z expressions on identical doubles, making the
    |z| > 3 boundary itself portable (no epsilon rows)."""
    ev = load_table(spark, sf_dir, "events")
    # try_cast: a non-finite value row contributes NULL to the moment
    # sums (skipped) instead of ANSI-crashing the aggregation
    vdec = F.col("value").try_cast("decimal(18,2)")
    stats = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(vdec).cast("double").alias("s"),
        F.sum(vdec * vdec).cast("double").alias("ssq"),
    )
    mean = F.col("s") / F.col("n")
    var = F.col("ssq") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where((var > 0) & (F.abs(z) > Z_THRESHOLD))
        .select("event_id", "event_type", "value", round6(z).alias("z"))
        .sortWithinPartitions("event_id")
    )


PSEUDO_SALT = "u#2026"  # deployment-secret in production; pinned for tests


def pseudonymize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymization — the privacy pass for QUASI-identifiers that
    must stay joinable: replace user_id with a salted SHA-256 so
    per-user structure (sessions, reach, attribution) survives while
    the raw id never leaves the cluster. The complement of pii_scrub
    (which REDACTS direct identifiers out of free text).

    Pure codegen projection, no shuffle; both engines emit identical
    lowercase-hex sha256 over the identical salted string, so the
    mapping is cross-engine stable — re-keying is reproducible across
    backfills (the property that makes pseudonyms joinable across
    pipeline runs)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.sha2(
                F.concat(F.lit(PSEUDO_SALT), F.col("user_id").cast("string")),
                256,
            ).alias("user_hash"),
            "event_type",
            "value",
        )
        .sortWithinPartitions("event_id")
    )


def with_batch_counter(df: DataFrame, name: str = "engine_metrics") -> DataFrame:
    """A14 streaming twin of the reference's micro-batch accumulator
    (EventCount.scala:55, the "number of completed RDDs" counter):
    attach a named observation counting the rows of each micro-batch.
    Metrics surface per batch in
    ``StreamingQueryProgress.observedMetrics[name]`` — the metric
    aggregation rides the batch's own job, no extra action and no
    driver round-trip, exactly like the batch-side ``Observation``
    channel in operators/graph.py."""
    return df.observe(name, F.count(F.lit(1)).alias("n_rows"))


ORACLE_SQL: dict[str, str] = {
    "event_count_hourly": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
               count(*) AS cnt
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "region_event_count": """
        SELECT CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                    WHEN event_type IN ('click', 'view') THEN 'engagement'
                    ELSE 'other' END AS region,
               strftime(time_bucket(INTERVAL '10 minutes', ts::TIMESTAMP),
                        '%Y-%m-%d %H:%M') AS window_start,
               count(*) AS cnt
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "trending_arrivals_batch": f"""
        WITH counts AS (
            SELECT event_type,
                   time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS ws,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        lagged AS (
            SELECT event_type, ws, cnt,
                   coalesce(lag(cnt) OVER (PARTITION BY event_type ORDER BY ws),
                            0) AS prev
            FROM counts
        )
        SELECT event_type, strftime(ws, '%Y-%m-%d %H:%M') AS window_start,
               cnt, prev
        FROM lagged
        WHERE cnt >= {TREND_MIN}
          AND cnt >= {TREND_FACTOR} * greatest(prev, 1)
        ORDER BY event_type, window_start
    """,
    # The STATEFUL streaming path (applyInPandasWithState, one week
    # per micro-batch): a key emits one row per batch it appears in
    # with prev = its count in the last batch it appeared in — which
    # is exactly lag(cnt) over the key's PRESENT weeks. Both engines
    # truncate weeks to ISO Mondays.
    "trending_arrivals_stream": f"""
        WITH counts AS (
            SELECT event_type AS key,
                   strftime(date_trunc('week', ts::TIMESTAMP),
                            '%Y-%m-%d') AS week,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        lagged AS (
            SELECT key, week, cnt,
                   coalesce(lag(cnt) OVER (PARTITION BY key ORDER BY week),
                            0) AS prev
            FROM counts
        )
        SELECT key, week, cnt, prev,
               (cnt >= {TREND_MIN}
                AND cnt >= {TREND_FACTOR} * greatest(prev, 1)) AS trending
        FROM lagged
        ORDER BY key, week
    """,
}

# Aggregate result types are pinned to Spark's: DuckDB widens
# sum(BIGINT) to HUGEINT and sum(DECIMAL(18,2)) to DECIMAL(38,2),
# which breaks the driver's *typed* value hash even though the
# values are identical (same pattern as spam_eval's n_spam::BIGINT).
ORACLE_SQL["events_json_stats"] = """
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
           min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
           max(json_extract_string(props, '$.k')::BIGINT) AS max_k,
           sum(value::DECIMAL(18,2))::DECIMAL(18,2)::DOUBLE AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
"""

ORACLE_SQL["heavy_users_topk"] = f"""
    WITH counts AS (
        SELECT event_type, user_id, count(*) AS cnt
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type, rank, user_id, cnt FROM (
        SELECT event_type, user_id, cnt,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cnt DESC, user_id) AS rank
        FROM counts
    ) WHERE rank <= {HEAVY_K} ORDER BY event_type, rank
"""

ORACLE_SQL["value_moving_avg"] = f"""
    WITH daily AS (
        SELECT event_type, ts::DATE AS day,
               sum(value::DECIMAL(18,2))::DECIMAL(18,2)::DOUBLE AS day_value
        FROM events GROUP BY event_type, ts::DATE
    ),
    lagged AS (
        SELECT event_type, day, day_value,
               coalesce(lag(day_value, 1) OVER w, 0.0) AS l1,
               coalesce(lag(day_value, 2) OVER w, 0.0) AS l2,
               least(row_number() OVER w, {MAVG_WINDOW}) AS n
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, day_value,
           {round6_sql("(day_value + l1 + l2) / n")} AS mavg3
    FROM lagged ORDER BY event_type, day
"""

ORACLE_SQL["events_pivot"] = (
    "SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, "
    + ", ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS {t}"
        for t in EVENT_TYPES
    )
    + " FROM events GROUP BY ts::DATE ORDER BY day"
)

ORACLE_SQL["value_outliers"] = f"""
    WITH stats AS (
        SELECT event_type,
               count(*)::DOUBLE AS n,
               sum(value::DECIMAL(18,2))::DOUBLE AS s,
               sum(value::DECIMAL(18,2) * value::DECIMAL(18,2))::DOUBLE AS ssq
        FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, value,
           {round6_sql("(value - s/n) / sqrt(ssq/n - (s/n)*(s/n))")} AS z
    FROM events e JOIN stats USING (event_type)
    WHERE ssq/n - (s/n)*(s/n) > 0
      AND abs((value - s/n) / sqrt(ssq/n - (s/n)*(s/n))) > {Z_THRESHOLD}
    ORDER BY event_id
"""

ORACLE_SQL["pseudonymize_events"] = f"""
    SELECT event_id,
           sha256('{PSEUDO_SALT}' || user_id::VARCHAR) AS user_hash,
           event_type, value
    FROM events ORDER BY event_id
"""

# The streaming twin produces exactly the batch query's result (each
# hourly window updates in exactly one week-batch), so it shares its
# oracle.
ORACLE_SQL["event_count_hourly_stream"] = ORACLE_SQL["event_count_hourly"]
ORACLE_SQL["region_event_count_stream"] = ORACLE_SQL["region_event_count"]


# Late-data replay: the SECOND chronological week arrives after every
# other week, far past the 1-hour watermark, so the engine must DROP
# its rows — the oracle counts hours EXCLUDING that week. A green
# driver row therefore witnesses watermark EVICTION: if the late rows
# were aggregated (no eviction), every displaced-week hour would
# appear and the hash would flap red. date_trunc('week') is
# Monday-start in both engines, so the excluded bucket is identical.
# The TOLERATED twin runs the SAME out-of-order delivery under a
# watermark wide enough to accept the displaced week, so it must
# reproduce the full in-order counts — the pair pins that the
# watermark horizon (not delivery order) decides late-data fate.
ORACLE_SQL["event_count_hourly_late_tolerated"] = ORACLE_SQL[
    "event_count_hourly"
]

ORACLE_SQL["event_count_hourly_late"] = """
    WITH wks AS (
        SELECT DISTINCT date_trunc('week', ts) AS w FROM events
    ), displaced AS (
        SELECT w FROM (
            SELECT w, row_number() OVER (ORDER BY w) AS rn FROM wks
        ) WHERE rn = 2
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
           count(*) AS cnt
    FROM events
    WHERE date_trunc('week', ts) NOT IN (SELECT w FROM displaced)
    GROUP BY 1 ORDER BY 1
"""


# Hopping windows: every event covers the windows starting at
# trunc_hour(ts) and trunc_hour(ts) − 1 h (len 2 h, hop 1 h, both
# engines epoch-aligned). The streaming twin consolidates its
# update-mode sink by max(cnt) — counts are monotone — so it shares
# the batch oracle.
ORACLE_SQL["event_count_sliding"] = """
    WITH starts AS (
        SELECT date_trunc('hour', ts) AS s FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR FROM events
    )
    SELECT strftime(s, '%Y-%m-%d %H:%M') AS window_start, count(*) AS cnt
    FROM starts GROUP BY 1 ORDER BY 1
"""
ORACLE_SQL["event_count_sliding_stream"] = ORACLE_SQL["event_count_sliding"]


# Session-window state under the gate: append mode emits each session
# exactly once at watermark close, and sessions straddling a weekly
# micro-batch boundary exist in every corpus, so the final sink equals
# the batch sessionization — whose oracle it shares — only if the
# state store merged open sessions across batches correctly.
def _register_session_stream_oracle() -> None:
    from ..operators.temporal import ORACLE_SQL as _TEMPORAL

    ORACLE_SQL["user_sessions_stream"] = _TEMPORAL["user_sessions"]


_register_session_stream_oracle()


QUERIES = {
    "event_count_hourly": event_count_hourly,
    "region_event_count": region_event_count,
    "trending_arrivals_batch": trending_arrivals_batch,
    "event_count_sliding": event_count_sliding,
    "events_json_stats": events_json_stats,
    "user_reach_approx": user_reach_approx,
    "heavy_users_topk": heavy_users_topk,
    "value_moving_avg": value_moving_avg,
    "events_pivot": events_pivot,
    "pseudonymize_events": pseudonymize_events,
    "value_outliers": value_outliers,
}
