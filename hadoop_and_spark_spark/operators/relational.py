"""Relational query surface (reference a5: TPC-H-ish Q1–Q7).

Each function is the Spark-first re-expression of one hand-written
RDD plan from the reference (cited per-function). The reference
hand-chose join strategies (collectAsMap+broadcast closures for dims,
cogroup for fact-fact) and hand-pushed filters; here every query is a
declarative DataFrame plan so Catalyst does pushdown, pruning,
partial aggregation, and join selection (with explicit ``broadcast``
hints only where the reference's choice is provably right at any
scale: the fixed-cardinality dims).

Scale notes (100 TB):
- Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; with
  AQE skew-join on, skewed orderkeys split automatically.
- Every filter lands in PushedFilters at the parquet scan (verified
  in tests/test_plans.py) so row-group pruning works on partitioned
  data.
- Aggregates are partial (map-side) + final — visible as two
  HashAggregate nodes inside WholeStageCodegen.

Determinism-for-oracle notes: every money/ratio output is rounded
(round(x, 2..6)) in BOTH the Spark plan and the DuckDB oracle so the
order-insensitive value-hash compare is stable against FP summation
order; top-k queries sort by a unique key (the testdata does NOT make
(l_orderkey, l_linenumber) unique, so limits key on distinct or
grouped keys only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table

# Fixed query parameters (the reference passes these as CLI args,
# e.g. `-date 1996-01-01`; our driver contract takes none, so they
# are pinned here and mirrored in the oracle SQL).
Q1_MONTH_START, Q1_MONTH_END = "1996-01-01", "1996-02-01"
Q2_MONTH_START, Q2_MONTH_END = "1996-01-01", "1996-02-01"
Q3_MAX_ORDERKEY = 100
Q4_DATE_START, Q4_DATE_END = "1996-01-01", "1997-01-01"
Q5_NATIONS = ("NATION_3", "NATION_24")
Q6_CUTOFF = "1998-09-02"
Q7_DATE = "1997-06-30"
TOPK = 20


def q1_shipdate_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count lineitems shipped in a given month.

    Reference: a5/Q1.scala:50-57 — `line.contains(date)` substring
    match on the string shipdate (month-prefix matching in practice).
    Testdata has a real timestamp column, so the faithful semantics
    is a half-open month range — which also pushes down to the
    parquet scan, unlike a substring match.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit(Q1_MONTH_START))
            & (F.col("l_shipdate") < F.lit(Q1_MONTH_END))
        )
        .agg(F.count("*").alias("cnt"))
    )


def q2_orders_for_shipped_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First TOPK orderkeys with a lineitem shipped in the month, with
    the order's priority.

    Reference: a5/Q2.scala:44-66 — cogroup(lineitem, orders) +
    nonEmpty filter = inner join with an implicit DISTINCT on
    orderkey (one output row per orderkey, not per lineitem). The
    Spark-first form is a left-semi join: no lineitem payload is
    shuffled, and the distinct falls out of the semi-join semantics.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    shipped = li.where(
        (F.col("l_shipdate") >= F.lit(Q2_MONTH_START))
        & (F.col("l_shipdate") < F.lit(Q2_MONTH_END))
    ).select("l_orderkey")
    return (
        orders.join(shipped, orders.o_orderkey == shipped.l_orderkey, "left_semi")
        .select("o_orderpriority", "o_orderkey")
        .orderBy("o_orderkey")
        .limit(TOPK)
    )


def q3_part_supplier_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part and supplier names for lineitems of low orderkeys.

    Reference: a5/Q3.scala:42-76 — two `collectAsMap` → broadcast →
    closure lookups (hand-built map-side hash join against part and
    supplier). Spark-first: two `broadcast()` dimension joins; the
    orderkey filter is pushed to the scan so only the selected rows
    ever reach the join.

    Output keyed deterministically by (l_orderkey, l_linenumber,
    p_name, s_name) via a predicate (not LIMIT — linenumber is not
    unique in the testdata).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        li.where(F.col("l_orderkey") < Q3_MAX_ORDERKEY)
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "l_linenumber", "p_name", "s_name")
    )


def q4_orders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem volume per customer nation for one order-date year.

    Reference: a5/Q4.scala:42-104 — 3-way join chain
    lineitem ⋈ orders ⋈ customer ⋈ nation with hand-broadcast
    customer+nation maps, then sum per nationkey. Spark-first: one
    declarative 4-table join; Catalyst broadcasts the small sides
    (nation always; customer under the threshold) and AQE re-plans
    if estimates are off.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(Q4_DATE_START))
        & (F.col("o_orderdate") < F.lit(Q4_DATE_END))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("*").alias("cnt"))
        .orderBy("n_nationkey")
    )


def q5_nation_volume_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly lineitem volume for two nations (sales trend compare).

    Reference: a5/Q5.scala:40-92 — broadcast customer/nation, filter
    to CANADA vs US, month via `substring(0,7)` on the string date.
    Ours: real timestamps → `date_format(yyyy-MM)`, nations pinned
    by name, single aggregate keyed (nation, month).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin(*Q5_NATIONS)
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name"),
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        )
        .agg(F.count("*").alias("cnt"))
        .orderBy("n_name", "ship_month")
    )


def q6_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary report (the flagship multi-aggregate).

    Reference: a5/Q6.scala:45-85 — a single reduceByKey over
    6-tuples with hand-derived averages. Spark-first: one groupBy
    with 8 aggregates; codegen fuses the whole map side, partial
    aggregation replaces the reference's combiner for free.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit(Q6_CUTOFF))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q7_top_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 orders by outstanding revenue: ordered before the date,
    (partially) shipped after it.

    Reference: a5/Q7.scala:42-96 — broadcast customer filter,
    per-orderkey reduceByKey revenue, join back to orders, sortByKey
    desc, take(10). Spark-first: filter → join → grouped aggregate →
    TakeOrderedAndProject (Spark plans the top-k without a full
    sort). Revenue rounded before ordering so the oracle ranks
    identically despite FP summation order.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit(Q7_DATE)
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit(Q7_DATE)
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q8_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical revenue subtotals via ROLLUP — engine surface the
    reference lacks (SURVEY §2.4 "not present": grouping sets /
    rollup): per (returnflag, linestatus), per returnflag, and the
    grand total in ONE aggregation. grouping_id disambiguates subtotal
    rows from genuine NULL keys.

    Plan shape: Expand (3 grouping sets) feeding a single partial+
    final hash aggregate — one shuffle for all three levels, vs three
    separate scans+shuffles for the naive union. At 100 TB the Expand
    triples the map-side rows but they partial-aggregate in place, so
    the shuffle still carries only group keys."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit(Q6_CUTOFF))
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.round(F.sum(disc_price), 2).alias("revenue"),
            F.count("*").alias("cnt"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


def q8b_pricing_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE companion to q8's ROLLUP: all four grouping sets —
    (flag, status), (flag), (status), () — in ONE aggregation,
    completing the grouping-sets family (SURVEY §2.4 "not present").
    Same Expand-into-single-hash-aggregate shape as q8 with 4 sets
    instead of 3; the shuffle still carries only group keys."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit(Q6_CUTOFF))
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.round(F.sum(disc_price), 2).alias("revenue"),
            F.count("*").alias("cnt"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


def q8c_pricing_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the general form of q8/q8b: exactly
    the sets the report needs, here (flag, status) detail plus a
    status-only subtotal, skipping the flag-only and grand-total sets
    a CUBE would also compute. Same Expand-into-one-hash-aggregate
    plan with 2 sets — at 100 TB choosing sets explicitly halves the
    Expand multiplier versus CUBE for this report."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit(Q6_CUTOFF))
        .groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_linestatus"]],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.round(F.sum(disc_price), 2).alias("revenue"),
            F.count("*").alias("cnt"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


Q9_PCTS = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
# Price-bucket width for q9's two-level cumulative: ~64 currency units
# per sub-window keeps each (flag, bucket) partition small (≲ 6.4 k
# distinct 2-dp prices) while the per-flag offset frame stays tiny
# (price domain / width rows — ~1.6 k at TPC-H's ~[900, 105 000)
# domain, independent of row count, so it broadcasts at any scale).
Q9_CUM_BUCKET = 64.0


def q9_percentiles_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The builtin exact ``percentile`` form of q9 — a reference form
    the tests diff the registered histogram plan against bit-for-bit
    (tests/test_relational.py). NOT registered: exact ``percentile``
    buffers every group value inside one aggregation buffer, which
    OOMs at 100× lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = lambda p: F.round(  # noqa: E731 — tiny local alias
        F.percentile("l_extendedprice", F.lit(p)), 6
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            *[pct(p).alias(name) for name, p in Q9_PCTS],
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag")
    )


def q9_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles of l_extendedprice per return
    flag — aggregate surface the reference lacks (SURVEY §2.4 "not
    present": median/percentile) — via the bounded-domain histogram,
    not the builtin ``percentile`` aggregate.

    Why not ``percentile``: its aggregation buffer materializes EVERY
    group value (billions of doubles per buffer at 100× lineitem →
    executor OOM). l_extendedprice is a 2-dp decimal with a ~10⁶-value
    domain, so the same exact answer falls out of a domain-bounded
    plan: ``groupBy(flag, price).count()`` (partial-aggregating — the
    shuffle carries one row per DISTINCT (flag, price), not per
    lineitem row), a cumulative count over the per-flag histogram
    (window state = one running sum; partition size ≤ |price domain|
    regardless of table size), then one conditional-max aggregate
    picks the two bracketing values per percentile and interpolates.

    The cumulative is TWO-LEVEL (guide §2.5): one window per flag
    would put each flag's whole price domain in ONE task — a stage
    profile measured that form's post-histogram part at ~1.4 s of the
    2.0 s total (3 single-task windows over ~583 k rows each with 29
    cores idle; on a cluster the stage can never parallelize past the
    flag count). The running sum therefore runs per
    (flag, price-bucket) — parallel sub-windows Q9_CUM_BUCKET price
    units wide — and each bucket's starting offset comes from a
    per-flag prefix-sum window over the bucket TOTALS (≤ domain/width
    rows, broadcast back onto the histogram). cum/lo/n are sums of
    longs grouped identically either way, so results are
    bit-identical to the single-window form: floor(price/width) is
    monotone in price, so (b asc, price asc within b) IS global price
    order.

    NULLs follow the builtin and the oracle: a NULL flag is a group
    of its own (the offset join is null-safe on both keys), the
    percentiles range over non-NULL prices only (``n`` and the offsets
    skip the NULL-price bucket ``b``), and ``cnt`` counts every row
    (the NULL-price bucket's rows count in ``tot``).

    Interpolation mirrors Spark's own Percentile.getPercentile
    arithmetic exactly — pos = p·(n−1), lower/higher bracketing
    values, (higher−pos)·v_lo + (pos−lower)·v_hi — so results are
    bit-identical to the builtin (pinned in tests) and keep matching
    the DuckDB ``quantile_cont`` oracle at 6 dp. Plan pin: bucketed
    cumulative windows and no ``percentile`` expression
    (tests/test_plans.py::test_q9_histogram_plan_is_domain_bounded)."""
    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count("*").alias("c")
    )
    hist = hist.withColumn(
        "b", F.floor(F.col("l_extendedprice") / F.lit(Q9_CUM_BUCKET))
    )
    btot = hist.groupBy("l_returnflag", "b").agg(F.sum("c").alias("bc"))
    w_boff = (
        Window.partitionBy("l_returnflag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_ball = Window.partitionBy("l_returnflag")
    priced = F.when(F.col("b").isNotNull(), F.col("bc"))
    boff = btot.select(
        F.col("l_returnflag").alias("_flag"),
        F.col("b").alias("_b"),
        F.coalesce(F.sum(priced).over(w_boff), F.lit(0).cast("long")).alias(
            "off"
        ),
        F.sum(priced).over(w_ball).alias("n"),
        F.sum("bc").over(w_ball).alias("tot"),
    )
    w_cum = (
        Window.partitionBy("l_returnflag", "b")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hist = (
        hist.join(
            F.broadcast(boff),
            F.col("l_returnflag").eqNullSafe(F.col("_flag"))
            & F.col("b").eqNullSafe(F.col("_b")),
        )
        .withColumn("cum", F.col("off") + F.sum("c").over(w_cum))
        .withColumn("lo", F.col("cum") - F.col("c"))  # first 0-based rank held
    )

    def bracket(p: float):
        """Conditional-max aggregates picking the values at 0-based
        ranks floor(pos) and ceil(pos); a histogram row holds ranks
        [lo, cum). NULL-price rows (bucket b = NULL, offset 0) overlap
        those ranks, but their NULL value drops out of the max."""
        pos = F.lit(p) * (F.col("n") - F.lit(1)).cast("double")
        k_lo = F.floor(pos)
        k_hi = -F.floor(-pos)  # ceil, kept integral as a long
        v_lo = F.max(
            F.when(
                (F.col("lo") <= k_lo) & (k_lo < F.col("cum")),
                F.col("l_extendedprice"),
            )
        )
        v_hi = F.max(
            F.when(
                (F.col("lo") <= k_hi) & (k_hi < F.col("cum")),
                F.col("l_extendedprice"),
            )
        )
        return v_lo, v_hi

    aggs = [F.max("n").alias("_n"), F.max("tot").alias("cnt")]
    for name, p in Q9_PCTS:
        v_lo, v_hi = bracket(p)
        aggs += [v_lo.alias(f"_lo_{name}"), v_hi.alias(f"_hi_{name}")]
    out = hist.groupBy("l_returnflag").agg(*aggs)

    def interp(name: str, p: float):
        pos = F.lit(p) * (F.col("_n") - F.lit(1)).cast("double")
        k_lo = F.floor(pos)
        k_hi = -F.floor(-pos)
        v_lo, v_hi = F.col(f"_lo_{name}"), F.col(f"_hi_{name}")
        # Spark Percentile.getPercentile association, bit-for-bit:
        exact = F.when(k_lo == k_hi, v_lo).otherwise(
            (k_hi.cast("double") - pos) * v_lo
            + (pos - k_lo.cast("double")) * v_hi
        )
        return F.round(exact, 6).alias(name)

    return out.select(
        "l_returnflag",
        *[interp(name, p) for name, p in Q9_PCTS],
        "cnt",
    ).orderBy("l_returnflag")


PCTL_ACCURACY = 10_000  # relative rank error ≤ 1/accuracy


def q9b_price_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The percentile plan you'd run at 100 TB: ``approx_percentile``'s
    bounded-memory Greenwald-Khanna sketch. Per-group state is
    O(accuracy · log n) regardless of group size and the sketches
    partial-aggregate map-side and merge at the exchange — where the
    exact ``percentile`` in q9 materializes EVERY group value inside a
    single aggregation buffer (billions of doubles per buffer at 100×
    lineitem → executor OOM, not just slowness).

    Registered rows-only by necessity: quantile sketches are not
    bit-reproducible across engines, so there is no hashable DuckDB
    oracle. Correctness story: the 2%-relative-error pin against the
    exact (oracle-green) q9 in tests/test_relational.py::
    test_approx_percentile_tracks_exact, plus the plan pin asserting
    partial+final aggregation in tests/test_plans.py."""
    li = load_table(spark, sf_dir, "lineitem")
    apct = lambda p: F.round(  # noqa: E731 — tiny local alias
        F.approx_percentile(
            "l_extendedprice", F.lit(p), F.lit(PCTL_ACCURACY)
        ),
        6,
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            apct(0.5).alias("p50"),
            apct(0.9).alias("p90"),
            apct(0.99).alias("p99"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag")
    )


def q10_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with NO lineitem shipped at or before Q7_DATE, counted
    per order priority — the LEFT ANTI join (negative membership),
    the one join type the a5 surface never exercises (its cogroup
    plans only keep non-empty matches, J1–J6).

    Plan: the shipdate filter pushes to the lineitem scan, only
    l_orderkey survives projection pruning, and the anti join shuffles
    the two key columns — same cost profile as q2's semi join, sign
    flipped. At 100 TB: identical shuffle discipline to any fact-fact
    key join, AQE-broadcastable when the filtered probe side shrinks
    enough."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") <= F.lit(Q7_DATE))
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
        .orderBy("o_orderpriority")
    )


def balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile BUCKETING without a global sort: every customer gets a
    within-segment account-balance quartile (1–4) — the
    ntile-by-value family done the way it survives 100 TB.

    The naive form, ``ntile(4) OVER (PARTITION BY segment ORDER BY
    bal)``, funnels each segment's entire population through ONE task
    (few huge groups — the heavy_users_topk shape, but unsalvageable
    because ntile needs the full sorted sequence). Here the plan is
    aggregate-then-broadcast-back: one percentile aggregation computes
    the three interpolated quartile boundaries per segment (constant
    state per group at any corpus size once swapped to the q9b
    sketch), the tiny boundary table broadcasts, and the quartile is a
    comparison projection — no sort, no corpus-sized window partition,
    two scans of a columnar-pruned (segment, balance) projection.
    Assignment semantics are by VALUE (bal ≤ p25 → 1, …): ties land in
    the lower quartile on both engines, unlike ntile's positional
    split which balances counts but is order-brittle under ties.
    Boundaries round to 6 dp before comparison so both engines cut at
    identical thresholds."""
    cust = load_table(spark, sf_dir, "customer")
    pct = lambda p: F.round(  # noqa: E731 — tiny local alias
        F.percentile("c_acctbal", F.lit(p)), 6
    )
    bounds = cust.groupBy("c_mktsegment").agg(
        pct(0.25).alias("p25"), pct(0.5).alias("p50"), pct(0.75).alias("p75")
    )
    quart = (
        F.when(F.col("c_acctbal") <= F.col("p25"), 1)
        .when(F.col("c_acctbal") <= F.col("p50"), 2)
        .when(F.col("c_acctbal") <= F.col("p75"), 3)
        .otherwise(4)
    )
    return (
        cust.join(F.broadcast(bounds), "c_mktsegment")
        .select(
            "c_custkey", "c_mktsegment", "c_acctbal", quart.alias("quartile")
        )
        .orderBy("c_custkey")
    )


BUCKETS = 8  # co-location bucket count (cluster: ~2-4× executor count)


def _bucket_names(sf_dir: str) -> tuple[str, str, str]:
    """Stable per-corpus catalog table names + external data path for
    the bucketed fact tables (md5, not builtin hash — see index_path)."""
    import os
    import tempfile

    from ..sources.maintenance import corpus_digest

    digest = corpus_digest(sf_dir, width=12)
    root = os.path.join(tempfile.gettempdir(), f"hs_buckets_{digest}")
    return f"li_bkt_{digest}", f"ord_bkt_{digest}", root


def write_bucketed_facts(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write lineitem and orders as bucketed-by-orderkey external
    tables (one file per bucket via pre-repartition on the bucket
    key, sorted within buckets) — the storage layout that makes every
    subsequent orderkey join co-located."""
    import os

    li_name, ord_name, root = _bucket_names(sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    for name, df, key in (
        (li_name, li, "l_orderkey"),
        (ord_name, orders, "o_orderkey"),
    ):
        (
            df.repartition(BUCKETS, key)
            .write.mode("overwrite")
            .bucketBy(BUCKETS, key)
            .sortBy(key)
            .option("path", os.path.join(root, name))
            .saveAsTable(name)
        )
    return li_name, ord_name


def q4_orders_by_nation_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q4 through BUCKETED storage: the lineitem ⋈ orders fact-fact
    join (J1) with both sides written `bucketBy(BUCKETS, orderkey)`
    + sorted, so the join is co-located — under SortMergeJoin neither
    side shuffles (no Exchange above either scan; pinned in
    tests/test_plans.py with broadcast disabled).

    This is the at-scale answer to the one shuffle q4 cannot
    otherwise avoid: at 100 TB the orderkey exchange of lineitem
    dominates the query, and any workload that joins the same facts
    repeatedly (every TPC-H order/lineitem query) amortizes one
    bucketed write across all of them — the same
    write-once/seek-many trade as the persisted inverted index (K2/
    O5). The write itself re-runs here per invocation (the driver
    contract takes a bare sf_dir), exactly like
    boolean_retrieval_persisted re-builds its index; a real
    deployment writes the buckets once at ingest. Bucket metadata
    lives in the session catalog, so reads go through
    ``spark.table``; results and oracle are identical to q4.

    The bucketed write runs once per (session, fact-table markers)
    via the session memo — "writes the buckets once at ingest" made
    literal: repeat invocations price the co-located join, which is
    the at-scale steady state this query exists to demonstrate.
    """
    from ..sources.maintenance import session_memo, source_marker

    li_name, ord_name = session_memo(
        spark,
        sf_dir,
        "lineitem",
        "buckets_v1|" + source_marker(sf_dir, "orders", "v1"),
        lambda: write_bucketed_facts(spark, sf_dir),
    )
    li = spark.table(li_name)
    orders = spark.table(ord_name).where(
        (F.col("o_orderdate") >= F.lit(Q4_DATE_START))
        & (F.col("o_orderdate") < F.lit(Q4_DATE_END))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("*").alias("cnt"))
        .orderBy("n_nationkey")
    )


ORACLE_SQL: dict[str, str] = {
    "q1_shipdate_count": f"""
        SELECT count(*) AS cnt
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{Q1_MONTH_START}'
          AND l_shipdate <  TIMESTAMP '{Q1_MONTH_END}'
    """,
    "q2_orders_for_shipped_lineitems": f"""
        SELECT o_orderpriority, o_orderkey
        FROM orders
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{Q2_MONTH_START}'
              AND l_shipdate <  TIMESTAMP '{Q2_MONTH_END}'
        )
        ORDER BY o_orderkey
        LIMIT {TOPK}
    """,
    "q3_part_supplier_lookup": f"""
        SELECT l_orderkey, l_linenumber, p_name, s_name
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE l_orderkey < {Q3_MAX_ORDERKEY}
    """,
    "q4_orders_by_nation": f"""
        SELECT n_nationkey, n_name, count(*) AS cnt
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '{Q4_DATE_START}'
          AND o_orderdate <  TIMESTAMP '{Q4_DATE_END}'
        GROUP BY n_nationkey, n_name
        ORDER BY n_nationkey
    """,
    "q5_nation_volume_by_month": f"""
        SELECT n_name, strftime(l_shipdate, '%Y-%m') AS ship_month,
               count(*) AS cnt
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE n_name IN ('{Q5_NATIONS[0]}', '{Q5_NATIONS[1]}')
        GROUP BY n_name, ship_month
        ORDER BY n_name, ship_month
    """,
    "q6_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                          AS sum_qty,
               round(sum(l_extendedprice), 2)                     AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)  AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                                                                  AS sum_charge,
               round(avg(l_quantity), 4)                          AS avg_qty,
               round(avg(l_extendedprice), 4)                     AS avg_price,
               round(avg(l_discount), 4)                          AS avg_disc,
               count(*)                                           AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '{Q6_CUTOFF}'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q7_top_unshipped_revenue": f"""
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > TIMESTAMP '{Q7_DATE}'
          AND o_orderdate < TIMESTAMP '{Q7_DATE}'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
}

ORACLE_SQL["q8_pricing_rollup"] = f"""
    SELECT GROUPING(l_returnflag, l_linestatus)::INT AS gid,
           l_returnflag, l_linestatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q6_CUTOFF}'
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag, l_linestatus
"""

ORACLE_SQL["q8b_pricing_cube"] = f"""
    SELECT GROUPING(l_returnflag, l_linestatus)::INT AS gid,
           l_returnflag, l_linestatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q6_CUTOFF}'
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag, l_linestatus
"""

ORACLE_SQL["q8c_pricing_grouping_sets"] = f"""
    SELECT GROUPING(l_returnflag, l_linestatus)::INT AS gid,
           l_returnflag, l_linestatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q6_CUTOFF}'
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
    ORDER BY gid, l_returnflag, l_linestatus
"""

ORACLE_SQL["q10_unshipped_orders"] = f"""
    SELECT o_orderpriority, count(*)::BIGINT AS cnt
    FROM orders o
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate <= TIMESTAMP '{Q7_DATE}'
    )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

ORACLE_SQL["balance_quartiles"] = """
    WITH b AS (
        SELECT c_mktsegment,
               round(quantile_cont(c_acctbal, 0.25), 6) AS p25,
               round(quantile_cont(c_acctbal, 0.5), 6) AS p50,
               round(quantile_cont(c_acctbal, 0.75), 6) AS p75
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c_custkey, c.c_mktsegment, c_acctbal,
           CASE WHEN c_acctbal <= p25 THEN 1
                WHEN c_acctbal <= p50 THEN 2
                WHEN c_acctbal <= p75 THEN 3
                ELSE 4 END AS quartile
    FROM customer c JOIN b USING (c_mktsegment)
    ORDER BY c_custkey
"""

ORACLE_SQL["q9_price_percentiles"] = """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
           count(*) AS cnt
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""

QUERIES = {
    "q1_shipdate_count": q1_shipdate_count,
    "q2_orders_for_shipped_lineitems": q2_orders_for_shipped_lineitems,
    "q3_part_supplier_lookup": q3_part_supplier_lookup,
    "q4_orders_by_nation": q4_orders_by_nation,
    "q5_nation_volume_by_month": q5_nation_volume_by_month,
    "q6_pricing_summary": q6_pricing_summary,
    "q7_top_unshipped_revenue": q7_top_unshipped_revenue,
    "q8_pricing_rollup": q8_pricing_rollup,
    "q9_price_percentiles": q9_price_percentiles,
    "q9b_price_percentiles_approx": q9b_price_percentiles_approx,
    "balance_quartiles": balance_quartiles,
    "q8b_pricing_cube": q8b_pricing_cube,
    "q8c_pricing_grouping_sets": q8c_pricing_grouping_sets,
    "q10_unshipped_orders": q10_unshipped_orders,
    "q4_bucketed": q4_orders_by_nation_bucketed,
}

ORACLE_SQL["q4_bucketed"] = ORACLE_SQL["q4_orders_by_nation"]
