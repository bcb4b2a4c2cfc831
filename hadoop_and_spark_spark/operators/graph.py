"""Multi-source personalized PageRank (reference a4).

Reference shape: a 608-line MapReduce job pair
(RunPersonalizedPageRankBasic.java) cycling `PageRankNode` records —
a tagged union multiplexing structure + mass messages through one
shuffle — with log-space mass arithmetic, side-file dangling-mass
accounting, and a NonSplitable input format to preserve partitioning
across iterations.

Spark-first re-expression:
- Graph = DataFrame (nid INT, adj ARRAY<INT>); rank state =
  ARRAY<DOUBLE>, one slot per source (the reference's
  ArrayListOfFloatsWritable, a4/PageRankNode.java:53-56). The
  Complete/Mass/Structure tag disappears: structure stays in the
  cached graph DataFrame and never re-shuffles.
- Scatter (G3) = explode(adj) + transform(ranks, r -> r/outdeg).
- Gather (G4) = one grouped aggregate summing contrib[j] per source
  over the edge rows — pure partial aggregation, no collect_list and
  no per-source row blowup, so high in-degree nodes can't blow a
  task.
- Dangling + jump mass (G5/G6): missing_i = 1 − Σ gathered_i as a
  broadcast 1-row aggregate in the data plane (the reference's
  side-file channel, K6, without the driver round-trip);
  personalized redistribution sends ALL of it to source i:
  rank_i(src) = α + (1−α)(gathered_i(src) + missing_i).
- Normal-space doubles, not log-space — the reference's log-space
  arithmetic produced NaNs per its own marks feedback
  (assignment4_marks.md).

Scale notes: the graph is repartitioned once on nid and cached
(reference G2/PartitionGraph); both the per-iteration groupBy(dst)
and the structure join hash-partition on the same key so the cached
side never re-shuffles. the per-iteration gather is
eagerly localCheckpoint'ed, which both shares it between the mass
audit and the rank join and keeps lineage depth constant (the
reference got this for free by materializing to HDFS every job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..sources.maintenance import artifact_checkpoint

ALPHA = 0.15  # jump factor, a4/RunPersonalizedPageRankBasic.java:364
PR_SOURCES = (0, 1)
PR_ITERATIONS = 10
PR_NUM_NODES = 100  # driver-entry graph derived from lineitem keys
TOP_NODES_K = 10  # nodes per source in pagerank_top_nodes


def parse_adjacency(lines: DataFrame) -> DataFrame:
    """Parse the reference's text graph format `nodeid n1 n2 ...`
    (a4/BuildPersonalizedPageRankRecords.java:86-102) into
    (nid INT, adj ARRAY<INT>). Nodes with no out-edges are bare
    `nodeid` lines → empty adj. SURVEY row G1: the registered queries
    build their graph from lineitem keys; tests pin the parser."""
    toks = F.split(F.trim(F.col("value")), r"\s+")
    return lines.where(F.trim("value") != "").select(
        F.element_at(toks, 1).cast("int").alias("nid"),
        F.expr(
            "transform(slice(split(trim(value), '\\\\s+'), 2, 1000000), x -> cast(x as int))"
        ).alias("adj"),
    )


def personalized_pagerank(
    graph: DataFrame,
    sources: tuple[int, ...] = PR_SOURCES,
    alpha: float = ALPHA,
    iterations: int = PR_ITERATIONS,
    partitions: int | None = None,
    gather_partitions: int | None = None,
    graph_obs: Observation | None = None,
    mass_obs: Observation | None = None,
) -> DataFrame:
    """Run multi-source personalized PageRank; returns
    (nid, ranks ARRAY<DOUBLE>) with one probability per source.

    Mass lost to dangling nodes or edges pointing at nonexistent
    nodes (the reference allows both, see
    RunPersonalizedPageRankBasic.java:269-277) is swept back to the
    corresponding source each iteration, so Σ_v rank_i(v) == 1.

    Observable metrics (A14 — the reference's accumulator channel,
    RunPersonalizedPageRankBasic.java:80-82,129, without any driver
    round-trip: ``df.observe`` aggregates ride the existing jobs):

    - ``graph_obs``: ``n_nodes`` / ``n_edges`` over the cached graph,
      filled by the first iteration's job.
    - ``mass_obs``: ``n_nodes`` plus ``mass_0..mass_{k-1}`` — the
      total rank mass per source on the RESULT frame, filled by
      whatever action the caller runs. Conservation says each is 1.0.
    """
    spark = graph.sparkSession
    k = len(sources)
    if partitions:
        graph = graph.repartition(partitions, "nid")
    graph = graph.select("nid", "adj")
    if graph_obs is not None:
        graph = graph.observe(
            graph_obs,
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(F.sum(F.size("adj")), F.lit(0)).alias("n_edges"),
        )
    graph = graph.cache()

    nodes = graph.select(
        "nid",
        "adj",
        F.array(
            *[
                F.when(F.col("nid") == s, F.lit(1.0)).otherwise(0.0)
                for s in sources
            ]
        ).alias("ranks"),
    )

    for it in range(iterations):
        outdeg = F.size("adj")
        # One row per edge carrying the whole per-source contrib
        # array; the gather sums element j directly (k sums with
        # map-side partial aggregation) — no posexplode k× row blowup
        # before the shuffle.
        flat = nodes.where(outdeg > 0).select(
            F.explode("adj").alias("dst"),
            F.transform("ranks", lambda r: r / outdeg).alias("contrib"),
        )
        # Materialize the gather ONCE per iteration: the mass audit
        # and the rank join both read it, and the eager
        # localCheckpoint keeps lineage depth constant across
        # iterations (nodes ← graph(cached) + gathered(checkpointed)),
        # so no step ever recomputes prior iterations.
        gathered = flat.groupBy("dst").agg(
            *[
                F.sum(F.element_at("contrib", j + 1)).alias(f"g{j}")
                for j in range(k)
            ]
        )
        if gather_partitions:
            # Small graphs: merge the post-shuffle partitions (narrow
            # dependency) so each iteration's checkpoint job runs a
            # handful of tasks instead of spark.sql.shuffle.partitions
            # of them — pure scheduling overhead at toy scale. Leave
            # unset at real scale.
            gathered = gathered.coalesce(gather_partitions)
        gathered = gathered.localCheckpoint(eager=True)
        # Mass audit in the data plane (the reference used driver
        # side-files, K6/G5; an earlier draft used a per-iteration
        # collect() — a blocking driver round-trip per iteration): the
        # 1-row total-mass aggregate over mass that landed on real
        # nodes is broadcast-cross-joined into the rank update, so
        # each iteration schedules exactly ONE job (the eager
        # checkpoint) and the audit never leaves the executors.
        landed = gathered.join(graph, gathered.dst == graph.nid, "left_semi")
        totals = landed.agg(
            *[
                F.coalesce(F.sum(f"g{j}"), F.lit(0.0)).alias(f"t{j}")
                for j in range(k)
            ]
        )
        joined = graph.join(gathered, graph.nid == gathered.dst, "left").crossJoin(
            F.broadcast(totals)
        )
        nodes = joined.select(
            "nid",
            "adj",
            F.array(
                *[
                    (
                        (1.0 - alpha) * F.coalesce(F.col(f"g{j}"), F.lit(0.0))
                        + F.when(
                            F.col("nid") == sources[j],
                            alpha + (1.0 - alpha) * (1.0 - F.col(f"t{j}")),
                        ).otherwise(0.0)
                    )
                    for j in range(k)
                ]
            ).alias("ranks"),
        )

    out = nodes.select("nid", "ranks")
    if mass_obs is not None:
        out = out.observe(
            mass_obs,
            F.count(F.lit(1)).alias("n_nodes"),
            *[
                F.sum(F.element_at("ranks", j + 1)).alias(f"mass_{j}")
                for j in range(k)
            ],
        )
    return out


def top_nodes_per_source(ranks: DataFrame, k: int) -> DataFrame:
    """Top-k nodes per source (reference G8/O4: bounded priority
    queues in mapper cleanup + single reducer → one window).

    The window orders by the bit-portable round6 of the rank (ties
    broken by nid). Ordering by the raw double would be fragile at the
    k/k+1 boundary: structurally symmetric nodes carry mathematically
    equal ranks that differ by summation-order ulps, so two engines
    could disagree on WHICH of the tied nodes crosses the cutoff.
    Rounding first makes the tie explicit and the nid break decide it
    identically everywhere; the presented rank is the same rounded
    value, so the output stays self-consistent."""
    from pyspark.sql import Window

    from ..functions.portable import round6

    flat = ranks.select(
        "nid", F.posexplode("ranks").alias("source_idx", "raw_rank")
    ).select("nid", "source_idx", round6(F.col("raw_rank")).alias("rank"))
    w = Window.partitionBy("source_idx").orderBy(
        F.desc("rank"), F.asc("nid")
    )
    return (
        flat.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("source_idx", "nid", "rank")
        .orderBy("source_idx", "rn")
    )


def lineitem_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic graph derived from testdata: edge
    (l_orderkey % N) → (l_partkey % N), distinct; all N nodes exist
    (isolated ones get empty adjacency)."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            (F.col("l_orderkey") % PR_NUM_NODES).cast("int").alias("src"),
            (F.col("l_partkey") % PR_NUM_NODES).cast("int").alias("dst"),
        )
        .distinct()
    )
    adj = edges.groupBy("src").agg(F.array_sort(F.collect_set("dst")).alias("adj"))
    nodes = spark.range(PR_NUM_NODES).select(F.col("id").cast("int").alias("nid"))
    return nodes.join(adj, nodes.nid == adj.src, "left").select(
        "nid", F.coalesce("adj", F.array().cast("array<int>")).alias("adj")
    )


# Always empty: the converged ranks live in maintenance.session_memo.
# The name stays bound only because the frozen benchmark tracer
# (perfbench/layers.py) reads it; it is its only reader.
_RANKS_CACHE: dict = {}


def converged_lineitem_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged testdata-graph ranks, computed ONCE per
    (session, corpus) and shared by both registered queries — the
    reference's own phase handoff: RunPersonalizedPageRankBasic
    materializes converged ranks to HDFS and
    ExtractTopPersonalizedPageRankNodes.java:59-153 reads that stored
    output instead of re-iterating. Here the handoff is an eagerly
    localCheckpoint'ed PR_NUM_NODES-row frame in the session memo,
    keyed on (applicationId, lineitem source_marker): a stopped
    session or an in-place lineitem rewrite starts a new entry, and
    the rewrite evicts the stale ranks' checkpoint blocks.

    partitions=4 aligns the cached graph with gather_partitions so
    each per-iteration job schedules a handful of tasks, not
    spark.sql.shuffle.partitions of them (toy graph; at real scale
    both parameters grow with the cluster)."""
    from ..sources.maintenance import session_memo

    return session_memo(
        spark,
        sf_dir,
        "lineitem",
        "ppr_v1",
        lambda: personalized_pagerank(
            lineitem_graph(spark, sf_dir), partitions=4, gather_partitions=4
        ).localCheckpoint(eager=True),
    )


def personalized_pagerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry. Oracle-gated: the fixed iteration count
    (PR_ITERATIONS) makes the "iterative" computation SQL-expressible
    after all — the oracle unrolls the 10 scatter/
    gather/sweep steps as a chained-CTE pipeline (_ppr_iteration_ctes)
    mirroring this operator's float arithmetic term by term, and the
    presented ranks go through the bit-portable round6 so last-ulp
    summation-order differences between engines cannot surface. The
    toy-graph golden test (tests/test_graph.py::test_ppr_matches_numpy)
    stays as the iteration-count-independent witness."""
    from ..functions.portable import round6

    ranks = converged_lineitem_ranks(spark, sf_dir)
    out = ranks.select(
        "nid",
        *[
            round6(F.element_at("ranks", j + 1)).alias(f"rank_s{s}")
            for j, s in enumerate(PR_SOURCES)
        ],
    ).orderBy("nid")
    return out


def pagerank_top_nodes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8/O4 as a driver surface: the reference's extraction program
    (a4/ExtractTopPersonalizedPageRankNodes.java:59-153) run against
    the same testdata graph — top-10 nodes per source from the SAME
    converged ranks personalized_pagerank computed (shared via
    converged_lineitem_ranks, so this costs only the window, exactly
    like the reference's extractor reading the stored phase-1
    output). Oracle-gated through the same unrolled
    iteration CTEs as personalized_pagerank, topped by the identical
    row_number window (rank DESC, nid ASC)."""
    ranks = converged_lineitem_ranks(spark, sf_dir)
    return top_nodes_per_source(ranks, k=TOP_NODES_K)


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient over the
    testdata graph — the one graph-analytics query with an exact SQL
    oracle (PageRank is iterative/golden; this is pure set algebra).

    Algorithm: degree-ordered orientation (node-iterator++). Each
    undirected edge orients from its lower-(degree, id) endpoint to
    the higher; wedges are generated only between a node's ORIENTED
    out-neighbors, and a wedge (v, w) closes iff the oriented edge
    (v, w) exists. Every triangle is counted exactly once, and — the
    100 TB point — out-degrees under this orientation are bounded by
    O(√m), so no celebrity node ever generates a quadratic wedge set:
    the naive shared-neighbor join explodes on hubs; this one provably
    cannot. Plan: 3 equi-joins on node ids + one distinct — all
    shuffle-partitioned, AQE splits residual skew. n_wedges comes from
    the degree table (Σ d(d−1)/2, exact ints), never materialized.

    Reference parity: no triangle program exists in the reference; the
    graph build shares lineitem_graph with PageRank (SURVEY §2.10
    extension)."""
    g = lineitem_graph(spark, sf_dir)
    e = g.select(F.col("nid").alias("x"), F.explode("adj").alias("y"))
    # Materialized once: und feeds the degree table, the orientation
    # join, and the edge count — without this the lineitem
    # scan+distinct re-runs for every consumer (at scale: cache/persist
    # of the canonical edge list, the PartitionGraph step).
    und = (
        e.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(artifact_checkpoint)
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    ranked = und.join(da, "a").join(db, "b")
    a_first = F.struct("deg_a", "a") < F.struct("deg_b", "b")
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_v"),
    ).transform(artifact_checkpoint)  # read by both wedge sides + the close probe
    o1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("deg_v").alias("d1")
    )
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("deg_v").alias("d2")
    )
    wedges = o1.join(o2, "u").where(
        F.struct("d1", "v1") < F.struct("d2", "v2")
    )
    tri = (
        wedges.join(
            oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
            ["v1", "v2"],
            "left_semi",
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    counts = und.agg(F.count("*").alias("n_edges")).crossJoin(
        deg.agg(
            F.count("*").alias("n_nodes"),
            (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
            .cast("long")
            .alias("n_wedges"),
        )
    )
    from ..functions.portable import round6

    return counts.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            round6(3.0 * F.col("n_triangles") / F.col("n_wedges")),
        )
        .otherwise(F.lit(0.0))
        .alias("gcc"),
    )


def _ppr_iteration_ctes() -> str:
    """Unrolled PPR oracle: PR_ITERATIONS chained CTEs reproducing
    personalized_pagerank's arithmetic TERM BY TERM on the same
    lineitem-derived graph.

    Why this is exact enough to hash-match: every float literal is the
    repr() of the Python double the Spark plan embeds (alpha and the
    Python-precomputed 1.0 - alpha), every op is the same IEEE-754
    double op in the same expression order, and the only
    order-sensitive steps — the per-dst contribution SUM and the
    global landed-mass SUM — feed the bit-portable round6 at the
    presentation layer, which absorbs last-ulp summation-order noise.
    The dangling/nonexistent-node sweep degenerates here: every dst is
    `l_partkey % N` so all mass lands on real nodes, and the landed
    semi-join is the identity (mirrored by summing gathered directly).
    """
    a = repr(ALPHA)
    c = repr(1.0 - ALPHA)  # Spark embeds the Python-computed literal
    ks = range(len(PR_SOURCES))
    init = ",\n            ".join(
        f"CASE WHEN nid = {s} THEN 1.0 ELSE 0.0 END AS r{j}"
        for j, s in enumerate(PR_SOURCES)
    )
    ctes = [
        f"""nodes AS (SELECT CAST(range AS INT) AS nid FROM range({PR_NUM_NODES})),
        edges AS (
            SELECT DISTINCT (l_orderkey % {PR_NUM_NODES})::INT AS src,
                            (l_partkey % {PR_NUM_NODES})::INT AS dst
            FROM lineitem
        ),
        deg AS (SELECT src, COUNT(*)::INT AS outdeg FROM edges GROUP BY src),
        it0 AS (SELECT nid, {init} FROM nodes)"""
    ]
    for i in range(1, PR_ITERATIONS + 1):
        prev = f"it{i - 1}"
        gsum = ", ".join(
            f"SUM(r.r{j} / d.outdeg) AS g{j}" for j in ks
        )
        tsum = ", ".join(
            f"COALESCE(SUM(g{j}), 0.0) AS t{j}" for j in ks
        )
        upd = ",\n                ".join(
            f"{c} * COALESCE(g.g{j}, 0.0)"
            f" + CASE WHEN n.nid = {s}"
            f" THEN {a} + {c} * (1.0 - t.t{j}) ELSE 0.0 END AS r{j}"
            for j, s in enumerate(PR_SOURCES)
        )
        # MATERIALIZED is load-bearing: g{i} is referenced twice (by
        # t{i} and it{i}); DuckDB would otherwise inline both uses,
        # doubling the expanded plan per iteration — 2^10 copies of the
        # edge scan by the last step.
        ctes.append(
            f"""g{i} AS MATERIALIZED (
            SELECT e.dst, {gsum}
            FROM edges e
            JOIN {prev} r ON r.nid = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
        ),
        t{i} AS (SELECT {tsum} FROM g{i}),
        it{i} AS MATERIALIZED (
            SELECT n.nid,
                {upd}
            FROM nodes n
            LEFT JOIN g{i} g ON g.dst = n.nid
            CROSS JOIN t{i} t
        )"""
        )
    return "WITH " + ",\n        ".join(ctes)


def _ppr_ranks_oracle() -> str:
    from ..functions.portable import round6_sql

    cols = ", ".join(
        f"{round6_sql(f'r{j}')} AS rank_s{s}"
        for j, s in enumerate(PR_SOURCES)
    )
    return (
        f"{_ppr_iteration_ctes()}\n"
        f"        SELECT nid, {cols} FROM it{PR_ITERATIONS} ORDER BY nid"
    )


def _ppr_top_nodes_oracle() -> str:
    from ..functions.portable import round6_sql

    arms = " UNION ALL ".join(
        f"SELECT {j}::INT AS source_idx, nid, r{j} AS rank FROM it{PR_ITERATIONS}"
        for j in range(len(PR_SOURCES))
    )
    return f"""{_ppr_iteration_ctes()},
        flat AS ({arms}),
        rounded AS (
            SELECT source_idx, nid, {round6_sql('rank')} AS rank FROM flat
        ),
        ranked AS (
            SELECT source_idx, nid, rank,
                   ROW_NUMBER() OVER (
                       PARTITION BY source_idx
                       ORDER BY rank DESC, nid ASC
                   ) AS rn
            FROM rounded
        )
        SELECT source_idx, nid, rank
        FROM ranked WHERE rn <= {TOP_NODES_K}
        ORDER BY source_idx, rn"""


ORACLE_SQL: dict[str, str] = {
    # PPR is iterative but the iteration COUNT is fixed, so the oracle
    # unrolls it: chained CTEs, one scatter/gather/sweep per step.
    "personalized_pagerank": _ppr_ranks_oracle(),
    "pagerank_top_nodes": _ppr_top_nodes_oracle(),
    "graph_triangles": f"""
        WITH e AS (
            SELECT DISTINCT (l_orderkey % {PR_NUM_NODES})::INT AS x,
                            (l_partkey % {PR_NUM_NODES})::INT AS y
            FROM lineitem
        ),
        und AS (
            SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
            FROM e WHERE x <> y
        ),
        deg AS (
            SELECT v, count(*)::BIGINT AS deg FROM (
                SELECT a AS v FROM und UNION ALL SELECT b FROM und
            ) GROUP BY v
        ),
        oriented AS (
            SELECT CASE WHEN (da.deg, a) < (db.deg, b) THEN a ELSE b END AS u,
                   CASE WHEN (da.deg, a) < (db.deg, b) THEN b ELSE a END AS v,
                   CASE WHEN (da.deg, a) < (db.deg, b) THEN db.deg
                        ELSE da.deg END AS deg_v
            FROM und
            JOIN deg da ON da.v = und.a
            JOIN deg db ON db.v = und.b
        ),
        tri AS (
            SELECT count(*)::BIGINT AS n_triangles
            FROM oriented o1
            JOIN oriented o2 ON o1.u = o2.u
                            AND (o1.deg_v, o1.v) < (o2.deg_v, o2.v)
            WHERE EXISTS (
                SELECT 1 FROM oriented o3
                WHERE o3.u = o1.v AND o3.v = o2.v
            )
        )
        SELECT (SELECT count(*)::BIGINT FROM deg) AS n_nodes,
               (SELECT count(*)::BIGINT FROM und) AS n_edges,
               (SELECT (sum(deg * (deg - 1)) / 2)::BIGINT FROM deg) AS n_wedges,
               n_triangles,
               CASE WHEN (SELECT sum(deg * (deg - 1)) FROM deg) > 0
                    THEN (floor(3.0 * n_triangles
                                / ((SELECT sum(deg * (deg - 1)) FROM deg) / 2)
                                * 1000000 + 0.5) / 1000000)
                    ELSE 0.0 END AS gcc
        FROM tri
    """,
}

QUERIES = {
    "personalized_pagerank": personalized_pagerank_query,
    "pagerank_top_nodes": pagerank_top_nodes_query,
    "graph_triangles": graph_triangles,
}
