"""Physical-plan shape regression tests.

Correctness is the oracle's job; these tests pin the SCALE
properties — the plan shapes that decide whether a query survives a
100× data blowup:

- filters reach the parquet scan (PushedFilters ⇒ row-group pruning),
- scans read only referenced columns (ReadSchema ⇒ column pruning),
- dimension joins broadcast (no shuffle of the fact side),
- semi-joins stay semi (no fact payload through the exchange),
- aggregations are partial+final (map-side combine),
- top-k plans as TakeOrderedAndProject (no global sort).

A refactor that silently turns a broadcast join into a shuffle join
or de-pushes a filter passes every value test and then falls over on
a cluster; this file is where that regression surfaces.
"""

from __future__ import annotations

import contextlib
import io

from hadoop_and_spark_spark.operators import relational as R
from hadoop_and_spark_spark.operators import text as T


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q1_filter_pushed_and_columns_pruned(spark, sf_dir):
    p = plan(R.q1_shipdate_count(spark, sf_dir))
    assert "PushedFilters" in p
    assert "l_shipdate" in p.split("PushedFilters")[1].split("]")[0]
    # the count only needs the filter column — the scan must not read
    # the wide lineitem payload
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_comment" not in read_schema


def test_q2_semi_join_no_fact_payload(spark, sf_dir):
    p = plan(R.q2_orders_for_shipped_lineitems(spark, sf_dir))
    assert "LeftSemi" in p
    # lineitem side must read only the join key + filter column
    li_blocks = [b for b in p.split("Scan parquet") if "lineitem.parquet" in b]
    assert li_blocks
    schema = li_blocks[0].split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in schema and "l_shipdate" in schema
    assert "l_extendedprice" not in schema


def test_q3_broadcasts_both_dims(spark, sf_dir):
    p = plan(R.q3_part_supplier_lookup(spark, sf_dir))
    # formatted mode lists each node in the tree AND a detail section
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    # the orderkey filter reaches the lineitem scan
    assert "PushedFilters" in p


def test_q4_nation_broadcast_and_partial_agg(spark, sf_dir):
    p = plan(R.q4_orders_by_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    # partial (map-side) + final aggregation
    assert p.count("HashAggregate") >= 2


def test_q6_single_pass_partial_agg(spark, sf_dir):
    p = plan(R.q6_pricing_summary(spark, sf_dir), "simple")
    # map-side combine: partial aggregation below the exchange, final
    # above — the declarative replacement for the reference's
    # hand-written combiners (a0/WordCount.java:178)
    assert p.count("HashAggregate") == 2
    assert "partial_sum" in p
    pf = plan(R.q6_pricing_summary(spark, sf_dir))
    assert "PushedFilters" in pf and "l_shipdate" in pf


def test_q7_topk_avoids_global_sort(spark, sf_dir):
    p = plan(R.q7_top_unshipped_revenue(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_bigram_single_shuffle_before_window(spark, sf_dir):
    """Array-side bigram formation must not shuffle the token stream:
    exactly one exchange for the (a,b) count and one for the window
    marginal — never an exchange of exploded per-token rows. The
    fan_out round-robin of raw (doc_id, text) rows is exempt: it
    shuffles pre-explode scan rows, not the token stream, and only
    exists for under-split local scans."""
    p = plan(T.bigram_relative_frequency(spark, sf_dir), "simple")
    assert p.count("Exchange") - p.count("RoundRobinPartitioning") <= 3


def test_fan_out_widens_only_narrow_plans(spark):
    """fan_out repartitions a 1-split scan to one task per core and
    leaves already-parallel plans untouched (the no-op contract that
    makes it safe to call unconditionally in operators: on a real
    multi-split scan no shuffle is inserted)."""
    from hadoop_and_spark_spark.session import fan_out

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    assert fan_out(narrow).rdd.getNumPartitions() == target

    wide = spark.range(1000, numPartitions=target)
    assert fan_out(wide) is wide  # identity, no plan change at all


def test_q8_rollup_one_expand_one_aggregate_pass(spark, sf_dir):
    """ROLLUP must plan as one Expand feeding a single partial+final
    aggregate pair — one shuffle for all three grouping levels, never
    a union of three scans."""
    p = plan(R.q8_pricing_rollup(spark, sf_dir), "simple")
    assert p.count("Expand") == 1
    assert p.count("Scan parquet") == 1
    assert p.count("HashAggregate") == 2  # partial + final


def test_tfidf_serves_from_the_persisted_index(spark, sf_dir):
    """Since r12 tfidf_retrieval is an index SEEK, not a corpus scan:
    the term predicate must push into the hash(term)-partitioned
    postings parquet, N must come from the index's one-row stats
    parquet (no documents scan, no footer count, no tokenize), and
    nothing may shuffle-join — the only exchange is the per-doc score
    aggregation."""
    from hadoop_and_spark_spark.operators import index as IX

    p = plan(IX.tfidf_retrieval(spark, sf_dir))
    assert "documents" not in p  # corpus text never touched at query time
    assert "In(term" in p  # term filter pushed to the postings scan
    assert "SortMergeJoin" not in p


def test_tfidf_topk_bounds_the_rank_window(spark, sf_dir):
    """The top-k must plan as TakeOrderedAndProject (per-partition
    heaps) and the rank window must sit ABOVE it — i.e. over at most
    TFIDF_K rows, never over the full scored set. The r3 plan ranked
    via a global unpartitioned window first, funneling every scored
    doc through one task."""
    from hadoop_and_spark_spark.operators import index as IX

    p = plan(IX.tfidf_retrieval(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    # in the formatted tree, the Window node's direct child must be
    # the TakeOrderedAndProject (rank over the limited rows)
    lines = [l for l in p.splitlines() if l.strip()]
    for i, line in enumerate(lines):
        if "Window (" in line:
            assert "TakeOrderedAndProject" in lines[i + 1]
            break
    else:  # pragma: no cover
        raise AssertionError("no Window node found in tfidf plan")


def test_q9b_sketch_partial_aggregates_map_side(spark, sf_dir):
    """The registered 100 TB percentile plan must partial-aggregate
    its quantile sketches map-side (partial + final ObjectHashAggregate
    around one exchange) — bounded per-group state, unlike exact
    percentile's all-values-in-one-buffer plan — and the scan must
    prune to the two referenced columns."""
    p = plan(R.q9b_price_percentiles_approx(spark, sf_dir), "simple")
    assert p.count("ObjectHashAggregate") == 2
    assert "partial_approx_percentile" in p
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_comment" not in read_schema


def test_q9_histogram_plan_is_domain_bounded(spark, sf_dir):
    """The registered EXACT percentile plan must carry no unbounded
    aggregation buffer: no ``percentile`` expression anywhere, the
    first aggregate keyed by (flag, price) — per-group state is one
    count, cardinality capped by the 2-dp price domain — partial
    map-side, and the windows partitioned (by flag over the DISTINCT
    price histogram, never the raw table)."""
    p = plan(R.q9_price_percentiles(spark, sf_dir), "simple")
    assert "percentile" not in p.lower()
    assert "partial_count" in p  # histogram partial-aggregates map-side
    assert "l_returnflag" in p and "l_extendedprice" in p
    # the heavy cumulative window must be TWO-LEVEL (round 13): keyed
    # on (flag, bucket) so it parallelizes past the flag count — a
    # window over l_extendedprice whose partition spec is the flag
    # alone would put each flag's whole price domain in one task.
    assert "Window" in p
    for spec in p.split("windowspecdefinition(")[1:]:
        keys = spec.split(" ASC")[0]
        if "l_extendedprice" in spec.split("specifiedwindowframe")[0]:
            assert ("l_returnflag" not in keys) or ("b#" in keys), spec
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_comment" not in read_schema


def test_embedding_quantize_no_shuffle_no_python(spark, sf_dir):
    """Quantization must be a pure codegen projection: no Exchange
    other than the fan_out repartition of the scan, no Python stage,
    only the embedding column read."""
    from hadoop_and_spark_spark.operators import similarity as S

    p = plan(S.embedding_quantize(spark, sf_dir), "simple")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "Generate" in p  # JVM-side posexplode
    body = p.split("ReadSchema")[0]
    # the only exchanges allowed: fan_out round-robin + the final sort
    assert body.count("Exchange hashpartitioning") == 0


def test_doc_token_ids_vocab_broadcasts_and_topv_is_takeordered(spark, sf_dir):
    """The encode join must broadcast the vocabulary (corpus never
    shuffles for encoding) and the top-V cut must plan as
    TakeOrderedAndProject, not a global sort."""
    from hadoop_and_spark_spark.operators import textstats as TS

    p = plan(TS.doc_token_ids(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p and "LeftOuter" in p


def test_corpus_split_no_shuffle_before_sort(spark, sf_dir):
    """The split assignment is a pure projection: the only exchanges
    allowed are fan_out's round-robin of scan rows and the output
    orderBy's range partitioning."""
    from hadoop_and_spark_spark.operators import textstats as TS

    p = plan(TS.corpus_split(spark, sf_dir), "simple")
    n_exchange = p.count("Exchange")
    n_allowed = p.count("RoundRobinPartitioning") + p.count("rangepartitioning")
    assert n_exchange <= n_allowed


def test_q4_bucketed_join_is_colocated(spark, sf_dir):
    """The bucketed fact-fact join must be co-located: both scans read
    bucketed tables and NO Exchange re-partitions either side on the
    orderkey (broadcast disabled so small-scale auto-broadcast cannot
    mask a missing co-location)."""
    from hadoop_and_spark_spark.catalog import _scoped_conf

    with _scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        p = plan(R.q4_orders_by_nation_bucketed(spark, sf_dir))
    assert p.count("Bucketed: true") == 2
    assert "SortMergeJoin" in p
    assert "hashpartitioning(l_orderkey" not in p
    assert "hashpartitioning(o_orderkey" not in p


def test_bm25_and_hybrid_rank_windows_are_bounded(spark, sf_dir):
    """Every retrieval ranker must plan its top-k as
    TakeOrderedAndProject with the rank window sitting above it (rank
    over ≤ pool rows, never the full scored set) — the tfidf shape,
    inherited by BM25 and both fusion sides of hybrid."""
    from hadoop_and_spark_spark.operators import index as IX

    for fn in (IX.bm25_retrieval, IX.hybrid_retrieval):
        p = plan(fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in p, fn.__name__
        lines = [l for l in p.splitlines() if l.strip()]
        seen = 0
        for i, line in enumerate(lines):
            if "Window (" in line:
                seen += 1
                assert (
                    "TakeOrderedAndProject" in lines[i + 1]
                    or "Sort (" in lines[i + 1]  # rank over already-limited rows
                ), (fn.__name__, lines[i : i + 2])
        assert seen >= 1, fn.__name__


def test_heavy_users_every_window_is_partitioned(spark, sf_dir):
    """The hierarchical top-k must never plan an unpartitioned window:
    both rank stages declare partition keys (the final stage ranks the
    tiny salted-survivor set, still partitioned by event_type)."""
    from hadoop_and_spark_spark.streaming.windows import heavy_users_topk

    p = plan(heavy_users_topk(spark, sf_dir), "simple")
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[(?P<part>[^\]]*)\]", p):
        assert m.group("part").strip(), p
    assert "row_number" in p


def test_events_pivot_single_pass_no_expand_discovery(spark, sf_dir):
    """The declared-list pivot must be ONE aggregation pass over the
    scan (partial+final HashAggregate) with no distinct-values
    discovery join/aggregate and no Expand."""
    from hadoop_and_spark_spark.streaming.windows import events_pivot

    p = plan(events_pivot(spark, sf_dir), "simple")
    assert p.count("HashAggregate") == 2  # partial + final only
    assert "Expand" not in p


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval shingle set must reach the corpus side as a broadcast
    semi-join — the corpus text never shuffles for the overlap check,
    and the only exchange is the (doc, hits) aggregation."""
    from hadoop_and_spark_spark.operators.dedup import decontaminate

    p = plan(decontaminate(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "SortMergeJoin" not in p


def test_pack_sequences_window_is_partitioned(spark, sf_dir):
    """The packing cumsum must run per bucket — a window with a
    declared partition key, never the single-task unpartitioned
    running sum over the whole corpus."""
    from hadoop_and_spark_spark.operators import textstats as TS

    p = plan(TS.pack_sequences(spark, sf_dir))
    assert "Window (" in p or "Window\n" in p or "Window [" in p
    assert "PartitionSpec: []" not in p
    for line in p.splitlines():
        if "Arguments:" in line and "windowspecdefinition" in line:
            assert "bucket" in line, line


def test_balance_quartiles_has_no_window_no_sort_shuffle(spark, sf_dir):
    """Quantile bucketing must plan as aggregate + broadcast join
    back: no window operator at all (the ntile form would need one
    corpus-sized window partition per segment) and the boundary join
    is a BroadcastHashJoin."""
    from hadoop_and_spark_spark.operators import relational as R2

    p = plan(R2.balance_quartiles(spark, sf_dir))
    assert "Window" not in p
    assert "BroadcastHashJoin" in p


def test_q10_plans_anti_join_with_pushed_filter(spark, sf_dir):
    """The negative-membership query must plan a real anti join (no
    outer-join + null-filter fallback) with the shipdate predicate
    pushed into the lineitem scan."""
    from hadoop_and_spark_spark.operators import relational as R3

    p = plan(R3.q10_unshipped_orders(spark, sf_dir))
    assert "LeftAnti" in p
    assert "l_shipdate" in p and "PushedFilters" in p


def test_runtime_bloom_filter_reaches_fact_scan(spark, sf_dir):
    """Runtime row-level filtering: with a shuffle join forced, the
    optimizer injects a Bloom filter built from q4's filtered orders
    side into the lineitem probe side (bloom_filter_might_contain in
    the scan's filter) — the 100 TB mechanism that prunes fact rows
    BEFORE the join shuffle. Local tables sit under the default
    10 GB application-side threshold, so the thresholds are forced to
    zero here purely to exercise the plan path; at scale the defaults
    qualify on their own."""
    import contextlib

    from hadoop_and_spark_spark.catalog import _scoped_conf
    from hadoop_and_spark_spark.operators import relational as R4

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with contextlib.ExitStack() as st:
        for k, v in confs.items():
            st.enter_context(_scoped_conf(spark, k, v))
        p = plan(R4.q4_orders_by_nation(spark, sf_dir))
    assert "might_contain" in p.lower()


def test_doc_chunks_explode_payload_is_chunk_sized(spark, sf_dir):
    """The chunk slice must run INSIDE the posexplode generator.
    Exploding chunk ids first and slicing after makes every generated
    row carry the whole document token array across the stage
    boundary — O(n_tokens × n_chunks) bytes per document, a measured
    executor OOM on a 2M-token document (adversarial sweep, round 8).
    Pin: the generator input is transform(sequence …)(slice …), and no
    operator above the Generate references the token array."""
    from hadoop_and_spark_spark.operators import textstats as TS

    p = plan(TS.doc_chunks(spark, sf_dir), "simple")
    gen = p.index("Generate posexplode")
    gen_line = p[gen:].split("\n")[0]
    assert "transform(" in gen_line and "slice(" in gen_line
    assert "toks" not in p[:gen], (
        "token array escaped above the Generate — chunk rows would "
        "carry the full document token array again"
    )
