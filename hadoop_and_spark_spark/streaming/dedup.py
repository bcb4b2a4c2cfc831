"""Streaming deduplication — the continuous-ingest twin of
``operators/dedup.dedup_exact``.

A training-data pipeline ingesting documents as a stream drops exact
re-arrivals ACROSS micro-batches: ``dropDuplicates`` on the content
hash keeps per-key state in the state store, so the first arrival
wins and every later copy — same batch or any later batch — is
suppressed. This is the capability the batch ``dedup_exact`` query
cannot express (its groupBy sees one static table).

Scale notes: state grows with the number of DISTINCT keys ever seen —
only the md5 + key columns are stored, never the payload. For
unbounded streams bound the state with
``dropDuplicatesWithinWatermark`` (same plan, state evicted once the
watermark passes each key's arrival time); the unbounded form here
matches the batch semantics exactly, which is what the cross-check
test pins.

Reference parity: no streaming dedup exists in the reference; the
state-store shape is T5's (a7/TrendingArrivals.scala:47-68), keyed by
content hash instead of region.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .runtime import run_replay


def streaming_dedup_exact(
    docs_stream: DataFrame,
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """First-arrival-wins exact dedup over a document stream.

    Output rows carry the content hash so a downstream sink can join
    payloads back; with ``watermark=(ts_col, delay)`` the state store
    evicts hashes older than the watermark (bounded state, at the
    cost of re-admitting a duplicate that re-arrives after the
    delay).
    """
    hashed = docs_stream.withColumn("text_md5", F.md5(F.col("text")))
    if watermark is not None:
        ts_col, delay = watermark
        return hashed.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            ["text_md5"]
        )
    return hashed.dropDuplicates(["text_md5"])


# -------------------------------------------- registered driver query

DOC_REPLAY_BUCKETS = 5
# Every delivery file after the first re-delivers bucket 0's lowest
# doc_ids VERBATIM — scripted cross-batch re-arrivals. If the state
# store failed to suppress them, each re-arrival would emit again and
# the output row count would exceed the distinct-hash oracle's.
REARRIVAL_IDS_LT = DOC_REPLAY_BUCKETS * 10


def doc_replay_path(sf_dir: str) -> str:
    """On-disk location of the document replay source for a corpus."""
    from ..sources.maintenance import corpus_tmp_path

    return corpus_tmp_path("hs_docdedup_", sf_dir)


def write_doc_replay(spark, sf_dir: str, out_path: str) -> None:
    """Split documents into DOC_REPLAY_BUCKETS delivery files
    (doc_id % buckets), mtime-ordered for one-file-per-micro-batch
    replay; files 1..N-1 additionally RE-DELIVER bucket 0's lowest
    doc_ids so every later batch contains exact re-arrivals the
    dedup state must drop."""
    from ..catalog import load_table
    from ..sources.mock_stream import write_scripted_batches

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rearrivals = docs.where(
        (F.col("doc_id") % DOC_REPLAY_BUCKETS == 0)
        & (F.col("doc_id") < REARRIVAL_IDS_LT)
    )
    batches = []
    for k in range(DOC_REPLAY_BUCKETS):
        part = docs.where(F.col("doc_id") % DOC_REPLAY_BUCKETS == k)
        batches.append(part.unionByName(rearrivals) if k > 0 else part)
    write_scripted_batches(batches, out_path)


def _doc_replay_source(spark, sf_dir: str, src: str, version: str, write) -> str:
    """Build a document replay at ``src`` once per corpus (build_once
    marker ``version``) with ``write(spark, sf_dir, src)`` and return
    the directory its stream reads."""
    from ..sources.maintenance import build_once, source_marker

    build_once(
        src,
        source_marker(sf_dir, "documents", version),
        lambda: write(spark, sf_dir, src),
    )
    return src


def dedup_exact_stream(spark, sf_dir: str) -> DataFrame:
    """Exact dedup through the REAL streaming state store, driver-
    gated: replay documents in DOC_REPLAY_BUCKETS micro-batches where
    every batch after the first re-delivers known earlier documents,
    run first-arrival-wins ``dropDuplicates`` on the content hash, and
    capture the append-mode sink. The output is the DISTINCT hash set
    — emitted once per hash across ALL batches — so the oracle is
    simply ``SELECT DISTINCT md5(text)``: a green driver row is
    impossible unless the state store suppressed the scripted
    cross-batch re-arrivals (per-batch-only dedup would emit them
    again and fail the row-count gate).

    Only text_md5 is emitted: within a batch that contains a
    duplicate pair, WHICH row wins is engine-internal, so the hash —
    identical for both — is the deterministic surface. Scale: state
    is one (md5) key per distinct document, payload never stored;
    unbounded streams bound it with dropDuplicatesWithinWatermark
    (streaming_dedup_exact's watermark form, unit-tested)."""
    return run_replay(
        spark, sf_dir, "dedup_exact_stream", "documents",
        lambda: _doc_replay_source(
            spark, sf_dir, doc_replay_path(sf_dir), "docdedup_v2",
            write_doc_replay,
        ),
        "doc_id long, text string",
        lambda stream: streaming_dedup_exact(stream).select("text_md5"),
        "append",
        lambda sink: sink.sortWithinPartitions("text_md5"),
    )


# ------------------------------- bounded-state (watermarked) variant

DEDUP_WM_DELAY = "60 minutes"
# Delivery script for the bounded variant: 5 hourly micro-batches
# (bucket k of doc_id % 5 at event time T0 + k hours). The rearrival
# set (bucket 0's lowest ids, first delivered at H0 with state expiry
# H0 + 60 min) is re-delivered TWICE:
#   batch 1 (H1): watermark at its start is H0 − 60 min < expiry —
#     state alive, duplicates SUPPRESSED;
#   batch 4 (H4): watermark at its start is H3 − 60 min = H0 + 120 min
#     > expiry — state EVICTED, duplicates RE-ADMITTED and re-emitted.
# The oracle counts every distinct hash once PLUS the rearrival set
# once more, so the row is green only if eviction happened exactly at
# the watermark horizon: keeping state too long loses the re-emission
# (row count short), evicting too early re-emits batch 1's copies too
# (row count over).
REDELIVER_WITHIN_IDX = 1
REDELIVER_BEYOND_IDX = 4


def timed_doc_replay_path(sf_dir: str) -> str:
    from ..sources.maintenance import corpus_tmp_path

    return corpus_tmp_path("hs_docdedupwm_", sf_dir)


def write_doc_timed_replay(spark, sf_dir: str, out_path: str) -> None:
    """The doc replay with EVENT TIME: bucket k delivered at
    T0 + k hours; the rearrival set re-delivered per the schedule
    above (re-deliveries carry their DELIVERY batch's event time —
    that is what makes the second one late).

    The input is one document per DISTINCT text (doc_id = min over
    the text's ids): the oracle's horizon arithmetic requires that
    the SCRIPTED re-deliveries are the only duplicates crossing
    micro-batches — a natural duplicate pair split across buckets
    (they exist at sf0.1) would also be re-admitted once the first
    copy's state is evicted, or worse, land exactly ON the eviction
    boundary, making the emission count depend on strict-vs-inclusive
    eviction. min() keeps the selection deterministic and DuckDB-
    mirrorable."""
    import datetime as dt

    from ..catalog import load_table
    from ..sources.mock_stream import write_scripted_batches

    docs = (
        load_table(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
    )
    rearrivals = docs.where(
        (F.col("doc_id") % DOC_REPLAY_BUCKETS == 0)
        & (F.col("doc_id") < REARRIVAL_IDS_LT)
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    batches = []
    for k in range(DOC_REPLAY_BUCKETS):
        part = docs.where(F.col("doc_id") % DOC_REPLAY_BUCKETS == k)
        if k in (REDELIVER_WITHIN_IDX, REDELIVER_BEYOND_IDX):
            part = part.unionByName(rearrivals)
        batches.append(
            part.withColumn(
                "ts", F.lit(t0 + dt.timedelta(hours=k)).cast("timestamp")
            )
        )
    write_scripted_batches(batches, out_path)


def dedup_bounded_stream(spark, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state —
    ``dropDuplicatesWithinWatermark`` under the driver gate, the
    operator distinction dedup_exact_stream cannot pin: the unbounded
    form's state grows with every distinct key ever seen (forever, on
    a 100 TB/day stream), while the watermarked form evicts a key's
    state once the watermark passes its arrival + delay — the
    production trade of bounded state for re-admitting sufficiently
    late duplicates. The scripted replay exercises BOTH sides of the
    horizon (see the schedule above), so the oracle — every distinct
    hash plus the rearrival set once more — is green only if
    suppression AND eviction both happen exactly at the watermark.

    Scale: state = distinct keys inside the watermark horizon, not
    stream history; only (md5, ts) is stored."""
    return run_replay(
        spark, sf_dir, "dedup_bounded_stream", "documents",
        lambda: _doc_replay_source(
            spark, sf_dir, timed_doc_replay_path(sf_dir), "docdedupwm_v3",
            write_doc_timed_replay,
        ),
        "doc_id long, text string, ts timestamp",
        lambda stream: streaming_dedup_exact(
            stream, watermark=("ts", DEDUP_WM_DELAY)
        ).select("text_md5"),
        "append",
        lambda sink: sink.sortWithinPartitions("text_md5"),
    )


QUERIES = {
    "dedup_exact_stream": dedup_exact_stream,
    "dedup_bounded_stream": dedup_bounded_stream,
}

ORACLE_SQL = {
    "dedup_exact_stream": """
        SELECT DISTINCT md5(text) AS text_md5 FROM documents ORDER BY 1
    """,
    # every distinct hash once (first arrival) + the rearrival set's
    # hashes once more (their beyond-watermark re-delivery re-admits
    # them); the within-watermark re-delivery must NOT re-emit. The
    # min-doc_id-per-text view mirrors the replay writer's input.
    "dedup_bounded_stream": f"""
        WITH d AS (
            SELECT min(doc_id) AS doc_id, md5(text) AS text_md5
            FROM documents GROUP BY text
        )
        SELECT text_md5 FROM (
            SELECT text_md5 FROM d
            UNION ALL
            SELECT text_md5 FROM d
            WHERE doc_id % {DOC_REPLAY_BUCKETS} = 0
              AND doc_id < {REARRIVAL_IDS_LT}
        ) ORDER BY 1
    """,
}
