"""Capstone pipeline composition: the full LLM training-data read
path as ONE registered DAG.

Every stage of the pipeline is an individually driver-verified
operator — near-dup survivor selection (X57, `dedup_survivors`),
benchmark decontamination (X38, `decontaminate`), the
repetition/quality gates (X26 `repetition_filter` / X9
`doc_quality`), context-window chunking (X27, `chunk_frame`), and
sequence packing (X43, the `pack_sequences` window shape). This
query shows that they COMPOSE in one plan: the gate outputs narrow to bare doc_id keys before anything
joins, the survivor filter rides the session-memoized MinHash pair
graph instead of re-mining it, the chunker runs text-free
(`with_text=False` — only sizes reach the packer), and the whole
DAG executes as one Spark job with no intermediate materialization.
This is the production job a 100 TB training-data pipeline actually
runs: corpus in, packed-sequence assignment out.

Scale shape (what each piece costs at 100 TB):
- Every gate reduces to a (doc_id)-only frame before joining — the
  joins shuffle 8-byte keys, never text payloads. The text column is
  scanned where a gate genuinely consumes it (tokens, shingles) and
  nowhere else; Catalyst prunes the parquet scan per stage.
- The kept-set intersection is plain doc_id equi-joins. The gate
  aggregates already hash-partition their outputs on doc_id, so
  those join inputs reuse their aggregation exchange (AQE coalesces
  the rest).
- Chunking is a pure projection-explode (no shuffle); packing is the
  pack_sequences per-bucket prefix sum — PACK_BUCKETS parallel
  bounded-sorted partitions, the one unavoidable sequential step,
  bucketed exactly so it parallelizes.
- The DuckDB oracle composes the STAGE ORACLES verbatim as derived
  tables (each already independently hash-verified), then re-states
  chunk+pack — so the capstone's oracle is exactly as independent of
  the engine under test as its weakest stage oracle, and a semantics
  drift in any stage breaks both that stage's own driver row and
  this one.

Reference anchor: SURVEY §2.12a pipeline operators X26/X27/X38/X43/
X57; the composition itself is beyond the reference surface (its
assignments are standalone MR jobs chained by HDFS handoffs — this
is the same chain expressed as one declarative plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import tokenize_sql
from ..session import fan_out
from . import dedup, textstats
from .dedup import decontaminate, dedup_survivors
from .textstats import (
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    PACK_BUCKETS,
    SEQ_BUDGET,
    chunk_frame,
    doc_quality,
    repetition_filter,
)

# Sits just under the corpus quality median (p25 ≈ 0.46 on the
# synthetic corpus at every SF), so the gate genuinely splits the
# corpus instead of rubber-stamping it — the REP_MAX_* calibration
# rule. A production pipeline tunes this against held-out judgments.
CAPSTONE_MIN_QUALITY = 0.45


def corpus_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline: documents that survive near-dup
    keep-one-per-cluster AND carry no eval-set n-gram overlap AND
    pass the repetition and quality gates, chunked into training
    windows and packed into SEQ_BUDGET-token sequences. Returns one
    row per surviving chunk: (bucket, doc_id, chunk_id,
    n_chunk_tokens, start_off, seq_id).

    Eval documents themselves (doc_id < dedup.DECON_EVAL_DOCS) are
    excluded by construction — decontaminate only emits corpus-side
    rows — the benchmark is never training data. NULL-text documents
    fail the quality/repetition gates (NULL keep is not true) and
    would chunk to nothing anyway."""
    surv = dedup_survivors(spark, sf_dir).select("doc_id")
    decon_ok = (
        decontaminate(spark, sf_dir)
        .where(~F.col("contaminated"))
        .select("doc_id")
    )
    # The repetition and quality gates are both pure per-document
    # projections (repetition_filter's top-token share is array-side),
    # so they run FUSED on the one documents scan the chunker reads
    # anyway, via the stage operators' own shared feature expressions
    # (single definition of the gate semantics — the kept-set-equality
    # test pins them against the standalone stages). Composing them as
    # two more scans joined on doc_id would only re-attach a predicate
    # already computable in place: this plan has 5 documents scans and
    # 6 join nodes, that one 8 and 9.
    gated = (
        fan_out(load_table(spark, sf_dir, "documents"))
        .where(
            textstats.repetition_features()["keep"]
            & (
                textstats.quality_features()["quality"]
                >= CAPSTONE_MIN_QUALITY
            )
        )
    )
    docs = gated.join(surv, "doc_id").join(decon_ok, "doc_id")
    chunks = chunk_frame(docs, with_text=False)
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        chunks.select(
            (F.col("doc_id") % PACK_BUCKETS).cast("int").alias("bucket"),
            "doc_id",
            "chunk_id",
            F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        )
        .withColumn(
            "start_off",
            F.coalesce(F.sum("n_chunk_tokens").over(w), F.lit(0).cast("long")),
        )
        .withColumn(
            "seq_id",
            (
                F.col("bucket").cast("long") * F.lit(1_000_000_000)
                + F.floor(F.col("start_off") / SEQ_BUDGET)
            ).cast("long"),
        )
        .sortWithinPartitions("doc_id", "chunk_id")
    )


def _capstone_sql() -> str:
    """The stage oracles composed verbatim as derived tables (each is
    a complete SELECT with its own WITH [RECURSIVE] chain — DuckDB
    scopes those inside the subquery, so no CTE-name collisions are
    possible by construction), narrowed to doc_id keys, intersected,
    then chunk+pack re-stated over the kept set exactly as
    doc_chunks'/pack_sequences' own oracles state them."""
    toks = tokenize_sql("d.text")
    return f"""
    WITH surv AS (
        SELECT doc_id FROM ({dedup.ORACLE_SQL["dedup_survivors"]})
    ),
    decon_ok AS (
        SELECT doc_id FROM ({dedup.ORACLE_SQL["decontaminate"]})
        WHERE NOT contaminated
    ),
    rep_ok AS (
        SELECT doc_id FROM ({textstats.ORACLE_SQL["repetition_filter"]})
        WHERE keep
    ),
    qual_ok AS (
        SELECT doc_id FROM ({textstats.ORACLE_SQL["doc_quality"]})
        WHERE quality >= {CAPSTONE_MIN_QUALITY}
    ),
    kept AS (
        SELECT doc_id FROM surv
        JOIN decon_ok USING (doc_id)
        JOIN rep_ok USING (doc_id)
        JOIN qual_ok USING (doc_id)
    ),
    ct AS (
        SELECT d.doc_id, {toks} AS toks, len({toks}) AS n
        FROM documents d JOIN kept USING (doc_id)
        WHERE d.text IS NOT NULL
    ),
    ck AS (
        SELECT doc_id, toks,
               (ceil(greatest(n - {CHUNK_TOKENS}, 0) / {CHUNK_STRIDE}.0))::INT
                   + 1 AS nk
        FROM ct
    ),
    cex AS (SELECT doc_id, toks, unnest(range(0, nk))::INT AS chunk_id FROM ck),
    ch AS (
        SELECT doc_id, chunk_id,
               len(toks[chunk_id * {CHUNK_STRIDE} + 1 :
                        chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}])::BIGINT
                   AS n_chunk_tokens
        FROM cex
    ),
    laid AS (
        SELECT (doc_id % {PACK_BUCKETS})::INT AS bucket, doc_id, chunk_id,
               n_chunk_tokens,
               coalesce(sum(n_chunk_tokens) OVER (
                   PARTITION BY doc_id % {PACK_BUCKETS}
                   ORDER BY doc_id, chunk_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0)::BIGINT AS start_off
        FROM ch
    )
    SELECT bucket, doc_id, chunk_id, n_chunk_tokens, start_off,
           (bucket::BIGINT * 1000000000
            + start_off // {SEQ_BUDGET})::BIGINT AS seq_id
    FROM laid ORDER BY doc_id, chunk_id
    """


QUERIES = {"corpus_training_set": corpus_training_set}
ORACLE_SQL = {"corpus_training_set": _capstone_sql()}
