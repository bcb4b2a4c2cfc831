"""Inverted index + boolean retrieval (reference a3).

Reference shape: BuildInvertedIndexCompressed.java builds a MapFile
of `term -> [df, (docno-gap, tf)*]` with hand-rolled VInt gap
encoding, secondary sort on (term, docno), and a custom partitioner;
BooleanRetrievalCompressed.java seeks the right partition file,
decodes postings, and evaluates an RPN query with TreeSet
intersections/unions, then seeks the collection file for each hit.

Spark-first re-expression:
- The index is one aggregation: explode(tokens) → per-(term, doc)
  term frequency → per-term document frequency + docno-sorted
  posting list. Secondary sort becomes `array_sort(collect_list)`;
  VInt+gap compression is delegated to Parquet encodings
  (delta/RLE + zstd) when the index is persisted.
- Retrieval is set algebra over doc-id sets (INTERSECT/UNION), with
  the RPN evaluation as a tiny driver-side loop over DataFrames —
  the only procedural part, matching the reference's stack
  evaluator (a3/BooleanRetrievalCompressed.java:73-96).
- The collection "seek" (byte offset → line) becomes a join against
  the documents table — at scale, a broadcast of the (small) result
  set against a pruned scan.

Scale notes: the per-term posting aggregation shuffles once on the
term; df + postings come out of the same groupBy (no second pass).
Posting lists for 100 TB corpora can exceed a single task's memory
for stop-word-like terms — the written index partitions by
hash(term) (the reference's 4-reducer split) and Parquet chunks the
arrays; retrieval never materializes postings on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..functions import tokenize, tokenize_sql
from ..functions.portable import array_runs, let_col
from ..session import fan_out
from ..sources.maintenance import artifact_checkpoint

# Fixed RPN query for the driver-checked retrieval entry, mirroring
# the assignment3.md golden queries ("X Y OR Z AND" = (X ∪ Y) ∩ Z).
RPN_QUERY = ("spark", "hash", "OR", "table", "AND")
SNIPPET_LEN = 80  # first-80-chars display, a3/BooleanRetrievalCompressed.java:175-181

_TOKS_SQL = tokenize_sql("text")


def _term_tf_pairs() -> F.Column:
    """array<struct<term, tf>> per document: run-length encode the
    SORTED token array (equal tokens sort adjacent, so run length =
    term frequency) — the reference's mapper-side histogram
    (a3/BuildInvertedIndexCompressed.java:66-81) computed INSIDE the
    scan stage as a pure array projection. NULL/empty text degrades to
    an empty array (explode emits no rows, as the explode→groupBy form
    did)."""
    return let_col(
        F.array_sort(tokenize("text")),
        lambda s: F.transform(
            array_runs(s),
            lambda r: F.struct(r["v"].alias("term"), r["n"].alias("tf")),
        ),
    )


def term_doc_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(term, doc) term frequency.

    The per-document histogram is document-local, so it runs
    array-side via ``_term_tf_pairs`` with no shuffle: the only
    Exchange in any consumer is that consumer's own term-keyed
    aggregate (guide §2.4: remove shuffles outright)."""
    # fan_out: the tokenize+sort map side must not run on one
    # input split (small local scans arrive as a single partition).
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", F.explode(_term_tf_pairs()).alias("p")).select(
        F.col("p.term").alias("term"), "doc_id", F.col("p.tf").alias("tf")
    )


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full index: term → document frequency + docno-ordered
    postings (rendered as a canonical string for oracle hashing;
    the persisted form keeps the ARRAY<STRUCT> column).
    """
    postings = term_doc_tf(spark, sf_dir)
    plist = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("doc_id"), F.col("tf")))),
            lambda x: F.concat_ws(":", x["doc_id"].cast("string"), x["tf"].cast("string")),
        ),
    )
    return (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"), plist.alias("postings"))
        .orderBy("term")
    )


def write_index(spark: SparkSession, sf_dir: str, out_path: str, buckets: int = 4) -> None:
    """Persist the typed index partitioned like the reference's
    4-reducer MapFile split (hash(term) → part), postings as
    ARRAY<STRUCT<doc_id, tf>> so Parquet's delta/RLE encodings play
    the role of the VInt gap coding.

    Layout (three tables under ``out_path``):
    - ``postings/`` — term → (df, docno-sorted postings), the MapFile.
    - ``doclen/``   — doc_id → token count: the length-normalization
      metadata BM25 needs, written NEXT TO the postings at index time
      so scoring never re-tokenizes the corpus (dl is one more column
      the index build already computes in its tokenize pass).
    - ``stats/``    — one row (n_docs, total_tokens) as EXACT ints, so
      every reader derives the same avgdl from the same two integers
      (no FP-summation-order drift across engines or partitionings).
    """
    import os

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokenize("text").alias("toks"))
    # Per-doc (term, tf) pairs array-side (see _term_tf_pairs): the
    # index build shuffles once on term instead of twice.
    postings = docs.select(
        "doc_id", F.explode(_term_tf_pairs()).alias("p")
    ).select(F.col("p.term").alias("term"), "doc_id", F.col("p.tf").alias("tf"))
    idx = postings.groupBy("term").agg(
        F.count("*").alias("df"),
        F.array_sort(F.collect_list(F.struct("doc_id", "tf"))).alias("postings"),
    )
    idx.repartition(buckets, "term").sortWithinPartitions("term").write.mode(
        "overwrite"
    ).parquet(os.path.join(out_path, "postings"))
    doclen = toks.select("doc_id", F.size("toks").cast("long").alias("dl"))
    doclen.write.mode("overwrite").parquet(os.path.join(out_path, "doclen"))
    doclen.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_tokens")
    ).write.mode("overwrite").parquet(os.path.join(out_path, "stats"))


IDX_VERSION = "idx_v2"  # bump on any change to the on-disk index layout


def open_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, doclen, stats) frames of the corpus's persisted
    index, building it first if missing/stale (maintenance.build_once
    keyed on the documents table — the "index built once, queries
    seek" contract)."""
    import os

    from ..sources.maintenance import build_once, source_marker

    out = index_path(sf_dir)
    build_once(
        out,
        source_marker(sf_dir, "documents", IDX_VERSION),
        lambda: write_index(spark, sf_dir, out),
    )
    return (
        read_parquet(spark, os.path.join(out, "postings")),
        read_parquet(spark, os.path.join(out, "doclen")),
        read_parquet(spark, os.path.join(out, "stats")),
    )


def _doc_set(postings: DataFrame, term: str) -> DataFrame:
    return postings.where(F.col("term") == term).select("doc_id")


def _eval_rpn(postings: DataFrame, rpn: tuple[str, ...]) -> DataFrame:
    """The RPN stack evaluator over any (term, doc_id) postings frame
    (a3/BooleanRetrievalCompressed.java:73-96): operands push
    doc-id-set DataFrames, AND/OR pop two and push intersect/union.
    All set algebra stays distributed — the driver only composes the
    plan."""
    stack: list[DataFrame] = []
    for tok in rpn:
        if tok == "AND":
            r, l = stack.pop(), stack.pop()
            stack.append(l.intersect(r))
        elif tok == "OR":
            r, l = stack.pop(), stack.pop()
            stack.append(l.union(r).distinct())
        else:
            stack.append(_doc_set(postings, tok))
    if len(stack) != 1:
        raise ValueError(f"malformed RPN query: {rpn}")
    return stack[0]


def _fetch_snippets(
    spark: SparkSession, sf_dir: str, hits: DataFrame
) -> DataFrame:
    """S6 collection fetch: semi-join the hit set back to documents
    (the reference's per-hit collection-file seek,
    a3/BooleanRetrievalCompressed.java:175-181)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.join(hits, "doc_id", "left_semi")
        .select("doc_id", F.substring("text", 1, SNIPPET_LEN).alias("snippet"))
        .orderBy("doc_id")
    )


def boolean_retrieval(
    spark: SparkSession, sf_dir: str, rpn: tuple[str, ...] = RPN_QUERY
) -> DataFrame:
    """Evaluate an RPN boolean query and return matching docs with
    their display snippet."""
    # Materialize the postings ONCE per (session, corpus): each
    # operand filters on the computed `term` column, and per-term
    # filters push below the aggregate into three DIFFERENT subplans —
    # without this, every operand re-runs the whole
    # tokenize+explode+count. The memo is the in-session twin of the
    # persisted index (boolean_retrieval_persisted): an index is built
    # once and every query seeks, so repeat invocations price the
    # retrieval, not the index build (reference S5).
    from ..sources.maintenance import session_memo

    # repartition("term") before the checkpoint: the memo mirrors the
    # persisted index's hash(term) layout — one build-time exchange
    # (paid once per session, exactly where write_index pays its
    # groupBy(term) exchange), and the served artifact is
    # term-clustered AND AQE-size-coalesced. The serving plan is 4
    # subplans over this frame, so a scan-shaped (unclustered)
    # checkpoint would make every operand re-scan every partition.
    postings = session_memo(
        spark,
        sf_dir,
        "documents",
        "postings_mem_v1",
        lambda: term_doc_tf(spark, sf_dir)
        .repartition("term")
        .transform(artifact_checkpoint),
    )
    return _fetch_snippets(spark, sf_dir, _eval_rpn(postings, rpn))


def index_path(sf_dir: str) -> str:
    """Canonical on-disk location for the persisted index of a given
    corpus. Stable digest, not builtin hash(): hash() is
    PYTHONHASHSEED-randomized per process, so it would write a fresh
    never-reused /tmp directory on every driver/bench/test run."""
    from ..sources.maintenance import corpus_tmp_path

    return corpus_tmp_path("hs_index_", sf_dir)


def boolean_retrieval_persisted(
    spark: SparkSession, sf_dir: str, rpn: tuple[str, ...] = RPN_QUERY
) -> DataFrame:
    """The a3 pipeline end-to-end through STORAGE: build the index,
    persist it (K2), read it back, and retrieve (S5) — proving the
    seek path the reference grades (BuildInvertedIndexCompressed →
    MapFile on disk → BooleanRetrievalCompressed.java:57-96), not
    just the in-session recompute.

    The persisted index is hash(term)-partitioned and term-sorted
    within partitions, so each operand's ``term = 'x'`` filter
    reaches the parquet scan as a pushed predicate and row-group
    min/max stats prune everything but the one bucket's matching
    chunk — the DataFrame-native analogue of the reference's
    partitioned MapFile seek. Results must be identical to
    boolean_retrieval (same oracle).

    Build-once: the index is built only when the corpus-keyed marker
    is missing/stale (maintenance.build_once, via open_index) — the
    reference's own split (BuildInvertedIndexCompressed runs once,
    every BooleanRetrievalCompressed invocation seeks), so repeat
    queries measure the SEEK path, and a corpus refresh rebuilds."""
    idx, _doclen, _stats = open_index(spark, sf_dir)
    postings = idx.select(
        "term", F.explode("postings").alias("p")
    ).select("term", F.col("p.doc_id").alias("doc_id"))
    return _fetch_snippets(spark, sf_dir, _eval_rpn(postings, rpn))


TFIDF_TERMS = ("spark", "hash", "table")  # ranked-retrieval query
TFIDF_K = 20


def tfidf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked retrieval over the inverted index: score(doc) =
    Σ_{t ∈ query} tf(t,d) · log10(N/df(t)), top-TFIDF_K docs.

    The classic step past the reference's set-algebra retrieval (a3).
    The query runs off the PERSISTED index like bm25_retrieval (the
    index seek, S5): the term predicate pushes to the
    hash(term)-partitioned parquet postings, per-term df comes
    straight from the index's df column (identical by construction to
    counting the filtered postings), and N reads the exact-int
    ``stats`` row (equal to count(*) over documents — doclen has one
    row per document). The corpus text is never touched at query
    time. Scoring: per-doc sum → orderBy+limit top-k
    (TakeOrderedAndProject: per-partition top-K heaps, K rows to the
    driver-side merge — the q7/O3 shape, a5/Q7.scala:94-96). Rank is
    attached AFTER the limit, so the row_number window sees at most
    TFIDF_K rows. Scores round to 6 dp BEFORE ranking so ULP-level FP
    summation differences can't flip a rank across engines; ties
    break on doc_id.
    """
    from ..functions.portable import round6

    idx, _doclen, stats_raw = open_index(spark, sf_dir)
    n_docs = stats_raw.select(F.col("n_docs").cast("double").alias("n"))
    q = (
        idx.where(F.col("term").isin(*TFIDF_TERMS))
        .select(
            F.col("df").cast("double").alias("df"),
            F.explode("postings").alias("p"),
        )
        .select(
            "df",
            F.col("p.doc_id").alias("doc_id"),
            F.col("p.tf").alias("tf"),
        )
    )
    scored = (
        q.crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            (F.col("tf") * F.log10(F.col("n") / F.col("df"))).alias("w"),
        )
        .groupBy("doc_id")
        .agg(round6(F.sum("w")).alias("score"))
    )
    return (
        _ranked(scored, TFIDF_K)
        .select("rank", "doc_id", "score")
        .orderBy("rank")
    )


BM25_K1 = 1.2
BM25_B = 0.75


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    """(doc_id, score) → top-k with rank attached AFTER the
    orderBy+limit (TakeOrderedAndProject), so the row_number window
    sees ≤ k rows — the bounded-rank shape every retrieval query here
    uses."""
    from pyspark.sql import Window

    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w))


def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval — the industry-standard scorer the tf·idf
    query (X15) is the warm-up for: score(doc) = Σ_t idf(t) ·
    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), idf = log10(1 +
    (N − df + ½)/(df + ½)).

    Plan shape mirrors tfidf_retrieval with one addition, the document
    length norm — and the whole query runs off the PERSISTED index
    (open_index): postings seek by pushed term predicate, df straight
    from the index's df column, dl from the ``doclen`` metadata table
    written next to the postings at index time, N/avgdl from the
    1-row exact-int ``stats`` table (both engines divide the same two
    integers — no FP-summation-order drift). The corpus text is never
    re-tokenized at query time; at 10⁹ docs a BM25 query touches
    NPROBE-like O(df(query terms)) index rows plus a doclen
    equi-join on the candidate set. Scores round to 6 dp before the
    orderBy+limit top-k (TakeOrderedAndProject), rank attaches after
    the limit.
    """
    return (
        _ranked(_bm25_scored(spark, sf_dir), TFIDF_K)
        .select("rank", "doc_id", "score")
        .orderBy("rank")
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score) BM25 scores for TFIDF_TERMS — the shared core
    of bm25_retrieval and hybrid_retrieval's text side, reading the
    persisted index (postings + doclen + stats metadata), never the
    corpus text."""
    from ..functions.portable import round6

    idx, doclen, stats_raw = open_index(spark, sf_dir)
    q = (
        idx.where(F.col("term").isin(*TFIDF_TERMS))
        .select(
            "term",
            F.col("df").cast("double").alias("df"),
            F.explode("postings").alias("p"),
        )
        .select("term", "df", F.col("p.doc_id").alias("doc_id"), F.col("p.tf").alias("tf"))
    )
    stats = stats_raw.select(
        F.col("n_docs").cast("double").alias("n"),
        (F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")).alias(
            "avgdl"
        ),
    )
    dl_tbl = doclen.select("doc_id", F.col("dl").cast("double").alias("dl"))
    idf = F.log10(
        1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        q.join(dl_tbl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * norm).alias("w"))
        .groupBy("doc_id")
        .agg(round6(F.sum("w")).alias("score"))
    )


HY_POOL = 50  # per-side candidate pool fed to the fusion
HY_K = 20  # fused top-k
RRF_K = 60  # reciprocal-rank-fusion constant (Cormack et al.)
HY_QUERY_VEC = 0  # query embedding = vec_id 0 (vec ids align with doc ids)


def hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid text+vector retrieval via reciprocal-rank fusion: the
    BM25 top-HY_POOL (text side) and the cosine top-HY_POOL around a
    query embedding (vector side) fuse as rrf(doc) =
    Σ_side 1/(RRF_K + rank_side), top-HY_K by fused score — the
    two-tower retrieval shape every modern search/RAG stack runs, and
    the natural join of this module's index surface with the
    embeddings table (vec_id ≡ doc_id in the testdata).

    Scale shape: each side is its own bounded pipeline (BM25:
    index-seek + candidate-pruned norm; vector: broadcast 1-row query
    against the corpus — in production the IVF/persisted index, X24,
    replaces the scan). The fusion itself joins two ≤ HY_POOL-row
    frames — constant-size work regardless of corpus. Ranks, not
    scores, cross the modality boundary, so no cross-engine score
    calibration is needed: 1/(K+rank) is exact integer-derived IEEE
    division on both engines. Absent-from-pool sides surface as rank 0
    (typed, not NULL — nullable ints shift dtype under pandas)."""
    from ..functions.portable import dot_fold, round6

    from .similarity import EMB_DIM  # noqa: F401 — oracle dim source

    b = _ranked(_bm25_scored(spark, sf_dir), HY_POOL).select(
        "doc_id", F.col("rank").alias("rank_text")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vec = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    ).select(
        "vec_id", "emb", F.sqrt(dot_fold(F.col("emb"), F.col("emb"))).alias("nrm")
    )
    qv = vec.where(F.col("vec_id") == HY_QUERY_VEC).select(
        F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    vscored = (
        vec.where(F.col("vec_id") != HY_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            round6(
                dot_fold(F.col("emb"), F.col("q_emb"))
                / (F.col("nrm") * F.col("q_nrm"))
            ).alias("score"),
        )
    )
    v = _ranked(vscored, HY_POOL).select(
        "doc_id", F.col("rank").alias("rank_vec")
    )
    rrf = round6(
        F.when(F.col("rank_text") > 0, 1.0 / (RRF_K + F.col("rank_text"))).otherwise(
            0.0
        )
        + F.when(F.col("rank_vec") > 0, 1.0 / (RRF_K + F.col("rank_vec"))).otherwise(
            0.0
        )
    )
    fused = (
        b.join(v, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("rank_text", F.lit(0)).alias("rank_text"),
            F.coalesce("rank_vec", F.lit(0)).alias("rank_vec"),
        )
        .select("doc_id", "rank_text", "rank_vec", rrf.alias("score"))
    )
    return (
        _ranked(fused, HY_K)
        .select(
            "rank", "doc_id", F.col("score").alias("rrf"), "rank_text", "rank_vec"
        )
        .orderBy("rank")
    )


ORACLE_SQL: dict[str, str] = {
    "inverted_index": f"""
        WITH postings AS (
            SELECT term, doc_id, count(*) AS tf
            FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
            GROUP BY term, doc_id
        )
        SELECT term, count(*) AS df,
               string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id, tf) AS postings
        FROM postings GROUP BY term ORDER BY term
    """,
    "boolean_retrieval": f"""
        WITH postings AS (
            SELECT DISTINCT term, doc_id
            FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
        )
        SELECT doc_id, substr(text, 1, {SNIPPET_LEN}) AS snippet
        FROM documents
        WHERE doc_id IN (
            (SELECT doc_id FROM postings WHERE term = '{RPN_QUERY[0]}'
             UNION
             SELECT doc_id FROM postings WHERE term = '{RPN_QUERY[1]}')
            INTERSECT
            SELECT doc_id FROM postings WHERE term = '{RPN_QUERY[3]}'
        )
        ORDER BY doc_id
    """,
}

ORACLE_SQL["boolean_retrieval_persisted"] = ORACLE_SQL["boolean_retrieval"]


def _tfidf_sql() -> str:
    from ..functions.portable import round6_sql

    terms = ", ".join(f"'{t}'" for t in TFIDF_TERMS)
    return f"""
        WITH postings AS (
            SELECT term, doc_id, count(*) AS tf
            FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
            GROUP BY term, doc_id
        ),
        q AS (SELECT * FROM postings WHERE term IN ({terms})),
        dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM q GROUP BY term),
        n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        scored AS (
            SELECT doc_id,
                   {round6_sql('sum(q.tf * log10(n.n / dfreq.df))')} AS score
            FROM q JOIN dfreq USING (term) CROSS JOIN n
            GROUP BY doc_id
        )
        SELECT rank, doc_id, score FROM (
            SELECT doc_id, score,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank
            FROM scored
        ) WHERE rank <= {TFIDF_K} ORDER BY rank
    """


ORACLE_SQL["tfidf_retrieval"] = _tfidf_sql()


def _bm25_scored_cte() -> str:
    """The WITH-clause prefix computing BM25 ``scored(doc_id, score)``
    — shared by the bm25_retrieval and hybrid_retrieval oracles."""
    from ..functions.portable import round6_sql

    terms = ", ".join(f"'{t}'" for t in TFIDF_TERMS)
    return f"""
        WITH postings AS (
            SELECT term, doc_id, count(*) AS tf
            FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
            GROUP BY term, doc_id
        ),
        q AS (SELECT * FROM postings WHERE term IN ({terms})),
        dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM q GROUP BY term),
        stats AS (
            SELECT count(*)::DOUBLE AS n,
                   sum(len({_TOKS_SQL}))::DOUBLE / count(*)::DOUBLE AS avgdl
            FROM documents
        ),
        dl AS (
            SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM documents
            WHERE doc_id IN (SELECT doc_id FROM q)
        ),
        scored AS (
            SELECT q.doc_id,
                   {round6_sql(
                       "sum(log10(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))"
                       f" * (q.tf * {BM25_K1 + 1.0}) / (q.tf + {BM25_K1} *"
                       f" (1.0 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl)))"
                   )} AS score
            FROM q JOIN dfreq USING (term)
                   JOIN dl ON q.doc_id = dl.doc_id
                   CROSS JOIN stats
            GROUP BY q.doc_id
        )
    """


def _bm25_sql() -> str:
    return (
        _bm25_scored_cte()
        + f"""
        SELECT rank, doc_id, score FROM (
            SELECT doc_id, score,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank
            FROM scored
        ) WHERE rank <= {TFIDF_K} ORDER BY rank
    """
    )


def _hybrid_sql() -> str:
    from ..functions.portable import dot_fold_sql, round6_sql

    from .similarity import EMB_DIM

    cos = (
        dot_fold_sql("v.emb", "vq.q_emb", EMB_DIM) + " / (v.nrm * vq.q_nrm)"
    )
    return (
        _bm25_scored_cte()
        + f"""
        , brank AS (
            SELECT doc_id, rank_text FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id)
                           AS rank_text
                FROM scored
            ) WHERE rank_text <= {HY_POOL}
        ),
        vvec AS (
            SELECT vec_id,
                   list_transform(embedding, x -> x::DOUBLE) AS emb,
                   sqrt({dot_fold_sql('embedding', 'embedding', EMB_DIM)}) AS nrm
            FROM embeddings
        ),
        vq AS (SELECT emb AS q_emb, nrm AS q_nrm FROM vvec
               WHERE vec_id = {HY_QUERY_VEC}),
        vscored AS (
            SELECT v.vec_id AS doc_id,
                   {round6_sql(cos)} AS score
            FROM vvec v, vq WHERE v.vec_id <> {HY_QUERY_VEC}
        ),
        vrank AS (
            SELECT doc_id, rank_vec FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id)
                           AS rank_vec
                FROM vscored
            ) WHERE rank_vec <= {HY_POOL}
        ),
        fused AS (
            SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
                   coalesce(b.rank_text, 0) AS rank_text,
                   coalesce(v.rank_vec, 0) AS rank_vec,
                   {round6_sql(
                       f"(CASE WHEN coalesce(b.rank_text, 0) > 0 "
                       f"THEN 1.0 / ({RRF_K} + b.rank_text) ELSE 0.0 END) + "
                       f"(CASE WHEN coalesce(v.rank_vec, 0) > 0 "
                       f"THEN 1.0 / ({RRF_K} + v.rank_vec) ELSE 0.0 END)"
                   )} AS rrf
            FROM brank b FULL OUTER JOIN vrank v ON b.doc_id = v.doc_id
        )
        SELECT rank, doc_id, rrf, rank_text, rank_vec FROM (
            SELECT doc_id, rrf, rank_text, rank_vec,
                   row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
            FROM fused
        ) WHERE rank <= {HY_K} ORDER BY rank
    """
    )


ORACLE_SQL["bm25_retrieval"] = _bm25_sql()
ORACLE_SQL["hybrid_retrieval"] = _hybrid_sql()

QUERIES = {
    "inverted_index": inverted_index,
    "boolean_retrieval": boolean_retrieval,
    "boolean_retrieval_persisted": boolean_retrieval_persisted,
    "tfidf_retrieval": tfidf_retrieval,
    "bm25_retrieval": bm25_retrieval,
    "hybrid_retrieval": hybrid_retrieval,
}
