"""Text analytics (reference a0/a1/a2: word count, PerfectX,
bigram relative frequency, PMI pairs & stripes).

The reference implements these as MapReduce jobs with in-mapper
combining, custom partitioners, and the order-inversion pattern
(marginal `(A,*)` keys sorted before `(A,B)` so a stateful reducer
can divide). All of that machinery collapses into declarative
DataFrame plans:

- partial aggregation replaces combiners (automatic),
- window functions (`sum over (partition by a)`) replace
  order-inversion + custom partitioner,
- array-side pair generation (chained explodes over each document's
  windowed distinct-token array) replaces the pairs/stripes shuffle
  multiplexing.

Scale notes (100 TB corpus):
- Tokenization is pure built-in expressions → whole-stage codegen,
  no Python in the hot path.
- PMI pair generation is document-local (≤40 tokens after the
  reference's window truncation, so ≤40×39 ordered pairs per doc)
  and runs as two chained explodes inside the scan stage — no
  doc_id self-join, no corpus-sized exchange before the (a, b) pair
  aggregate itself (see _cooc_pairs).
- Unigram counts are a vocabulary-sized aggregate, joined into the
  pair counts UNhinted: AQE broadcasts them from measured stats while
  the vocabulary is small and falls back to a shuffled join when it
  is not (word vocabulary never stops growing on web text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import tokenize, tokenize_sql
from ..session import fan_out
from ..sources.maintenance import artifact_checkpoint
from ..functions.portable import (
    HASH_P,
    affine_perms,
    let_col,
    poly_hash,
    poly_hash_py,
    poly_hash_sql,
)

PERFECT_MARKER = "spark"  # reference marker word is "perfect" (a0/PerfectX.java:61-72)
PMI_WINDOW = 40  # first-40-tokens truncation, a1/PairsPMI.java:58
PMI_THRESHOLD = 10  # co-occurrence count threshold, a1/PairsPMI.java:197-203

_TOKS_SQL = tokenize_sql("text")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the HOF token projections below must not run on one
    # input split (small local scans arrive as a single partition)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", tokenize("text").alias("toks"))


def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency over the corpus.

    Reference: a0/WordCount.java:53-118 (MR with in-mapper
    combining). Spark: explode + groupBy; the partial hash aggregate
    IS the in-mapper combiner.
    """
    return (
        _tokens(spark, sf_dir)
        .select(F.explode("toks").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy("word")
    )


def perfectx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts of words that immediately follow the marker word.

    Reference: a0/PerfectX.java:61-72 — sequential scan flagging
    successor tokens. Spark: successors are extracted ARRAY-SIDE
    (adjacent positions of the token array) and only then exploded —
    no shuffle of the token stream at all, where a lag-window
    formulation would exchange+sort every token by doc_id first. The
    only shuffle left is the final tiny (word, cnt) aggregate.
    """
    succs = let_col(
        tokenize("text"),
        lambda toks: F.filter(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.when(a == PERFECT_MARKER, b),
            ),
            lambda x: x.isNotNull(),
        ),
    )
    # fan_out: the HOF token projections below must not run on one
    # input split (small local scans arrive as a single partition)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(succs).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy("word")
    )


def _bigram_pairs():
    """Array-side adjacent-bigram expression over ``text`` (W1) —
    shared by bigram_relative_frequency and doc_perplexity."""
    return let_col(
        tokenize("text"),
        lambda toks: F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
    )


def bigram_relative_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(b | a) for consecutive token bigrams.

    Reference: a2/ComputeBigramRelativeFrequencyPairs.scala:55-84 —
    emits (a,b) and marginal (a,*), custom partitioner on `a`,
    stateful divide in sorted order (order-inversion). Spark: count
    bigrams, then `sum(cnt) over (partition by a)` — the window
    aggregate replaces the entire marginal/partitioner/sort dance.

    Bigrams are formed ARRAY-SIDE (zip_with over adjacent slices of
    the token array) instead of a lead-window over posexploded
    tokens: that removes the exchange+sort of the full token stream
    by doc_id — at corpus scale the dominant shuffle. The remaining
    shuffles touch only (a, b, cnt) aggregates (vocabulary-sized).
    """
    # fan_out: the HOF token projections below must not run on one
    # input split (small local scans arrive as a single partition)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    bigrams = (
        docs.select(F.explode(_bigram_pairs()).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("cnt"))
    )
    wa = Window.partitionBy("a")
    return (
        bigrams.withColumn(
            "rel_freq", F.round(F.col("cnt") / F.sum("cnt").over(wa), 6)
        )
        .orderBy("a", "b")
    )


def _doc_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct tokens within the first PMI_WINDOW tokens per doc
    (reference F7 truncation + A10 within-line dedup)."""
    return _tokens(spark, sf_dir).select(
        "doc_id",
        F.array_distinct(F.slice("toks", 1, PMI_WINDOW)).alias("toks"),
    )


def _cooc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded co-occurrence pair counts (a, b, cnt) — the shared
    core of pmi_pairs and pmi_stripes.

    The pair set is purely document-local (≤ 40×39 ordered pairs
    after the window truncation), so it is generated ARRAY-SIDE, never
    by a doc_id self-join of the token stream: the first (and only
    corpus-sized) shuffle is the (a, b) pair aggregate itself.
    Generation is two chained explodes (doc's distinct array → `a`
    rows → partner `b` rows), not one nested transform+flatten: both
    are shuffle-free single-stage Generates, but the nested form
    materializes a ≤ 40×39-element array of structs per document
    before exploding it (~0.25 s slower at sf0.1), and the chained
    form streams pairs without that array. The rows are all ordered pairs (a, b), a ≠ b, of
    each document's windowed distinct tokens."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            F.array_distinct(F.slice(tokenize("text"), 1, PMI_WINDOW)).alias(
                "t"
            )
        )
        .select(F.explode("t").alias("a"), "t")
        .select(
            "a",
            F.explode(F.filter("t", lambda b: b != F.col("a"))).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= PMI_THRESHOLD)
    )


def pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information for co-occurring token pairs.

    PMI(a,b) = log10(cnt(a,b) * N / (cnt(a) * cnt(b))), counted at
    document granularity over the 40-token window, pairs emitted in
    both directions, threshold on pair count.

    Reference: a1/PairsPMI.java (two chained MR jobs with an HDFS
    side-file reload in the reducer) and a2/PairsPMI.scala:60-99
    (collectAsMap + broadcast). Spark-first: one DAG — pair counts
    generated array-side by chained explodes (_cooc_pairs), unigram
    counts broadcast-joined in, log10 expression. N counts all docs
    (the Spark reference's `count()` semantics, a2/PairsPMI.scala:60).

    N is computed IN-PLAN as a 1-row count(*) aggregate broadcast-
    cross-joined into the PMI projection (the same pattern as the
    PageRank mass audit) — not a separate driver action, which would
    re-scan and re-tokenize the whole corpus before the main DAG.
    On the parquet path the count(*) side reads only footers (zero
    columns), so at 100 TB it is metadata-traffic, not a second data
    pass. (On the text-format fallback path a count(*) is a full CSV
    scan — the footer-only economy is parquet's.)
    """
    toks = _doc_distinct_tokens(spark, sf_dir)
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count("*").cast("double").alias("n_docs"))
    )
    exploded = toks.select("doc_id", F.explode("toks").alias("word"))
    unigram = exploded.groupBy("word").agg(F.count("*").alias("wcnt"))
    # Pair counts: array-side generation, no doc_id self-join (see
    # _cooc_pairs).
    pairs = _cooc_pairs(spark, sf_dir)
    # unigram is word-vocabulary-sized — bounded on this corpus, but
    # unbounded on a 100 TB crawl (Heaps' law never flattens over web
    # text), so no broadcast HINT: AQE broadcasts from measured
    # post-shuffle stats while the vocabulary is small and falls back
    # to a shuffled join when it is not (the reference's in-mapper
    # side table, a1 PairsPMI setup(), carries the same corpus-growth
    # assumption this removes).
    # Both lookups join the SAME unigram frame (aliased, not
    # re-projected), so ReuseExchange serves the second join from the
    # first's exchange: one unigram pass, not two. Per-side renames
    # (word→a / word→b) would make the two broadcast subplans
    # canonically different, and each join would re-scan and
    # re-tokenize the corpus to rebuild the identical vocabulary.
    ua, ub = unigram.alias("ua"), unigram.alias("ub")
    return (
        pairs.join(ua, F.col("a") == F.col("ua.word"))
        .join(ub, F.col("b") == F.col("ub.word"))
        .select(
            "a",
            "b",
            "cnt",
            F.col("ua.wcnt").alias("cnt_a"),
            F.col("ub.wcnt").alias("cnt_b"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "a",
            "b",
            # + 0.0 canonicalizes the sign of zero: Spark's round()
            # (BigDecimal) loses -0.0 while DuckDB's keeps it, so a
            # pair whose log-ratio rounds to zero from below hashed
            # '0.0' vs '-0.0' at the driver (observed at sf0.001).
            (
                F.round(
                    F.log10(
                        F.col("cnt") * F.col("n_docs")
                        / (F.col("cnt_a") * F.col("cnt_b"))
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("pmi"),
            "cnt",
        )
        .orderBy("a", "b")
    )


def pmi_stripes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stripes form of the co-occurrence counts: one row per word
    with its sorted neighbor:count stripe.

    Reference: a1/StripesPMI.java:107-163 (HMapStFW map-valued
    stripes merged in the reducer). Spark: a grouped DataFrame IS
    the stripe; rendered as a canonical string so the DuckDB oracle
    can hash-compare it (MapType doesn't round-trip through the
    driver compare).
    """
    pairs = _cooc_pairs(spark, sf_dir)
    stripe = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("b"), F.col("cnt")))),
            lambda x: F.concat_ws(":", x["b"], x["cnt"].cast("string")),
        ),
    )
    return (
        pairs.groupBy("a").agg(stripe.alias("stripe")).orderBy("a")
    )


_PMI_PAIRS_CTE = f"""
    WITH toks AS (
        SELECT doc_id,
               list_distinct(list_slice({_TOKS_SQL}, 1, {PMI_WINDOW})) AS toks
        FROM documents
    ),
    exploded AS (SELECT doc_id, unnest(toks) AS word FROM toks),
    unigram AS (SELECT word, count(*) AS wcnt FROM exploded GROUP BY word),
    pairs AS (
        SELECT x.word AS a, y.word AS b, count(*) AS cnt
        FROM exploded x JOIN exploded y USING (doc_id)
        WHERE x.word <> y.word
        GROUP BY x.word, y.word
        HAVING count(*) >= {PMI_THRESHOLD}
    )
"""

LM_K = 0.5  # add-k smoothing mass per continuation type


def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM surprisal — quality scoring by corpus
    language model, the probabilistic sibling of doc_quality's
    heuristics: surprisal(doc) = mean over the doc's adjacent bigrams
    of −log10 P(b|a), with add-k smoothing
    P(b|a) = (c(a,b)+k) / (c(a,·)+k·V)  (k = LM_K, V = continuation
    vocabulary). Low = fluent under the corpus LM, high = anomalous —
    the filter large-corpus pipelines run with an external LM; here
    the corpus is its own LM (one extra aggregation, zero extra
    inputs).

    Determinism (the FP-summation trap every naive avg() has): each
    bigram's surprisal is quantized to exact INTEGER micro-units
    (floor(x·10⁶+½) as BIGINT) BEFORE the per-doc aggregation, so the
    sum is order-free integer addition on both engines; the final
    mean divides two exact integers. log10 inputs are identical
    integer-derived doubles (the pmi_pairs precedent).

    Scale: the LM is a vocab²-bounded partial aggregate; doc bigrams
    equi-join it on the bigram key (one shuffle each side — at
    production scale the LM prunes to top-M entries + a backoff
    constant, same plan with a broadcast LM). Bigram formation is
    array-side (W1) — the token stream itself never shuffles.

    The continuation vocabulary V comes from the (vocab²-bounded) LM
    itself, not a second corpus-wide count_distinct aggregate:
    distinct b over lm ≡ distinct b over the bigram stream, so the
    query makes one corpus pass fewer. Two rewrites of the occurrence
    pipeline itself measured slower (numbers in OPTIMIZATION_r12.md):
    per-document run-length-encoded distinct
    counts (sorting the bigram struct array per doc cost more than
    every downstream saving, 2.60 → 2.76-3.51 s at sf0.1) and a
    groupBy(doc_id, a, b) pre-aggregate (adds the corpus-sized
    exchange this plan exists to avoid — the LM joins broadcast, so
    the occurrence stream never shuffles at all)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # Materialized once: the LM aggregation and the scoring join both
    # read the exploded bigram stream — without this the
    # tokenize+explode runs twice over the corpus.
    doc_big = (
        docs.select("doc_id", F.explode(_bigram_pairs()).alias("p"))
        .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .transform(artifact_checkpoint)
    )
    lm = doc_big.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    lm_a = lm.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    vocab = lm.agg(F.count_distinct("b").alias("v"))
    p = (F.col("c_ab") + F.lit(LM_K)) / (
        F.col("c_a") + F.lit(LM_K) * F.col("v")
    )
    unit = F.floor(-F.log10(p) * 1e6 + F.lit(0.5)).cast("long")
    from ..functions.portable import round6

    return (
        doc_big.join(lm, ["a", "b"])
        .join(lm_a, "a")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", unit.alias("u"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("u").alias("su"))
        .select(
            "doc_id",
            "n_bigrams",
            round6(F.col("su") / F.col("n_bigrams") / 1e6).alias("surprisal"),
        )
        .sortWithinPartitions("doc_id")
    )


ORACLE_SQL: dict[str, str] = {
    "wordcount": f"""
        WITH toks AS (SELECT {_TOKS_SQL} AS toks FROM documents)
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(toks) AS word FROM toks)
        GROUP BY word ORDER BY word
    """,
    "perfectx": f"""
        WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        pos AS (
            SELECT doc_id, unnest(toks) AS word,
                   generate_subscripts(toks, 1) AS pos
            FROM toks
        )
        SELECT b.word AS word, count(*) AS cnt
        FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE a.word = '{PERFECT_MARKER}'
        GROUP BY b.word ORDER BY word
    """,
    "bigram_relative_frequency": f"""
        WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        pos AS (
            SELECT doc_id, unnest(toks) AS word,
                   generate_subscripts(toks, 1) AS pos
            FROM toks
        ),
        bigrams AS (
            SELECT x.word AS a, y.word AS b, count(*) AS cnt
            FROM pos x JOIN pos y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
            GROUP BY x.word, y.word
        )
        SELECT a, b, cnt,
               round(cnt / (sum(cnt) OVER (PARTITION BY a)), 6) AS rel_freq
        FROM bigrams ORDER BY a, b
    """,
    "pmi_pairs": _PMI_PAIRS_CTE
    + """
        SELECT a, b,
               -- + 0.0: canonicalize -0.0 (see pmi_pairs presentation)
               round(log10(cnt * (SELECT count(*) FROM documents)::DOUBLE
                     / (ua.wcnt * ub.wcnt)), 4) + 0.0 AS pmi,
               cnt
        FROM pairs
        JOIN unigram ua ON ua.word = a
        JOIN unigram ub ON ub.word = b
        ORDER BY a, b
    """,
    "pmi_stripes": _PMI_PAIRS_CTE
    + """
        SELECT a, string_agg(b || ':' || cnt, ',' ORDER BY b, cnt) AS stripe
        FROM pairs GROUP BY a ORDER BY a
    """,
}

CMS_EPS = 0.0001  # over-estimate bound: approx ≤ exact + eps·N
CMS_CONF = 0.99  # per-term confidence of the bound
CMS_SEED = 42
# Declared probe terms — a sketch is queried, never enumerated, so
# the probe list is part of the operator contract (the events_pivot
# declared-domain rule).
CMS_PROBES = ("data", "hash", "query", "spark", "table", "the")


def token_freq_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequencies for the declared probe terms via a
    Count-Min sketch — the FREQUENCY member of the sketch triad
    (q9b's quantile sketch, user_reach's HLL cardinality sketch):
    the 100 TB shape for frequency questions over a key space too
    large to hash-aggregate exactly.

    Plan: one pass builds the sketch as a typed imperative aggregate —
    state is a FIXED width×depth counter grid (O(1/eps · ln(1/conf)),
    independent of vocabulary), partial sketches merge map-side and at
    the exchange exactly like the HLL registers. The collected sketch
    is probed driver-side for the declared terms (O(depth) per probe
    via the JVM CountMinSketch reader). Rows-only at the driver
    (sketch counters are seed/merge-order specific); correctness =
    the CMS guarantee pinned in tests: exact ≤ approx ≤ exact + eps·N
    per probe, against the oracle-green wordcount."""
    toks = _tokens(spark, sf_dir)
    row = (
        toks.select(F.explode("toks").alias("w"))
        .agg(
            F.count_min_sketch(
                "w", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
            ).alias("sketch")
        )
        .collect()[0]
    )
    jvm = spark._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(row.sketch))
    )
    probes = [(t, int(cms.estimateCount(t))) for t in CMS_PROBES]
    return spark.createDataFrame(
        probes, "term string, approx_cnt long"
    ).orderBy("term")


# Portable Count-Min grid (token_freq_cms): CMS_DEPTH independent
# affine rows over the repo's poly hash, CMS_WIDTH columns each. The
# grid is pure integer state, so unlike the engine-internal JVM
# register above it is bit-reproducible across engines — the one
# member of the sketch triad whose state a plain GROUP BY can rebuild.
# Guarantee (standard CMS): estimates never under-count, and
# P[est > exact + e·N/width] ≤ e^-depth per probe (pinned in tests
# against the oracle-green wordcount).
CMS_WIDTH = 1024
CMS_DEPTH = 4
_CMS_PERMS = affine_perms(CMS_DEPTH, seed=11)


def token_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequencies for the declared probe terms via a PORTABLE
    Count-Min sketch — the hash-gated twin of token_freq_sketch: the
    same fixed-size-state shape (a CMS_DEPTH×CMS_WIDTH counter grid,
    O(1) in the vocabulary), but built from the repo's own affine
    hashes over poly_hash instead of the JVM's seed-opaque register,
    so the DuckDB oracle rebuilds the grid bit-identically with a
    plain GROUP BY and the driver hash-gates the estimates.

    Plan: explode tokens → CMS_DEPTH (row, col) cells per token
    (array-side, the poly hash bound ONCE via let_col) → one
    groupBy(row, col) count. The partial hash aggregate is the sketch
    property made declarative: every task's state collapses to at
    most depth·width cells before the exchange — map-side partial
    merge of fixed-size sketches, exactly how the JVM register
    shuffles — so the exchange moves O(grid) bytes at ANY corpus
    size. Probes: the declared terms' grid coordinates are Python-
    computed constants (poly_hash_py — a sketch is queried, never
    enumerated); the ≤ depth·width-row grid broadcasts into a left
    join and min-per-term finishes the CMS read. Missing cells read
    as 0 (no token ever hashed there)."""
    toks = _tokens(spark, sf_dir)
    cells = let_col(
        poly_hash(F.col("word")),
        lambda h: F.array(
            *[
                F.struct(
                    F.lit(d).alias("r"),
                    ((F.lit(a) * h + F.lit(b)) % HASH_P % CMS_WIDTH)
                    .cast("int")
                    .alias("c"),
                )
                for d, (a, b) in enumerate(_CMS_PERMS)
            ]
        ),
    )
    grid = (
        toks.select(F.explode("toks").alias("word"))
        .select(F.explode(cells).alias("cell"))
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.c").alias("c"))
        .agg(F.count("*").alias("cnt"))
    )
    probes = spark.createDataFrame(
        [
            (t, d, (a * poly_hash_py(t) + b) % HASH_P % CMS_WIDTH)
            for t in CMS_PROBES
            for d, (a, b) in enumerate(_CMS_PERMS)
        ],
        "term string, r int, c int",
    )
    return (
        probes.join(F.broadcast(grid), ["r", "c"], "left")
        .groupBy("term")
        .agg(
            F.min(F.coalesce("cnt", F.lit(0).cast("long"))).alias("approx_cnt")
        )
        .orderBy("term")
    )


def _cms_oracle_sql() -> str:
    """The identical grid rebuilt in DuckDB: same tokenizer, same
    poly hash, same affine (row, col) cells, one GROUP BY — integer
    counts, so the estimates hash-match exactly. The hash CTE is
    MATERIALIZED: each of the CMS_DEPTH cell selects rescans it, and
    an inlined CTE would re-run the per-character fold per scan."""
    cell_selects = "\n        UNION ALL ".join(
        f"SELECT {d} AS r, (({a}::BIGINT * h + {b}::BIGINT) % {HASH_P})"
        f" % {CMS_WIDTH} AS c FROM h"
        for d, (a, b) in enumerate(_CMS_PERMS)
    )
    probe_values = ", ".join(
        f"('{t}', {d}, {(a * poly_hash_py(t) + b) % HASH_P % CMS_WIDTH})"
        for t in CMS_PROBES
        for d, (a, b) in enumerate(_CMS_PERMS)
    )
    return f"""
        WITH w AS (
            SELECT unnest({_TOKS_SQL}) AS word FROM documents
        ),
        h AS MATERIALIZED (SELECT {poly_hash_sql('word')} AS h FROM w),
        cells AS ({cell_selects}),
        grid AS (SELECT r, c, count(*) AS cnt FROM cells GROUP BY r, c),
        probes(term, r, c) AS (VALUES {probe_values})
        SELECT term, min(coalesce(cnt, 0))::BIGINT AS approx_cnt
        FROM probes LEFT JOIN grid USING (r, c)
        GROUP BY term ORDER BY term
    """


ORACLE_SQL["doc_perplexity"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    pos AS (
        SELECT doc_id, unnest(toks) AS word,
               generate_subscripts(toks, 1) AS pos
        FROM toks
    ),
    bg AS (
        SELECT x.doc_id, x.word AS a, y.word AS b
        FROM pos x JOIN pos y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
    ),
    lm AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b),
    lma AS (SELECT a, sum(c_ab) AS c_a FROM lm GROUP BY a),
    v AS (SELECT count(DISTINCT b) AS v FROM bg),
    units AS (
        SELECT doc_id,
               floor(-log10((c_ab + {LM_K}) / (c_a + {LM_K} * v))
                     * 1000000 + 0.5)::BIGINT AS u
        FROM bg JOIN lm USING (a, b) JOIN lma USING (a) CROSS JOIN v
    )
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           (floor(sum(u) / count(*) / 1000000 * 1000000 + 0.5)
            / 1000000) AS surprisal
    FROM units GROUP BY doc_id ORDER BY doc_id
"""


QUERIES = {
    "wordcount": wordcount,
    "perfectx": perfectx,
    "bigram_relative_frequency": bigram_relative_frequency,
    "pmi_pairs": pmi_pairs,
    "pmi_stripes": pmi_stripes,
    "doc_perplexity": doc_perplexity,
    "token_freq_sketch": token_freq_sketch,
    "token_freq_cms": token_freq_cms,
}

ORACLE_SQL["token_freq_cms"] = _cms_oracle_sql()
