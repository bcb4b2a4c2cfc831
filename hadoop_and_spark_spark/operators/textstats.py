"""Text-analysis operators over ``documents`` (SURVEY §7 M7).

The per-document scoring passes a large-scale training-data pipeline
runs before filtering/sampling:

- ``langid_heuristic``  — n-gram/stopword-hit language ID over a small
  per-language lexicon; argmax with deterministic alphabetical
  tie-break, 'und' when nothing hits. (The testdata's ``lang`` column
  is random metadata, not derivable from the synthetic text — it is
  carried through as ``lang_meta`` for inspection, never used.)
- ``doc_quality``       — length / distinct-ratio / stopword-ratio /
  alnum-ratio features and a composite quality score.
- ``token_stats``       — whitespace token count vs a BPE-ish regex
  token count ([a-z]+ | digit runs | single punctuation), plus
  chars-per-token.
- ``winnow_fingerprint``— winnowing document fingerprints (Schleimer
  et al., SIGMOD'03): rolling poly-hash over char 8-grams, min-hash
  per sliding window of 4, distinct sorted mins as the fingerprint.

The first three are pure built-in-function projections — no UDFs, and
no shuffle at scale (the round-robin fan-out disappears once the scan
has enough input splits; output order is within-partition only — a
global sort of a corpus-sized output would add a full range-partition
shuffle for presentation) — so they run at scan speed inside
whole-stage codegen.
``winnow_fingerprint`` is the measured exception: its nested
higher-order functions execute interpreted, so it ships as an
Arrow-batched numpy kernel instead (2.6× faster at sf0.1), with the
expression form retained as the differential-test reference. Hashing
reuses ``functions.portable`` so the DuckDB oracle reproduces values
bit-identically.

Reference parity: tokenizer semantics from bespin Tokenizer
(a0/WordCount.java:19); everything else is new surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import tokenize, tokenize_sql
from ..session import fan_out, fan_out_local_sorted
from ..functions.portable import (
    HASH_P,
    array_runs,
    let_col,
    poly_hash,
    poly_hash_sql,
    round6,
    round6_sql,
)

STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "zu", "den", "von", "ist"),
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "y", "que", "los", "en", "es"),
    "fr": ("le", "la", "les", "de", "et", "des", "un", "est"),
    "zh": ("de5", "le5", "shi4", "bu4"),  # romanized placeholders
}
_LANGS = sorted(STOPWORDS)  # deterministic tie-break order

BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"
FP_K = 8  # char k-gram size
FP_W = 4  # winnowing window

_TOKS_SQL = tokenize_sql("text")


def _hits(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def _hits_sql(toks_expr: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks_expr}, t -> list_contains([{lst}], t)))"


def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID: count per-language lexicon hits over
    the tokens, pick the max (alphabetical tie-break, 'und' if 0)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    hit_cols = [_hits(toks, STOPWORDS[lang]).alias(f"h_{lang}") for lang in _LANGS]
    # Sort the narrow scan first: orderBy after the projection would
    # re-execute the lexicon scoring in the range-sampling pass.
    scored = fan_out_local_sorted(
        docs.select("doc_id", F.col("lang").alias("lang_meta"), "text"),
        "doc_id",
    ).select("doc_id", "lang_meta", *hit_cols)
    mx = F.greatest(*[F.col(f"h_{lang}") for lang in _LANGS])
    pred = F.when(mx == 0, "und")
    for lang in _LANGS:
        pred = pred.when(F.col(f"h_{lang}") == mx, lang)
    return scored.select(
        "doc_id",
        "lang_meta",
        pred.alias("lang_pred"),
        mx.alias("hits"),
    )


def quality_features() -> Column:
    """The doc_quality feature struct (n_chars, n_tokens, the three
    ratios, composite quality) over a ``text`` column, as ONE
    substitution-safe expression — the single definition of the
    quality semantics, shared by doc_quality and the capstone
    pipeline's fused gate scan (corpus_training_set filters on
    ``quality_features()["quality"]`` so both gates ride one scan)."""
    n_chars = F.length("text").cast("double")
    alnum = F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9]", "")).cast(
        "double"
    )
    return let_col(
        tokenize("text"),
        lambda toks: let_col(
            F.struct(
                n_chars.alias("n_chars"),
                F.size(toks).cast("double").alias("n_tokens"),
                round6(
                    F.size(F.array_distinct(toks)).cast("double")
                    / F.greatest(F.size(toks).cast("double"), F.lit(1.0))
                ).alias("distinct_ratio"),
                round6(
                    _hits(toks, STOPWORDS["en"]).cast("double")
                    / F.greatest(F.size(toks).cast("double"), F.lit(1.0))
                ).alias("stopword_ratio"),
                round6(alnum / F.greatest(n_chars, F.lit(1.0))).alias(
                    "alnum_ratio"
                ),
            ),
            lambda r: F.struct(
                r["n_chars"].alias("n_chars"),
                r["n_tokens"].alias("n_tokens"),
                r["distinct_ratio"].alias("distinct_ratio"),
                r["stopword_ratio"].alias("stopword_ratio"),
                r["alnum_ratio"].alias("alnum_ratio"),
                round6(
                    0.4 * F.least(r["n_tokens"] / 100.0, F.lit(1.0))
                    + 0.3 * r["distinct_ratio"]
                    + 0.2 * F.least(r["stopword_ratio"] * 5.0, F.lit(1.0))
                    + 0.1 * r["alnum_ratio"]
                ).alias("quality"),
            ),
        ),
    )


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + composite score per document.

    The whole feature row (ratios AND the composite score) is built
    inside one let_col binding of the token array: a downstream filter
    on ``quality`` (corpus_training_set's gate) is pushed through the
    projection by unconditional alias substitution, and with plain
    column references the substituted predicate would re-evaluate
    tokenize(text) once per ratio (~5× per row, measured on the
    adversarial sweep's multi-MB documents). With the binding the
    pushed predicate evaluates tokenize exactly once per row."""
    docs = load_table(spark, sf_dir, "documents")
    return fan_out_local_sorted(
        docs.select("doc_id", "text"), "doc_id"
    ).select("doc_id", quality_features().alias("f")).select(
        "doc_id",
        F.col("f.n_chars").alias("n_chars"),
        F.col("f.n_tokens").alias("n_tokens"),
        F.col("f.distinct_ratio").alias("distinct_ratio"),
        F.col("f.stopword_ratio").alias("stopword_ratio"),
        F.col("f.alnum_ratio").alias("alnum_ratio"),
        F.col("f.quality").alias("quality"),
    )


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish token counts and chars-per-token."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), 0))
    return fan_out_local_sorted(
        docs.select("doc_id", "text"), "doc_id"
    ).select(
        "doc_id",
        F.length("text").alias("n_chars"),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        round6(
            F.length("text").cast("double")
            / F.greatest(ws.cast("double"), F.lit(1.0))
        ).alias("chars_per_token"),
    )


def winnow_fp_expr() -> Column:
    """Pure-expression winnowing fingerprint (sorted distinct window
    mins as ARRAY<BIGINT>). Kept as the declarative reference for the
    Arrow kernel below — tests diff the two on adversarial strings —
    and as the template the DuckDB oracle SQL mirrors.

    let-bound pipeline (gram hashes → window mins) so CollapseProject
    cannot re-inline the hash array into every window (see let_col).
    """
    grams = let_col(
        F.transform(F.split(F.col("text"), ""), lambda ch: F.ascii(ch).cast("long")),
        lambda codes: F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(codes) - (FP_K - 1), F.lit(1))
            ),
            lambda i: F.aggregate(
                F.slice(codes, i, FP_K),
                F.lit(0).cast("long"),
                lambda acc, x: (acc * 31 + x) % HASH_P,
            ),
        ),
    )
    return let_col(
        grams,
        lambda hs: let_col(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(hs) - (FP_W - 1), F.lit(1))),
                lambda i: F.array_min(F.slice(hs, i, FP_W)),
            ),
            lambda wins: F.array_sort(F.array_distinct(wins)),
        ),
    )


def _winnow_doc(text: str) -> "np.ndarray":
    """Vectorized winnowing of one document; bit-identical to
    winnow_fp_expr (verified on edge cases in tests/test_textstats.py):
    UTF-32 decode == split('')+ascii code points, '' == [0], strings
    shorter than FP_K fold to a single whole-string gram, gram lists
    shorter than FP_W take one min over the whole list.
    """
    import numpy as np

    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    n = len(codes)
    if n == 0:
        codes, n = np.zeros(1, dtype=np.int64), 1
    m = n - FP_K + 1
    if m < 1:
        acc = 0
        for c in codes.tolist():
            acc = (acc * 31 + c) % HASH_P
        grams = np.array([acc], dtype=np.int64)
    else:
        grams = np.zeros(m, dtype=np.int64)
        for j in range(FP_K):
            grams = (grams * 31 + codes[j : j + m]) % HASH_P
    if len(grams) >= FP_W:
        wins = np.lib.stride_tricks.sliding_window_view(grams, FP_W).min(axis=1)
    else:
        wins = grams.min(keepdims=True)
    return np.unique(wins)


def winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint: poly-hash every char FP_K-gram, take the
    min of each FP_W-wide sliding window, dedupe+sort the mins.

    Runs as an Arrow-batched mapInPandas kernel, not the expression
    in winnow_fp_expr: Catalyst executes nested higher-order functions
    (transform/aggregate/slice) interpreted, outside whole-stage
    codegen, and the measured cost at sf0.1 was 5.9 s expression vs
    2.3 s kernel — the one case in this module where the "built-ins
    first" rule loses. The kernel is a pure projection (no shuffle,
    no state), so it scales embarrassingly-parallel with input splits.
    The narrow (doc_id, text) scan fans out round-robin before the
    kernel (a no-op once the scan has real input splits) and sorts
    within partitions only — corpus-sized output, so a global range
    sort would be a pure-presentation full shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            # NULL text propagates to NULL fingerprint — the same row
            # the expression twin (and the oracle's NULL arithmetic)
            # produces; '' is content and fingerprints as [hash('')].
            fps = [
                None if t is None else _winnow_doc(t) for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_fp": [None if f is None else len(f) for f in fps],
                    "fingerprint": [
                        None
                        if f is None
                        else ",".join(str(x) for x in f.tolist())
                        for f in fps
                    ],
                }
            )

    return fan_out_local_sorted(docs.select("doc_id", "text"), "doc_id").mapInPandas(
        kernel, "doc_id bigint, n_fp int, fingerprint string"
    )


def _langid_sql() -> str:
    hits = ", ".join(
        f"{_hits_sql(_TOKS_SQL, STOPWORDS[lang])} AS h_{lang}" for lang in _LANGS
    )
    mx = "greatest(" + ", ".join(f"h_{lang}" for lang in _LANGS) + ")"
    case = "CASE WHEN " + mx + " = 0 THEN 'und' "
    case += " ".join(
        f"WHEN h_{lang} = {mx} THEN '{lang}'" for lang in _LANGS
    )
    case += " END"
    return f"""
        WITH scored AS (
            SELECT doc_id, lang AS lang_meta, {hits} FROM documents
        )
        SELECT doc_id, lang_meta, {case} AS lang_pred, {mx} AS hits
        FROM scored ORDER BY doc_id
    """


_EN_SW_HITS = _hits_sql(_TOKS_SQL, STOPWORDS["en"])

# ------------------------------------------------------ corpus split

SPLIT_BUCKETS = 100
SPLIT_TRAIN_LT = 90  # bucket < 90 → train
SPLIT_VAL_LT = 95  # 90 ≤ bucket < 95 → val; rest → test


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment — the sampling step a
    training-data pipeline runs after filtering/dedup.

    The split key is a CONTENT hash (portable poly-hash of the first
    64 chars + '#' + length), not the doc id, so assignment survives
    re-sharding/re-iding of the corpus and stays reproducible across
    engines; bounding the hashed prefix keeps the per-row fold O(64)
    instead of O(doc length). Scan-bound projection with no shuffle
    at scale (fan-out is split-count-guarded; ordering is
    within-partition only; the higher-order hash fold runs
    interpreted — CodegenFallback — but bounded at 64 chars/row); at
    scale the split is a WHERE clause on this same expression (no
    materialization needed).
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    key = F.concat(
        F.substring("text", 1, 64), F.lit("#"), F.length("text").cast("string")
    )
    bucket = (poly_hash(key) % SPLIT_BUCKETS).cast("int")
    return (
        docs.select("doc_id", bucket.alias("bucket"))
        .withColumn(
            "split",
            # NULL text → NULL bucket → NULL split: a doc with no
            # content is unassignable, not silently parked in 'test'
            # (which would contaminate eval data with junk rows).
            F.when(F.col("bucket") < SPLIT_TRAIN_LT, "train")
            .when(F.col("bucket") < SPLIT_VAL_LT, "val")
            .when(F.col("bucket").isNotNull(), "test"),
        )
        .sortWithinPartitions("doc_id")
    )


_SPLIT_KEY_SQL = "substr(text, 1, 64) || '#' || length(text)::VARCHAR"

# --------------------------------------------------- stratified sample

SAMPLE_BUCKETS = 1000
# Per-language keep rates in thousandths (downsample dominant
# languages, keep more of the rare ones — the balancing step before
# training). Unlisted strata fall back to the default.
SAMPLE_RATES_K = {"en": 300, "zh": 800, "fr": 800}
SAMPLE_DEFAULT_K = 500


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a document iff its
    content-hash bucket falls below the stratum's rate — the corpus
    rebalancing step (by language here; by source/quality-band in a
    real pipeline) a training-data build runs after dedup.

    Unlike ``df.sampleBy`` (seeded Bernoulli whose draw depends on
    partitioning and engine), the keep decision is a pure function of
    document CONTENT — reproducible across engines (hence the DuckDB
    oracle), across runs, and across corpus re-sharding; the 'samp#'
    salt decorrelates sample buckets from corpus_split buckets so
    sampling doesn't bias the later train/val/test split. Scan-bound
    projection + filter, no shuffle; at scale this is a WHERE clause
    fused into whatever reads the corpus."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    key = F.concat(
        F.lit("samp#"),
        F.substring("text", 1, 64),
        F.lit("#"),
        F.length("text").cast("string"),
    )
    bucket = (poly_hash(key) % SAMPLE_BUCKETS).cast("int")
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(k))
            for lang, k in sorted(SAMPLE_RATES_K.items())
        ],
        F.lit(SAMPLE_DEFAULT_K),
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"), rate.alias("rate_k"))
        .where(F.col("bucket") < F.col("rate_k"))
        .sortWithinPartitions("doc_id")
    )


# ------------------------------------------------------ table profile

PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-profiling over the documents table: per column,
    null count, exact distinct count, and min/max (rendered as
    strings so one schema carries every column type) — the
    data-quality summary a pipeline checks before and after every
    transformation.

    Plan shape: ONE aggregation computes every metric (the
    multi-distinct plans through Spark's Expand — one row per
    distinct-column per input row — still a single pass over the
    scan), then a `stack` unpivots the 1-row result into one row per
    column: the unpivot touches 1 row, never the table. At 100 TB the
    exact distincts swap for approx_count_distinct (the
    user_reach_approx HLL pattern) and the Expand blowup disappears;
    exact is kept here because the driver hash needs cross-engine
    reproducible values."""
    docs = load_table(spark, sf_dir, "documents")
    aggs = [F.count("*").alias("n_rows")]
    for c in PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    one = docs.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in PROFILE_COLS
    )
    return (
        one.select(
            "n_rows",
            F.expr(
                f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
                "(col_name, n_nulls, n_distinct, min_str, max_str)"
            ),
        )
        .select("col_name", "n_rows", "n_nulls", "n_distinct", "min_str", "max_str")
        .orderBy("col_name")
    )


def _profile_sql() -> str:
    m = ["count(*) AS n_rows"]
    for c in PROFILE_COLS:
        m += [
            # ::BIGINT — DuckDB widens sum(BIGINT) to HUGEINT, which
            # pandas renders float64 and breaks the typed hash
            f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_{c}",
            f"count(DISTINCT {c}) AS nd_{c}",
            f"min({c})::VARCHAR AS mn_{c}",
            f"max({c})::VARCHAR AS mx_{c}",
        ]
    selects = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, n_rows, nn_{c} AS n_nulls, "
        f"nd_{c} AS n_distinct, mn_{c} AS min_str, mx_{c} AS max_str FROM m"
        for c in PROFILE_COLS
    )
    return f"WITH m AS (SELECT {', '.join(m)} FROM documents) {selects} ORDER BY col_name"


# ---------------------------------------------------------- PII scrub

# Patterns chosen for the Java-regex ∩ RE2 common dialect (no
# backrefs, no lookaround, ASCII \d in both) so Spark and the DuckDB
# oracle match/redact identically.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d\- ]{7,}\d"

from pathlib import Path as _Path  # noqa: E402 — fixture path helper

PII_FIXTURE = str(
    _Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "pii_docs.csv"
)


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass a training-data pipeline
    runs before anything ships: count and replace emails, IPv4
    addresses, and phone-shaped digit runs with typed placeholders.

    ``sf_dir`` is ignored: the driver's synthetic documents carry no
    PII-shaped strings (lowercase word salad, no digits), so the
    operator runs over the committed planted fixture — the
    region_event_count_geo / dedup_embedding_strict pattern. Counts
    are taken per-pattern on the ORIGINAL text; redaction chains
    email → IP → phone (phones can't span the dots of an IP, and
    placeholders contain no digits, so the chain is order-stable).
    Pure regex projection, scan-bound, shuffle-free (within-partition
    output order only) — at scale this fuses into the corpus scan
    like the other cleaning passes."""
    docs = spark.read.csv(
        PII_FIXTURE, sep="|", schema="doc_id bigint, text string"
    )
    n = lambda pat: F.size(F.regexp_extract_all("text", F.lit(pat), 0))  # noqa: E731
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL, "<EMAIL>"),
            PII_IP,
            "<IP>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return (
        docs.select(
            "doc_id",
            n(PII_EMAIL).alias("n_emails"),
            n(PII_IP).alias("n_ips"),
            n(PII_PHONE).alias("n_phones"),
            clean.alias("clean_text"),
        )
        .withColumn(
            "has_pii",
            (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")) > 0,
        )
        .sortWithinPartitions("doc_id")
    )


def _pii_sql() -> str:
    read = (
        f"read_csv('{PII_FIXTURE}', header=false, delim='|', "
        "columns={'doc_id': 'BIGINT', 'text': 'VARCHAR'})"
    )
    clean = (
        "regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{PII_EMAIL}', '<EMAIL>', 'g'), "
        f"'{PII_IP}', '<IP>', 'g'), "
        f"'{PII_PHONE}', '<PHONE>', 'g')"
    )
    return f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,
               len(regexp_extract_all(text, '{PII_IP}')) AS n_ips,
               len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phones,
               {clean} AS clean_text,
               (len(regexp_extract_all(text, '{PII_EMAIL}'))
                + len(regexp_extract_all(text, '{PII_IP}'))
                + len(regexp_extract_all(text, '{PII_PHONE}'))) > 0 AS has_pii
        FROM {read} ORDER BY doc_id
    """


# --------------------------------------------------- repetition filter

REP_MAX_DUP3 = 0.05  # max duplicate-word-trigram fraction
REP_MAX_TOP = 0.14  # max share of the single most frequent token


def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher-rules family):
    flag documents whose text is dominated by repeated n-grams or by
    a single token — the degenerate-content cut a training-data
    pipeline applies before dedup/sampling.

    Two signals per document:
    - ``dup3_ratio``  — fraction of word trigrams that are duplicates
      (1 − distinct/total), a pure array projection over the token
      array (no shuffle; docs shorter than 3 tokens fold to one
      whole-doc gram, ratio 0).
    - ``top_tok_share`` — count of the most frequent token over total
      tokens, as the LONGEST RUN of the sorted token array (equal
      tokens sort adjacent, so max run length = max frequency) — a
      pure O(n log n) array projection that never leaves the scan
      stage, at any vocabulary size. An explode → per-(doc, token)
      count → per-doc max/sum → join-back plan would shuffle every
      token occurrence twice and join on doc_id (3 Exchanges), and an
      O(distinct·n) filter-count form would scale with vocabulary.
    Thresholds sit at the corpus p90 so the keep flag actually splits
    the synthetic corpus. The whole operator is now one shuffle-free
    projection (the local round-robin fan-out aside) — at 100 TB it
    fuses into the corpus scan like the other cleaning passes.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", repetition_features().alias("f"))
        .select(
            "doc_id",
            F.col("f.n_tokens").alias("n_tokens"),
            F.col("f.dup3_ratio").alias("dup3_ratio"),
            F.col("f.top_tok_share").alias("top_tok_share"),
            F.col("f.keep").alias("keep"),
        )
        .sortWithinPartitions("doc_id")
    )


def repetition_features() -> Column:
    """The repetition_filter feature struct (n_tokens, dup3_ratio,
    top_tok_share, keep) over a ``text`` column, as ONE
    substitution-safe expression — the single definition of the
    repetition-gate semantics, shared by repetition_filter and the
    capstone pipeline's fused gate scan (corpus_training_set filters
    on ``repetition_features()["keep"]``)."""
    grams3 = lambda toks: F.transform(  # noqa: E731
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
    )

    def max_run(s):
        """Longest run length in a SORTED array = max frequency."""
        return F.array_max(F.transform(array_runs(s), lambda r: r["n"]))

    # The token array is bound ONCE as a let_col lambda variable, not
    # referenced as a projected column: a downstream filter on these
    # outputs (corpus_training_set's `where("keep")`) is pushed through
    # the projections by UNCONDITIONAL alias substitution, and a plain
    # column reference inside grams3's per-gram slice(toks, i, 3) would
    # inline tokenize(text) PER GRAM — O(n_grams · n_chars) per row, a
    # measured multi-hour stall on the adversarial sweep's multi-
    # million-token document. With the lambda binding the substituted
    # predicate still evaluates tokenize exactly once per row.
    # keep is computed INSIDE the struct (over the inner let-bound
    # ratios, so it costs no re-evaluation): corpus_training_set's
    # pushed `where("keep")` predicate is then ONE field reference —
    # one tokenize per row — where a keep derived from two output
    # columns would evaluate the whole struct once per conjunct.
    return let_col(
        tokenize("text"),
        lambda toks: let_col(
            F.struct(
                F.size(toks).alias("n_tokens"),
                # NULL text → NULL signals (greatest() IGNORES NULLs, so
                # the ungated gram sequence would fold a null doc to
                # dup3=0.0 and keep=true — junk kept by accident).
                F.when(
                    toks.isNotNull(),
                    let_col(
                        grams3(toks),
                        lambda g: round6(
                            1.0
                            - F.size(F.array_distinct(g)).cast("double")
                            / F.size(g).cast("double")
                        ),
                    ),
                ).alias("dup3_ratio"),
                # coalesce-to-0.0 is for genuinely token-free docs (''),
                # NOT for NULL text, which must stay NULL end to end.
                F.when(
                    toks.isNotNull(),
                    F.coalesce(
                        F.when(
                            F.size(toks) >= 1,
                            let_col(
                                F.array_sort(toks),
                                lambda s: round6(
                                    max_run(s).cast("double")
                                    / F.size(s).cast("double")
                                ),
                            ),
                        ),
                        F.lit(0.0),
                    ),
                ).alias("top_tok_share"),
            ),
            lambda r: F.struct(
                r["n_tokens"].alias("n_tokens"),
                r["dup3_ratio"].alias("dup3_ratio"),
                r["top_tok_share"].alias("top_tok_share"),
                (
                    (r["dup3_ratio"] <= REP_MAX_DUP3)
                    & (r["top_tok_share"] <= REP_MAX_TOP)
                ).alias("keep"),
            ),
        ),
    )


# ------------------------------------------------------- doc chunking

CHUNK_TOKENS = 32  # tokens per training chunk
CHUNK_STRIDE = 24  # chunk start stride (overlap = CHUNK_TOKENS - STRIDE)


def chunk_frame(docs: DataFrame, with_text: bool = True) -> DataFrame:
    """The X27 chunker over an ARBITRARY (doc_id, text) frame —
    factored out of doc_chunks so pipeline compositions
    (corpus_training_set) chunk a FILTERED corpus without restating
    the semantics. Emits (doc_id, chunk_id, start, n_chunk_tokens
    [, chunk_text]); ``with_text=False`` skips the concat_ws chunk
    rendering for consumers that only pack sizes — the token arrays
    still die before the explode, but no string payload is built at
    all.

    n_chunks = ceil(max(n − CHUNK, 0) / STRIDE) + 1, so every token is
    covered, only the final chunk may run short, and a document
    shorter than one chunk yields exactly one chunk. Plan: pure
    explode-over-sequence projection — chunk ids are generated
    per-row and the slice/concat runs after the explode; nothing
    shuffles. The ~CHUNK/STRIDE× output blowup is inherent to
    overlapped chunking, not a plan artifact."""
    n = F.size("toks")
    # Gate on non-null toks: greatest() IGNORES NULLs, so an ungated
    # n_chunks would fold a NULL-text doc to 1 phantom chunk; NULL
    # n_chunks → NULL sequence → explode emits no row (no content,
    # no chunks — the corpus-wide null contract).
    n_chunks = F.when(
        F.col("toks").isNotNull(),
        (
            F.ceil(
                F.greatest(n - CHUNK_TOKENS, F.lit(0))
                / F.lit(float(CHUNK_STRIDE))
            )
            + 1
        ).cast("int"),
    )
    # The slice runs INSIDE a transform over the chunk-id sequence, so
    # the generate's per-row payload is one chunk struct and the token
    # array dies before the explode. The naive alternative — explode
    # chunk ids first, slice after — makes every exploded row carry the
    # FULL document token array across the stage boundary:
    # O(n_tokens × n_chunks) bytes per document, a measured executor
    # OOM on a 2M-token document (83k chunks × ~20 MB each) caught by
    # the adversarial-corpus sweep.
    def chunk_struct(c):
        if with_text:
            return F.struct(
                F.size(c).alias("n"), F.concat_ws(" ", c).alias("t")
            )
        return F.struct(F.size(c).alias("n"))

    ex = docs.select("doc_id", tokenize("text").alias("toks")).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda cid: let_col(
                    F.slice("toks", cid * CHUNK_STRIDE + 1, CHUNK_TOKENS),
                    chunk_struct,
                ),
            )
        ).alias("chunk_id", "ch"),
    )
    cols = [
        F.col("doc_id"),
        F.col("chunk_id"),
        (F.col("chunk_id") * CHUNK_STRIDE + 1).alias("start"),
        F.col("ch.n").alias("n_chunk_tokens"),
    ]
    if with_text:
        cols.append(F.col("ch.t").alias("chunk_text"))
    return ex.select(*cols)


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking of the whole corpus — chunk_frame over
    the documents table; the sequence-preparation step between
    cleaning and tokenizer packing in an LLM data pipeline. At scale
    the presentation sort drops and this writes straight to the
    packed-sequence sink."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return chunk_frame(docs).sortWithinPartitions("doc_id", "chunk_id")


PACK_BUCKETS = 8  # packing parallelism; sequences never span buckets
SEQ_BUDGET = 512  # tokens per packed training sequence


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assign every document a slot in a fixed
    SEQ_BUDGET-token training sequence, the step between chunking
    (doc_chunks) and the tokenizer sink in an LLM data pipeline.

    Semantics: concat-then-split packing. Documents are laid end to
    end in deterministic (bucket, doc_id) order; a document belongs to
    the sequence where its FIRST token lands (seq_id =
    start_offset // SEQ_BUDGET), and the emitted offsets let the
    downstream slicer cut exact SEQ_BUDGET boundaries (straddling
    documents split across two sequences) as a pure projection — the
    GPT-style packing that wastes zero pad tokens, vs. bin-packing
    whole documents which needs per-bin state.

    Scale shape: packing is a running prefix sum, which is inherently
    sequential — so the corpus is first split into PACK_BUCKETS
    deterministic buckets (doc_id mod; sequences never span buckets)
    and the cumsum window runs PER BUCKET: embarrassingly parallel
    across buckets, one bounded-sorted partition each. PACK_BUCKETS is
    the parallelism knob and grows with the cluster (the
    heavy_users_topk salt argument); seq_ids are globally unique
    without coordination (bucket ⋅ 10⁹ + local id). All-integer
    arithmetic — no FP in the contract, so the oracle matches bit-for-
    bit."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    sized = docs.select(
        "doc_id",
        F.size(tokenize("text")).cast("long").alias("n_tokens"),
        (F.col("doc_id") % PACK_BUCKETS).cast("int").alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        sized.withColumn(
            "start_off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            "bucket",
            "doc_id",
            "n_tokens",
            "start_off",
            (
                F.col("bucket").cast("long") * F.lit(1_000_000_000)
                + F.floor(F.col("start_off") / SEQ_BUDGET)
            ).cast("long").alias("seq_id"),
        )
        .sortWithinPartitions("bucket", "doc_id")
    )


FEAT_BITS = 20
FEAT_DIM = 1 << FEAT_BITS  # 1,048,576-dim hashed feature space


def doc_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the "hashing trick"): each document's DISTINCT
    tokens map to a 2^FEAT_BITS-dim sparse binary feature space via
    the portable poly-hash — the text→ML bridge that turns the
    documents corpus into exactly the (docid, features ARRAY<INT>)
    shape the spam family (M1–M5) trains and scores on
    (a6/TrainSpamClassifier.scala:72-79's input contract).

    Pure codegen projection, no shuffle: hashing runs inside the
    token-array HOFs, collisions collapse via a post-hash distinct,
    and the sorted feature list renders as the canonical comma-joined
    string (driver-hashable scalars only). At 100 TB this is
    scan-bound and writes straight to the training sink; the fixed
    dimensionality is what makes the downstream model state bounded
    regardless of vocabulary growth."""
    from ..functions.portable import poly_hash

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    hashes = let_col(
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.array_distinct(tokenize("text")),
                    lambda t: poly_hash(t) % FEAT_DIM,
                )
            )
        ),
        lambda fs: F.struct(
            F.size(fs).alias("n"),
            # concat_ws coerces a NULL array to '' — gate so NULL text
            # yields (NULL, NULL), not a phantom empty feature string
            # ('' for a zero-TOKEN doc is still '' with n=0).
            F.when(
                fs.isNotNull(),
                F.concat_ws(",", F.transform(fs, lambda x: x.cast("string"))),
            ).alias("s"),
        ),
    )
    return (
        docs.select("doc_id", hashes.alias("h"))
        .select(
            "doc_id",
            F.col("h.n").alias("n_features"),
            F.col("h.s").alias("features"),
        )
        .sortWithinPartitions("doc_id")
    )


_SAMPLE_KEY_SQL = "'samp#' || substr(text, 1, 64) || '#' || length(text)::VARCHAR"
_RATE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN lang = '{lang}' THEN {k}"
        for lang, k in sorted(SAMPLE_RATES_K.items())
    )
    + f" ELSE {SAMPLE_DEFAULT_K} END"
)

# doc_hashed_features oracle building blocks
VOCAB_SIZE = 1000  # dictionary size; OOV encodes to id 0
OOV_ID = 0


def doc_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encode the corpus — the tokenizer-prep step of a
    training pipeline: build the top-VOCAB_SIZE vocabulary (token id =
    frequency rank, ties broken by token, ids from 1; out-of-vocab →
    OOV_ID) and emit every document as (doc_id, pos, token_id) rows,
    the integer stream a trainer consumes.

    Plan shape: token counts partial-aggregate map-side; the top-V cut
    is orderBy+limit (TakeOrderedAndProject — no global sort), and the
    id-assigning row_number window runs AFTER the limit over ≤ V rows,
    so the only unbounded-input stages are the count aggregate and the
    final broadcast-encode join: the vocabulary (≤ V rows at any
    corpus size) broadcasts, and documents encode in place without a
    shuffle — dictionary encoding at 100 TB is exactly this broadcast
    hash join. The output is sorted only WITHIN partitions (training
    shards locally ordered by (doc_id, pos)); a global orderBy here
    would add a full range-partition shuffle+sort of the largest
    output in the registry for nothing the consumer needs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokenize("text").alias("toks")
    )
    tok = fan_out(docs).select(
        "doc_id", F.posexplode("toks").alias("pos", "token")
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    topv = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(VOCAB_SIZE)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    vocab = topv.withColumn("token_id", F.row_number().over(w)).select(
        "token", "token_id"
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .select(
            "doc_id",
            "pos",
            F.coalesce("token_id", F.lit(OOV_ID)).alias("token_id"),
        )
        .sortWithinPartitions("doc_id", "pos")
    )


_TOKS = _TOKS_SQL
_PH = poly_hash_sql("t")
_FD = FEAT_DIM

ORACLE_SQL: dict[str, str] = {
    "doc_token_ids": f"""
        WITH tok AS (
            SELECT doc_id,
                   generate_subscripts(toks, 1)::INT - 1 AS pos,
                   unnest(toks) AS token
            FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
        ),
        vocab AS (
            SELECT token,
                   row_number() OVER (ORDER BY cnt DESC, token)::INT AS token_id
            FROM (
                SELECT token, count(*) AS cnt FROM tok GROUP BY token
                ORDER BY cnt DESC, token LIMIT {VOCAB_SIZE}
            )
        )
        SELECT t.doc_id, t.pos,
               coalesce(v.token_id, {OOV_ID})::INT AS token_id
        FROM tok t LEFT JOIN vocab v USING (token)
        ORDER BY t.doc_id, t.pos
    """,
    "pii_scrub": _pii_sql(),
    "profile_documents": _profile_sql(),
    "doc_hashed_features": f"""
        WITH f AS (
            SELECT doc_id,
                   list_sort(list_distinct(list_transform(
                       list_distinct({_TOKS}),
                       t -> {_PH} % {_FD}))) AS fs
            FROM documents
        )
        SELECT doc_id, len(fs)::BIGINT AS n_features,
               array_to_string(fs, ',') AS features
        FROM f ORDER BY doc_id
    """,
    # DuckDB widens sum(BIGINT) OVER to HUGEINT/DECIMAL — pin ::BIGINT.
    "pack_sequences": f"""
        WITH sized AS (
            SELECT doc_id,
                   len({_TOKS_SQL})::BIGINT AS n_tokens,
                   (doc_id % {PACK_BUCKETS})::INT AS bucket
            FROM documents
        ),
        laid AS (
            SELECT bucket, doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0)::BIGINT AS start_off
            FROM sized
        )
        SELECT bucket, doc_id, n_tokens, start_off,
               (bucket::BIGINT * 1000000000
                + start_off // {SEQ_BUDGET})::BIGINT AS seq_id
        FROM laid ORDER BY bucket, doc_id
    """,
    "repetition_filter": f"""
        WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        feat AS (
            SELECT doc_id, len(toks) AS n_tokens,
                   list_transform(
                       range(1, greatest(len(toks) - 1, 2)),
                       i -> array_to_string(toks[i:i+2], ' ')) AS grams
            FROM t
        ),
        dup AS (
            -- NULL text → NULL signals (DuckDB greatest() ignores
            -- NULLs, so ungated grams fold a null doc to dup3=0.0).
            SELECT doc_id, n_tokens,
                   CASE WHEN n_tokens IS NULL THEN NULL ELSE
                   {round6_sql("1.0 - len(list_distinct(grams))::DOUBLE"
                               " / len(grams)::DOUBLE")} END AS dup3_ratio
            FROM feat
        ),
        tops AS (
            SELECT doc_id,
                   {round6_sql("max(c)::DOUBLE / sum(c)::DOUBLE")} AS top_tok_share
            FROM (
                SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                GROUP BY doc_id, tok
            ) GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, dup3_ratio,
               CASE WHEN n_tokens IS NULL THEN NULL
                    ELSE coalesce(top_tok_share, 0.0) END AS top_tok_share,
               (dup3_ratio <= {REP_MAX_DUP3} AND
                CASE WHEN n_tokens IS NULL THEN NULL
                     ELSE coalesce(top_tok_share, 0.0) END
                    <= {REP_MAX_TOP}) AS keep
        FROM dup LEFT JOIN tops USING (doc_id)
        ORDER BY doc_id
    """,
    "doc_chunks": f"""
        WITH t AS (
            -- NULL text → no chunks (mirror of the Spark side's
            -- NULL-gated n_chunks: no content, no rows).
            SELECT doc_id, {_TOKS_SQL} AS toks,
                   len({_TOKS_SQL}) AS n
            FROM documents
            WHERE text IS NOT NULL
        ),
        k AS (
            SELECT doc_id, toks,
                   (ceil(greatest(n - {CHUNK_TOKENS}, 0) / {CHUNK_STRIDE}.0))::INT
                       + 1 AS nk
            FROM t
        ),
        ex AS (
            SELECT doc_id, toks, unnest(range(0, nk))::INT AS chunk_id FROM k
        )
        SELECT doc_id, chunk_id,
               chunk_id * {CHUNK_STRIDE} + 1 AS start,
               len(toks[chunk_id * {CHUNK_STRIDE} + 1 :
                        chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS n_chunk_tokens,
               array_to_string(toks[chunk_id * {CHUNK_STRIDE} + 1 :
                                    chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
                               ' ') AS chunk_text
        FROM ex ORDER BY doc_id, chunk_id
    """,
    "stratified_sample": f"""
        SELECT doc_id, lang,
               ({poly_hash_sql(_SAMPLE_KEY_SQL)} % {SAMPLE_BUCKETS})::INT AS bucket,
               {_RATE_SQL} AS rate_k
        FROM documents
        WHERE {poly_hash_sql(_SAMPLE_KEY_SQL)} % {SAMPLE_BUCKETS} < {_RATE_SQL}
        ORDER BY doc_id
    """,
    "corpus_split": f"""
        SELECT doc_id,
               ({poly_hash_sql(_SPLIT_KEY_SQL)} % {SPLIT_BUCKETS})::INT AS bucket,
               CASE WHEN {poly_hash_sql(_SPLIT_KEY_SQL)} IS NULL THEN NULL
                    WHEN {poly_hash_sql(_SPLIT_KEY_SQL)} % {SPLIT_BUCKETS}
                         < {SPLIT_TRAIN_LT} THEN 'train'
                    WHEN {poly_hash_sql(_SPLIT_KEY_SQL)} % {SPLIT_BUCKETS}
                         < {SPLIT_VAL_LT} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents ORDER BY doc_id
    """,
    "langid_heuristic": _langid_sql(),
    "doc_quality": f"""
        WITH base AS (
            SELECT doc_id,
                   length(text)::DOUBLE AS n_chars,
                   len({_TOKS_SQL})::DOUBLE AS n_tokens,
                   {round6_sql(f"len(list_distinct({_TOKS_SQL}))::DOUBLE"
                               f" / greatest(len({_TOKS_SQL})::DOUBLE, 1.0)")} AS distinct_ratio,
                   {round6_sql(f"{_EN_SW_HITS}::DOUBLE"
                               f" / greatest(len({_TOKS_SQL})::DOUBLE, 1.0)")} AS stopword_ratio,
                   {round6_sql("length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE"
                               " / greatest(length(text)::DOUBLE, 1.0)")} AS alnum_ratio
            FROM documents
        )
        SELECT *, {round6_sql("0.4 * least(n_tokens / 100.0, 1.0)"
                              " + 0.3 * distinct_ratio"
                              " + 0.2 * least(stopword_ratio * 5.0, 1.0)"
                              " + 0.1 * alnum_ratio")} AS quality
        FROM base ORDER BY doc_id
    """,
    "token_stats": f"""
        SELECT doc_id,
               length(text) AS n_chars,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS ws_tokens,
               len(regexp_extract_all(lower(text), '{BPE_PATTERN}')) AS bpe_tokens,
               {round6_sql("length(text)::DOUBLE"
                           " / greatest(len(list_filter(string_split(text, ' '),"
                           " t -> t <> ''))::DOUBLE, 1.0)")} AS chars_per_token
        FROM documents ORDER BY doc_id
    """,
    "winnow_fingerprint": f"""
        WITH hs AS (
            -- NULL text must yield a (doc_id, NULL, NULL) row to match
            -- the Spark kernel and expression twin: DuckDB's greatest()
            -- IGNORES NULLs (it would bottom the fold out at hash('')=0
            -- instead of propagating), so filter nulls out of the hash
            -- pipeline and LEFT JOIN the fingerprints back to documents.
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(length(text) - {FP_K - 2}, 2)),
                       i -> {poly_hash_sql(f"substr(text, i, {FP_K})")}) AS hs
            FROM documents
            WHERE text IS NOT NULL
        ),
        wins AS (
            SELECT doc_id,
                   list_sort(list_distinct(list_transform(
                       range(1, greatest(len(hs) - {FP_W - 2}, 2)),
                       i -> list_min(hs[i:i + {FP_W - 1}])))) AS fp
            FROM hs
        ),
        fp AS (
            SELECT doc_id, len(fp) AS n_fp,
                   array_to_string(fp, ',') AS fingerprint
            FROM wins
        )
        SELECT d.doc_id, f.n_fp, f.fingerprint
        FROM documents d LEFT JOIN fp f USING (doc_id)
        ORDER BY d.doc_id
    """,
}

QUERIES = {
    "langid_heuristic": langid_heuristic,
    "doc_quality": doc_quality,
    "token_stats": token_stats,
    "winnow_fingerprint": winnow_fingerprint,
    "corpus_split": corpus_split,
    "stratified_sample": stratified_sample,
    "repetition_filter": repetition_filter,
    "doc_chunks": doc_chunks,
    "pack_sequences": pack_sequences,
    "doc_hashed_features": doc_hashed_features,
    "pii_scrub": pii_scrub,
    "profile_documents": profile_documents,
    "doc_token_ids": doc_token_ids,
}
