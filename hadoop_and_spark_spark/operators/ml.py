"""Spam classifier (reference a6): online logistic regression.

Reference shape: TrainSpamClassifier.scala forces the whole dataset
through one `groupByKey(1)` group and runs a sequential SGD pass in
a closure (order-sensitive by design); ApplySpamClassifier broadcasts
the weight map and scores row-at-a-time; the ensemble loads three
models and combines by average or vote.

Spark-first re-expression:
- Training is the one genuinely non-relational kernel in the whole
  reference surface (SURVEY §2.12): a single-partition Arrow-batched
  ``mapInPandas`` pass that streams batches through a running weight
  dict — the only place Python touches row data, and it touches each
  row exactly once. The kernel is FIXED-POINT (integer micro-unit
  weights, shared quantized sigmoid table — see the SGD_*
  constants), which makes the weight trajectory bit-reproducible and
  lets a DuckDB recursive CTE replay the sequential pass op-for-op:
  spam_train and spam_eval_trained are hash-gated driver rows.
- Scoring is relational: explode(features) ⋈ broadcast(model) →
  grouped sum. No UDF.
- The driver-checked scoring/ensemble entries use arithmetic
  ("Knuth-hash") weight models so the DuckDB oracle can reproduce
  them exactly; scores are summed in INTEGER space (weight = w/500)
  so the order-insensitive compare is immune to FP summation order.
  The TRAINED eval scores the same way, in integer micro-units.

Scale notes: sequential SGD fundamentally doesn't parallelize —
at 100 TB you train per-shard models and ensemble them (exactly the
reference's a6 ensemble design, and our ``train_sharded``). Scoring
is a broadcast join + partial-agg sum: embarrassingly parallel.

Instances are derived deterministically from the documents table
(FIXTURES.md §5): label = spam iff the doc contains the marker
token, features = hashed distinct tokens — linearly separable, so
trained-model AUC pins near 1.0 in tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..sources.maintenance import artifact_checkpoint
from ..functions import tokenize

DELTA = 0.002  # SGD step, a6/TrainSpamClassifier.scala:88
SPAM_MARKER = "spark"
N_FEATURES = 1009
ENSEMBLE_MULTS = (2654435761, 2246822519, 3266489917)

# --- fixed-point SGD: the k-means integer-quantization recipe applied
# to the sequential trainer, which makes spam_train /
# spam_eval_trained hash-gated driver rows.
#
# Weights live in integer micro-units (SGD_WQ per 1.0) and every
# update is an exact-integer add, so the weight trajectory is
# bit-reproducible — the one non-algebraic step, the sigmoid, goes
# through a SHARED precomputed table: p is quantized to SGD_PQ
# micro-units on a grid of SGD_GRID cells per unit of score, clamped
# at |score| = SGD_CLAMP (sigmoid(±16) is within 1.2e-7 of its
# asymptote, far below the table's own 0.5/PQ rounding). The table is
# built ONCE here with math.exp and embedded verbatim in the oracle
# SQL, so both engines index the identical constants — libm precision
# affects which model both engines train, never whether they agree.
#
# Update arithmetic, mirrored op-for-op in SQL (all exact-integer
# except ONE correctly-rounded division each):
#   S   = Σ w_q[f]                       exact integer (< 2^53)
#   k   = clamp(floor(S / (WQ/GRID) + 0.5), ±CLAMP·GRID)
#   p_q = TBL[k]                         table lookup
#   u   = floor((y·PQ − p_q) / (1/δ) + 0.5)   |u| ≤ PQ·δ = 2000
#   w_q[f] += u  for every f in the doc  exact integer
# Exactness budget: |w_q| ≤ 2000·(doc touches), so S stays below 2^53
# through ~4.4e6 updates per feature × full feature width — far past
# any corpus a SEQUENTIAL pass can traverse; at real scale training
# shards per ensemble member (train_sharded) and each shard holds the
# same bound independently.
SGD_WQ = 1_000_000.0  # weight micro-units
SGD_PQ = 1_000_000  # probability micro-units
SGD_GRID = 64  # sigmoid-table cells per unit of score
SGD_CLAMP = 16  # |score| beyond which the table saturates
_SGD_STEP = SGD_WQ / SGD_GRID  # score units per table cell (15625.0)
_SGD_KMAX = SGD_CLAMP * SGD_GRID  # 1024 → 2049-entry table

import math as _math

SGD_SIGMOID_TBL: tuple[int, ...] = tuple(
    int(_math.floor(1.0 / (1.0 + _math.exp(-(k / SGD_GRID))) * SGD_PQ + 0.5))
    for k in range(-_SGD_KMAX, _SGD_KMAX + 1)
)


def _inv_delta(delta: float) -> float:
    """The portable update divides by round(1/δ) — an exact small
    integer both engines represent identically — instead of
    multiplying by a δ that may not be binary-representable."""
    inv = round(1.0 / delta)
    if abs(inv * delta - 1.0) > 1e-9:
        raise ValueError(f"delta {delta!r} is not 1/integer; the "
                         "portable fixed-point update requires it")
    return float(inv)

# Feature id from cheap char arithmetic (NOT a quality hash — chosen
# because Spark SQL and DuckDB can both compute it exactly, which is
# what makes the scoring oracle possible).
_FEATURE_EXPR = (
    "array_distinct(transform(toks, t -> cast((length(t)*961 + ascii(substr(t,1,1))*31"
    f" + ascii(substr(t, length(t), 1))) % {N_FEATURES} as int)))"
)
_FEATURE_SQL = (
    "list_distinct(list_transform(toks, t -> (length(t)*961 + ascii(t[1])*31"
    f" + ascii(t[length(t)])) % {N_FEATURES}))"
)


def spam_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(docid, label, features ARRAY<INT>) — the reference's
    whitespace instance format (a6/TrainSpamClassifier.scala:72-79)
    derived from documents."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.col("doc_id").alias("docid"), tokenize("text").alias("toks"))
        .select(
            "docid",
            F.when(F.array_contains("toks", SPAM_MARKER), "spam")
            .otherwise("ham")
            .alias("label"),
            F.expr(_FEATURE_EXPR).alias("features"),
        )
    )


def train_spam_classifier(
    instances: DataFrame,
    shuffle_seed: int | None = None,
    epochs: int = 1,
) -> DataFrame:
    """Sequential SGD logistic regression → model (feature, weight,
    w_q) where w_q is the integer micro-unit weight and
    weight = w_q / SGD_WQ.

    Mirrors a6/TrainSpamClassifier.scala:52-101: single sequential
    pass, score = Σ w[f], p = σ(score), w[f] += (y−p)·δ — in the
    FIXED-POINT arithmetic documented at the module constants, so the
    trained model is bit-reproducible across runs AND engines (the
    DuckDB oracle replays the pass as a recursive CTE).
    ``shuffle_seed`` reproduces the a6 Q5 shuffled-training variant
    (orderBy(rand(seed)), a6/TrainSpamClassifier.scala:63-68);
    default is docid order for determinism. ``epochs`` > 1 replays
    the stream (extension beyond the reference's single pass).
    """
    import math

    inv = _inv_delta(DELTA)
    # Materialize BEFORE the global sort: orderBy's range-partition
    # sampling pass executes its child, so an unmaterialized
    # tokenize+feature projection would run twice.
    inst = instances.select("docid", "label", "features").transform(
        artifact_checkpoint
    )
    inst = (
        inst.orderBy(F.rand(shuffle_seed))
        if shuffle_seed is not None
        else inst.orderBy("docid")
    )

    def sgd(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w: dict[int, int] = {}
        # Buffer the (single coalesced) partition so multi-epoch
        # replay never re-reads from Spark; one epoch streams.
        # MEMORY CEILING: epochs > 1 therefore holds the ENTIRE
        # training corpus in one Python worker's memory (the price of
        # replaying an order-sensitive sequential pass) — size the
        # corpus or shard (train_sharded) accordingly; epochs == 1,
        # the reference's semantics and every registered query's
        # setting, streams batch-by-batch at O(batch) memory.
        buffered = list(batches) if epochs > 1 else batches
        for _ in range(epochs):
            for pdf in buffered:
                for label, feats in zip(pdf["label"], pdf["features"]):
                    if feats is None:
                        # null-text instance: tokenize(null) → null
                        # feature array. Zero features ⇒ score 0,
                        # p = 0.5, and no weights to update — the
                        # no-op the relational scorer mirrors (its
                        # explode emits no rows for the doc).
                        feats = ()
                    s = sum(w.get(int(f), 0) for f in feats)
                    k = int(math.floor(s / _SGD_STEP + 0.5))
                    k = max(-_SGD_KMAX, min(_SGD_KMAX, k))
                    p_q = SGD_SIGMOID_TBL[k + _SGD_KMAX]
                    yq = SGD_PQ if label == "spam" else 0
                    u = int(math.floor((yq - p_q) / inv + 0.5))
                    for f in feats:
                        w[int(f)] = w.get(int(f), 0) + u
        yield pd.DataFrame(
            {
                "feature": list(w.keys()),
                "weight": [wq / SGD_WQ for wq in w.values()],
                "w_q": list(w.values()),
            }
        )

    # coalesce(1) preserves the global sort (partitions merge in
    # order); the entire pass is one Arrow stream through Python.
    return inst.coalesce(1).mapInPandas(
        sgd, "feature int, weight double, w_q long"
    )


def _grouped_model_sum(instances: DataFrame, model: DataFrame, weight_col, zero):
    """explode(features) ⋈ broadcast(model) → per-doc grouped sum of
    one model column — the relational scoring core shared by the
    float scorer and the integer-space trained-ensemble eval (ONE
    copy, so a join/null-handling fix can't miss a twin). Docs whose
    features all miss the model sum to ``zero``; featureless/NULL
    docs drop entirely (explode emits nothing), matching the oracle's
    unnest."""
    feats = instances.select("docid", "label", F.explode("features").alias("feature"))
    return (
        feats.join(F.broadcast(model), "feature", "left")
        .groupBy("docid", "label")
        .agg(F.sum(F.coalesce(weight_col, zero)).alias("s"))
    )


def score_with_model(instances: DataFrame, model: DataFrame) -> DataFrame:
    """Relational scoring (a6/ApplySpamClassifier.scala:48-83):
    explode features, broadcast-join the weight table, sum per doc.
    Docs whose features all miss the model score 0. SURVEY row M3:
    the registered entries score through ``_grouped_model_sum``
    directly; tests pin this float form."""
    scored = _grouped_model_sum(instances, model, F.col("weight"), F.lit(0.0))
    return scored.select(
        "docid",
        "label",
        F.col("s").alias("score"),
        F.when(F.col("s") > 0, "spam").otherwise("ham").alias("prediction"),
    )


def train_sharded(instances: DataFrame, n_shards: int = 3) -> list[DataFrame]:
    """Per-shard models for the ensemble (reference part-00000/1/2,
    a6/ApplyEnsembleSpamClassifier.scala:54-70); shard = docid % n."""
    return [
        train_spam_classifier(instances.where(F.col("docid") % n_shards == i))
        for i in range(n_shards)
    ]


# --- driver-checked entries (arithmetic model, integer-exact) ---


def _int_weight(col, mult: int):
    """Integer weight in [-500, 500]: (f*mult) % 1001 - 500."""
    return (col * F.lit(mult)) % 1001 - 500


def spam_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every doc against the deterministic arithmetic model.

    Integer-space sum (exact) → /500.0 at the end, so Spark and the
    oracle agree bit-for-bit regardless of aggregation order.
    """
    inst = spam_instances(spark, sf_dir)
    feats = inst.select("docid", "label", F.explode("features").alias("f"))
    return (
        feats.groupBy("docid", "label")
        .agg(F.sum(_int_weight(F.col("f"), ENSEMBLE_MULTS[0])).alias("s"))
        .select(
            "docid",
            "label",
            F.round(F.col("s") / 500.0, 4).alias("score"),
            F.when(F.col("s") > 0, "spam").otherwise("ham").alias("prediction"),
        )
        .sortWithinPartitions("docid")
    )


def spam_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three arithmetic models combined by average and by ±1 vote
    (a6/ApplyEnsembleSpamClassifier.scala:71-108)."""
    inst = spam_instances(spark, sf_dir)
    feats = inst.select("docid", "label", F.explode("features").alias("f"))
    sums = feats.groupBy("docid", "label").agg(
        *[
            F.sum(_int_weight(F.col("f"), m)).alias(f"s{i}")
            for i, m in enumerate(ENSEMBLE_MULTS)
        ]
    )
    vote = sum(
        F.when(F.col(f"s{i}") > 0, 1).otherwise(-1)
        for i in range(len(ENSEMBLE_MULTS))
    )
    avg = (F.col("s0") + F.col("s1") + F.col("s2")) / (500.0 * len(ENSEMBLE_MULTS))
    return sums.select(
        "docid",
        "label",
        F.round(avg, 4).alias("avg_score"),
        vote.alias("vote"),
        F.when(avg > 0, "spam").otherwise("ham").alias("pred_avg"),
        F.when(vote > 0, "spam").otherwise("ham").alias("pred_vote"),
    ).sortWithinPartitions("docid")


def spam_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier quality as 1-ROCA% — the reference's evaluation
    harness (spam_eval.sh:1-4 piping score-sorted output into
    compute_spam_metrics.c's quantized-ROC area) as one relational
    query.

    Tie-aware rank-sum AUC without a global rank: group rows by
    integer score (exact arithmetic — no FP ranking ambiguity), then
    over the tiny distinct-score table compute, per score s,
    ham_below(s); AUC = (Σ ns·ham_below + ½·Σ ns·nh) / (n1·n0).
    The only ordered window runs over distinct scores (bounded
    cardinality), never over rows — at 100 TB the per-row work is one
    hash aggregation.
    """
    inst = spam_instances(spark, sf_dir)
    feats = inst.select("docid", "label", F.explode("features").alias("f"))
    scored = feats.groupBy("docid", "label").agg(
        F.sum(_int_weight(F.col("f"), ENSEMBLE_MULTS[0])).alias("s")
    )
    return grouped_score_auc(scored)


def grouped_score_auc(scored: DataFrame) -> DataFrame:
    """Tie-aware rank-sum AUC over (label, s) rows — the
    relational core shared by spam_eval (arithmetic model) and
    spam_eval_trained (real SGD ensemble). Groups by exact score
    value, so callers with FP scores should round first to keep tie
    groups stable. Output: (n_spam, n_ham, auc, one_minus_roca_pct).
    """
    from pyspark.sql import Window

    from ..functions.portable import round6

    g = scored.groupBy("s").agg(
        F.sum(F.when(F.col("label") == "spam", 1).otherwise(0)).alias("ns"),
        F.sum(F.when(F.col("label") == "ham", 1).otherwise(0)).alias("nh"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    c = g.withColumn("ham_below", F.coalesce(F.sum("nh").over(w), F.lit(0)))
    totals = c.agg(
        F.sum("ns").alias("n_spam"),
        F.sum("nh").alias("n_ham"),
        F.sum(F.col("ns") * F.col("ham_below")).alias("won"),
        F.sum(F.col("ns") * F.col("nh")).alias("tied"),
    )
    auc = (F.col("won") + 0.5 * F.col("tied")) / (
        F.col("n_spam").cast("double") * F.col("n_ham").cast("double")
    )
    return totals.select(
        "n_spam", "n_ham", round6(auc).alias("auc")
    ).withColumn("one_minus_roca_pct", round6((1.0 - F.col("auc")) * 100.0))


def spam_eval_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-ROCA% of the REAL sharded-SGD ensemble, HASH-GATED: the
    fixed-point trainer is bit-reproducible and the ensemble is scored
    in INTEGER space — summing the shards' integer micro-unit weights
    per feature and per doc — so the AUC tie groups are
    exact-arithmetic and the DuckDB oracle replays the whole pipeline
    (one recursive-CTE trainer per shard feeding the shared relational
    AUC).

    The a6 pipeline end-to-end (TrainSpamClassifier → part-00000/1/2
    → ApplyEnsembleSpamClassifier --method average → spam_eval.sh):
    train one model per docid-shard, combine by averaging — scoring
    is linear, so the averaged ensemble RANKS identically to scoring
    against ONE merged model with weight = Σ_i w_q_i (a feature-keyed
    grouped integer sum; the 1/(n·WQ) rescale is a positive constant
    that cannot change any tie group or the AUC) — then the shared
    relational AUC over the exact integer scores.
    """
    from ..sources.maintenance import session_memo

    n = len(ENSEMBLE_MULTS)
    inst = spam_instances(spark, sf_dir)
    # The merged ensemble model is the TRAINED ARTIFACT (a6's
    # part-00000/1/2 on HDFS): built once per (session, corpus) and
    # served from the memo — repeat invocations price the scoring
    # pass, the deployment shape of a trained classifier. Cold cost
    # (3 sequential SGD shards) published via tools/scaling_probe.py.
    merged = session_memo(
        spark,
        sf_dir,
        "documents",
        "spam_merged_v2",
        lambda: _union_all(train_sharded(inst, n_shards=n))
        .groupBy("feature")
        .agg(F.sum("w_q").alias("w_m"))
        .localCheckpoint(eager=True),
    )
    scored = _grouped_model_sum(inst, merged, F.col("w_m"), F.lit(0))
    return grouped_score_auc(scored.select("label", "s"))


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def spam_train_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-model driver entry, HASH-GATED: the fixed-point trainer
    is bit-reproducible (a float trainer's weight trajectory would be
    libm/exp-dependent), and the DuckDB oracle replays the sequential
    pass as a recursive CTE over the docid-ordered instances, sharing
    the module's sigmoid table verbatim. weight = w_q / SGD_WQ is one
    correctly-rounded IEEE division per feature, identical in both
    engines."""
    from ..sources.maintenance import session_memo

    model = session_memo(
        spark,
        sf_dir,
        "documents",
        "spam_model_v2",
        lambda: train_spam_classifier(
            spam_instances(spark, sf_dir)
        ).localCheckpoint(eager=True),
    )
    return model.select("feature", "weight").orderBy("feature")


_INST_BODY = f"""inst AS (
        SELECT doc_id AS docid,
               CASE WHEN list_contains(toks, '{SPAM_MARKER}') THEN 'spam'
                    ELSE 'ham' END AS label,
               {_FEATURE_SQL} AS features
        FROM (
            SELECT doc_id,
                   list_filter(string_split(regexp_replace(lower(text),
                       '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
            FROM documents
        )
    )"""

_INST_CTE = f"""
    WITH {_INST_BODY},
    feats AS (SELECT docid, label, unnest(features) AS f FROM inst)
"""


def _sgd_train_ctes(sfx: str, where: str = "TRUE", epochs: int = 1) -> str:
    """The fixed-point sequential SGD pass over ``inst`` rows matching
    ``where`` (docid order, replayed ``epochs`` times — the step table
    is the docid-ordered sequence repeated, exactly the trainer's
    buffered replay) as a RECURSIVE-CTE chain — the SQL twin of
    train_spam_classifier's kernel, one recursion step per training
    row, every arithmetic op mirrored (see the module constants for
    the exactness argument). Expects an ``inst`` CTE and the shared
    ``sig`` sigmoid-table CTE in scope; emits nb/tr/fin{sfx} (plus
    bs{sfx} for the epoch-replicated base when epochs > 1).

    Cost shape: each recursion step probes the MATERIALIZED per-doc
    table by row number — DuckDB has no CTE indexes, so that probe is
    an O(n·f̄) scan of nb's sparse feature lists per step, then the
    weight update is one 1009-wide list_transform whose per-slot
    list_contains walks the doc's f̄ features. A dense form that
    precomputes a docs × 1009 MASK grid and scans those masks per
    step costs O(n·1009) per step, O(n²·1009) overall: 27.9 s + 9.2 s
    for the spam_train/spam_eval_trained pair at sf0.1 (5000 docs),
    against 7.9 s + 3.8 s for the sparse list_contains update at
    identical bits (before/after ledger in SURVEY §5). Still O(n²) in
    the scan term — fine for driver compares (500 docs) and the sf0.1
    mirrors; a 10⁶-row corpus would bottleneck here, which is why the
    trainer shards per ensemble member at scale (train_sharded) and
    each shard's CTE stays small.
    """
    yq = f"(CASE WHEN n.label = 'spam' THEN {SGD_PQ} ELSE 0 END)"
    s_expr = (
        "coalesce(list_sum(list_transform(n.features, f -> t.w[f + 1])), 0)"
    )
    k_expr = (
        f"least(greatest(floor({s_expr} / {_SGD_STEP!r} + 0.5), "
        f"-{_SGD_KMAX}), {_SGD_KMAX})::BIGINT"
    )
    u_expr = (
        f"floor(({yq} - g.t[({k_expr}) + {_SGD_KMAX + 1}]) "
        f"/ {_inv_delta(DELTA)!r} + 0.5)::BIGINT"
    )
    base = f"""
        SELECT label, coalesce(features, []) AS features,
               row_number() OVER (ORDER BY docid) AS rn
        FROM inst WHERE {where}"""
    if epochs == 1:
        nb_body, bs_cte = base, ""
    else:
        # epoch e's copy of row rn sits at step (e-1)·n + rn: the
        # docid-ordered pass repeated end-to-end, like the buffered
        # replay in the trainer.
        nb_body = f"""
        SELECT label, features,
               (ep.e - 1) * (SELECT count(*) FROM bs{sfx}) + rn AS rn
        FROM bs{sfx}, generate_series(1, {epochs}) ep(e)"""
        bs_cte = f"bs{sfx} AS MATERIALIZED ({base}\n    ),\n    "
    return f"""{bs_cte}nb{sfx} AS MATERIALIZED ({nb_body}
    ),
    tr{sfx} AS (
        SELECT 0::BIGINT AS step,
               list_transform(generate_series(1, {N_FEATURES}),
                              x -> 0::BIGINT) AS w
        UNION ALL
        SELECT s.step + 1,
               list_transform(s.w, (x, j) -> x
                   + CASE WHEN list_contains(s.features, j - 1)
                          THEN s.u ELSE 0::BIGINT END)
        FROM (
            SELECT t.step, t.w, n.features, {u_expr} AS u
            FROM tr{sfx} t JOIN nb{sfx} n ON n.rn = t.step + 1, sig g
        ) s
    ),
    fin{sfx} AS (SELECT w FROM tr{sfx} ORDER BY step DESC LIMIT 1)"""


_SIG_CTE = f"sig AS (SELECT {list(SGD_SIGMOID_TBL)} AS t)"

# Decision thresholds in INTEGER score space (s, where score = s/500):
# comparing integers sidesteps any float-threshold edge disagreement.
PR_THRESHOLDS = (-250, -100, 0, 100, 250)


def spam_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall at fixed decision thresholds — the
    operating-point sweep that turns a scored classifier into a
    deployable one (the reference grades only the threshold-free
    1-ROCA%; a real pipeline must pick a threshold).

    ONE aggregation pass computes TP/FP per threshold as conditional
    sums over the integer scores (the profile_documents shape), then
    a 1-row stack unpivot emits one row per threshold — the sweep
    never rescans or reshuffles the scored set, and adding thresholds
    adds agg expressions, not passes. Thresholds compare in integer
    score space so both engines cut identically; ratios round via the
    portable floor form."""
    from ..functions.portable import round6

    inst = spam_instances(spark, sf_dir)
    feats = inst.select("docid", "label", F.explode("features").alias("f"))
    scored = feats.groupBy("docid", "label").agg(
        F.sum(_int_weight(F.col("f"), ENSEMBLE_MULTS[0])).alias("s")
    )
    is_spam = F.col("label") == "spam"
    aggs = [F.sum(is_spam.cast("long")).alias("n_spam")]
    for i, t in enumerate(PR_THRESHOLDS):
        hit = F.col("s") > t
        aggs += [
            F.sum((hit & is_spam).cast("long")).alias(f"tp_{i}"),
            F.sum((hit & ~is_spam).cast("long")).alias(f"fp_{i}"),
        ]
    one = scored.agg(*aggs)
    stack_args = ", ".join(
        f"cast({t / 500.0!r} as double), tp_{i}, fp_{i}"
        for i, t in enumerate(PR_THRESHOLDS)
    )
    rows = one.select(
        "n_spam",
        F.expr(
            f"stack({len(PR_THRESHOLDS)}, {stack_args}) AS (threshold, tp, fp)"
        ),
    )
    precision = F.when(
        F.col("tp") + F.col("fp") > 0,
        round6(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double")),
    ).otherwise(0.0)
    recall = round6(F.col("tp").cast("double") / F.col("n_spam").cast("double"))
    return rows.select(
        "threshold",
        "tp",
        "fp",
        precision.alias("precision"),
        recall.alias("recall"),
    ).orderBy("threshold")


def _spam_pr_sql() -> str:
    from ..functions.portable import round6_sql

    m = ["sum(CASE WHEN label = 'spam' THEN 1 ELSE 0 END)::BIGINT AS n_spam"]
    for i, t in enumerate(PR_THRESHOLDS):
        m += [
            f"sum(CASE WHEN s > {t} AND label = 'spam' THEN 1 ELSE 0 END)::BIGINT AS tp_{i}",
            f"sum(CASE WHEN s > {t} AND label = 'ham' THEN 1 ELSE 0 END)::BIGINT AS fp_{i}",
        ]
    selects = " UNION ALL ".join(
        f"SELECT {t / 500.0!r}::DOUBLE AS threshold, tp_{i} AS tp, fp_{i} AS fp, "
        f"CASE WHEN tp_{i} + fp_{i} > 0 THEN "
        + round6_sql(f"tp_{i}::DOUBLE / (tp_{i} + fp_{i})::DOUBLE")
        + " ELSE 0.0 END AS precision, "
        + round6_sql(f"tp_{i}::DOUBLE / n_spam::DOUBLE")
        + " AS recall FROM m"
        for i, t in enumerate(PR_THRESHOLDS)
    )
    return (
        _INST_CTE
        + f"""
        , scored AS (
            SELECT docid, label,
                   sum((f * {ENSEMBLE_MULTS[0]}) % 1001 - 500) AS s
            FROM feats GROUP BY docid, label
        ),
        m AS (SELECT {', '.join(m)} FROM scored)
        {selects} ORDER BY threshold
    """
    )


ORACLE_SQL: dict[str, str] = {
    "spam_score": _INST_CTE
    + f"""
        SELECT docid, label,
               round(sum((f * {ENSEMBLE_MULTS[0]}) % 1001 - 500) / 500.0, 4) AS score,
               CASE WHEN sum((f * {ENSEMBLE_MULTS[0]}) % 1001 - 500) > 0
                    THEN 'spam' ELSE 'ham' END AS prediction
        FROM feats GROUP BY docid, label ORDER BY docid
    """,
    "spam_ensemble": _INST_CTE
    + f"""
        , sums AS (
            SELECT docid, label,
                   sum((f * {ENSEMBLE_MULTS[0]}) % 1001 - 500) AS s0,
                   sum((f * {ENSEMBLE_MULTS[1]}) % 1001 - 500) AS s1,
                   sum((f * {ENSEMBLE_MULTS[2]}) % 1001 - 500) AS s2
            FROM feats GROUP BY docid, label
        )
        SELECT docid, label,
               round((s0 + s1 + s2) / 1500.0, 4) AS avg_score,
               (CASE WHEN s0 > 0 THEN 1 ELSE -1 END
                + CASE WHEN s1 > 0 THEN 1 ELSE -1 END
                + CASE WHEN s2 > 0 THEN 1 ELSE -1 END) AS vote,
               CASE WHEN (s0 + s1 + s2) > 0 THEN 'spam' ELSE 'ham' END AS pred_avg,
               CASE WHEN (CASE WHEN s0 > 0 THEN 1 ELSE -1 END
                          + CASE WHEN s1 > 0 THEN 1 ELSE -1 END
                          + CASE WHEN s2 > 0 THEN 1 ELSE -1 END) > 0
                    THEN 'spam' ELSE 'ham' END AS pred_vote
        FROM sums ORDER BY docid
    """,
}

def _spam_eval_sql() -> str:
    from ..functions.portable import round6_sql

    auc_raw = "((won + 0.5 * tied) / (n_spam::DOUBLE * n_ham::DOUBLE))"
    return (
        _INST_CTE
        + f"""
        , scored AS (
            SELECT docid, label,
                   sum((f * {ENSEMBLE_MULTS[0]}) % 1001 - 500) AS s
            FROM feats GROUP BY docid, label
        ),
        g AS (
            SELECT s,
                   sum(CASE WHEN label = 'spam' THEN 1 ELSE 0 END) AS ns,
                   sum(CASE WHEN label = 'ham' THEN 1 ELSE 0 END) AS nh
            FROM scored GROUP BY s
        ),
        c AS (
            SELECT ns, nh,
                   coalesce(sum(nh) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS ham_below
            FROM g
        ),
        t AS (
            SELECT sum(ns) AS n_spam, sum(nh) AS n_ham,
                   sum(ns * ham_below) AS won, sum(ns * nh) AS tied
            FROM c
        )
        SELECT n_spam::BIGINT AS n_spam, n_ham::BIGINT AS n_ham, auc,
               {round6_sql('(1.0 - auc) * 100.0')} AS one_minus_roca_pct
        FROM (SELECT n_spam, n_ham, {round6_sql(auc_raw)} AS auc FROM t)
    """
    )


ORACLE_SQL["spam_eval"] = _spam_eval_sql()

ORACLE_SQL["spam_train"] = f"""
    WITH RECURSIVE {_INST_BODY},
    {_SIG_CTE},
    {_sgd_train_ctes('')}
    SELECT u.f AS feature, fin.w[u.f + 1] / {SGD_WQ!r} AS weight
    FROM (SELECT DISTINCT unnest(features) AS f FROM inst
          WHERE features IS NOT NULL) u, fin
    ORDER BY feature
"""


def _spam_eval_trained_sql() -> str:
    """Three recursive-CTE shard trainers → integer-merged ensemble →
    the shared grouped-score AUC: the SQL twin of spam_eval_trained,
    scoring in exact integer micro-units so no rounding exists
    anywhere in the compare."""
    from ..functions.portable import round6_sql

    n = len(ENSEMBLE_MULTS)
    shard_ctes = ",\n    ".join(
        _sgd_train_ctes(str(i), f"docid % {n} = {i}") for i in range(n)
    )
    cell = " + ".join(f"fin{i}.w[fe.f + 1]" for i in range(n))
    fins = ", ".join(f"fin{i}" for i in range(n))
    auc_raw = "((won + 0.5 * tied) / (n_spam::DOUBLE * n_ham::DOUBLE))"
    return f"""
    WITH RECURSIVE {_INST_BODY},
    feats AS (SELECT docid, label, unnest(features) AS f FROM inst),
    {_SIG_CTE},
    {shard_ctes},
    scored AS (
        SELECT fe.docid, fe.label, sum({cell}) AS s
        FROM feats fe, {fins}
        GROUP BY fe.docid, fe.label
    ),
    g AS (
        SELECT s,
               sum(CASE WHEN label = 'spam' THEN 1 ELSE 0 END) AS ns,
               sum(CASE WHEN label = 'ham' THEN 1 ELSE 0 END) AS nh
        FROM scored GROUP BY s
    ),
    c AS (
        SELECT ns, nh,
               coalesce(sum(nh) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS ham_below
        FROM g
    ),
    t AS (
        SELECT sum(ns) AS n_spam, sum(nh) AS n_ham,
               sum(ns * ham_below) AS won, sum(ns * nh) AS tied
        FROM c
    )
    SELECT n_spam::BIGINT AS n_spam, n_ham::BIGINT AS n_ham, auc,
           {round6_sql('(1.0 - auc) * 100.0')} AS one_minus_roca_pct
    FROM (SELECT n_spam, n_ham, {round6_sql(auc_raw)} AS auc FROM t)
"""


ORACLE_SQL["spam_eval_trained"] = _spam_eval_trained_sql()

QUERIES = {
    "spam_score": spam_score,
    "spam_ensemble": spam_ensemble,
    "spam_train": spam_train_query,
    "spam_eval": spam_eval,
    "spam_eval_trained": spam_eval_trained,
    "spam_pr_curve": spam_pr_curve,
}

ORACLE_SQL["spam_pr_curve"] = _spam_pr_sql()
