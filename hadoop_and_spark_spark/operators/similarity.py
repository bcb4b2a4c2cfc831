"""Approximate-nearest-neighbor similarity search over ``embeddings``.

Driver-mandated extension (SURVEY §7 M7): top-k cosine retrieval over
an ``array<float>`` embedding column.

- ``knn_bruteforce`` — exact top-k: broadcast the (small) query set
  against every vector, window rank per query. The correctness
  baseline; at 100 TB this is the pattern for "score a handful of
  probes against the full corpus" (one broadcast, one narrow shuffle
  of (query_id, cosine) pairs for the window).
- ``knn_ivf``       — IVF-style two-level search: vectors are
  partitioned by nearest centroid (the "inverted file"); a query
  probes only its NPROBE closest centroid partitions. The scale path:
  the scored candidate set shrinks by ~NCENTROIDS/NPROBE, and the
  centroid assignment is a shuffle-free projection against the
  collected centroid model. Centroid "training" is deliberately
  parameter-free and deterministic — the first NCENTROIDS vectors by
  vec_id act as seeds (documented contract, so the DuckDB oracle
  reproduces the identical partition map; a production deployment
  would plug k-means centroids into the same plan shape).

Determinism/oracle parity: cosines are double-precision left-fold dot
products (``functions.portable.dot_fold``) — bit-identical in Spark
and DuckDB — and every rank window breaks ties on vec_id, so top-k
sets match exactly across engines.

Reference parity: the reference has no vector search; the top-k
window shape reuses W4/O4 (a4/ExtractTopPersonalizedPageRankNodes.java:59-153),
and the broadcast-probe shape is J2 (a5/Q3.scala:42-76).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import dot_fold, dot_fold_sql, let_col, round6, round6_sql
from ..session import fan_out
from ..sources.maintenance import artifact_checkpoint

EMB_DIM = 64
K_NN = 10
# Query set = the N_QUERIES lowest vec_ids — a FIXED-size probe table,
# so the broadcast side is O(N_QUERIES) at any corpus size. (A
# corpus-proportional set like ``vec_id % 100 == 0`` would grow the
# broadcast linearly with N and stop fitting at ~10⁹ vectors.)
N_QUERIES = 64
NCENTROIDS = 16  # IVF lists; centroid seeds = vec_id < NCENTROIDS
NPROBE = 4


def _raw_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, emb double[]) — THE one embeddings-read prologue every
    similarity consumer shares (directly or via _vectors), so the
    NULL-drop contract lives in exactly one Spark expression.

    Rows with a literally-NULL embedding are dropped HERE (the oracle
    twins are _VEC_INNER's and embedding_quantize's matching WHEREs):
    a NULL vector has no geometry — no norm, no cosine, no centroid —
    and letting it through diverged between engines (Spark's fold
    yields a NULL cid that joins away; DuckDB's row_number over 16
    all-NULL scores ties the row onto cid 0, inflating n_members).
    NaN/Inf GARBAGE vectors, by contrast, stay: both engines score
    them deterministically (the garbage-vector contract). fan_out: the
    per-vector fold projections downstream must not run on one input
    split."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return emb.where(F.col("embedding").isNotNull()).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_raw_vectors plus the left-fold norm."""
    vec = _raw_vectors(spark, sf_dir)
    return vec.select(
        "vec_id", "emb", F.sqrt(dot_fold(F.col("emb"), F.col("emb"))).alias("nrm")
    )


def _cosine(a_emb: str, a_nrm: str, b_emb: str, b_nrm: str):
    return dot_fold(F.col(a_emb), F.col(b_emb)) / (F.col(a_nrm) * F.col(b_nrm))


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-K_NN for each query vector (the N_QUERIES
    lowest vec_ids), excluding the query itself.

    Plan shape: broadcast(queries) ⨯ vectors → cosine → per-query
    row_number window. Only (query_id, vec_id, cosine) rows reach the
    window shuffle — embeddings never leave the scan stage.
    """
    vec = _vectors(spark, sf_dir)
    q = vec.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        vec.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine("q_emb", "q_nrm", "emb", "nrm").alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K_NN)
        .select("query_id", "rank", "neighbor_id", round6(F.col("cos_raw")).alias("cosine"))
        .orderBy("query_id", "rank")
    )


def _centroids(vec: DataFrame) -> DataFrame:
    return vec.where(F.col("vec_id") < NCENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )


def _assigned_frame(vec: DataFrame, cent: DataFrame) -> DataFrame:
    """Centroid ASSIGNMENT as a pure projection against the collected
    centroid model (16 rows — the same driver-side smallness a
    k-means model has), NOT a crossJoin + per-vector window: the
    join/window form blows every vector up 16× and shuffles the
    embeddings by vec_id just to pick a max — the kind of plan that
    dies at 10⁹ vectors. Here the corpus never shuffles at all.
    The fold keeps the FIRST strict maximum ⇒ lowest cid on ties,
    identical to the oracle's (c_cos DESC, cid ASC) row_number."""
    cent_rows = [
        (int(r.cid), list(r.c_emb), float(r.c_nrm))
        for r in cent.orderBy("cid").collect()
    ]
    return _assign_rows(vec, cent_rows)


def _assign_rows(
    vec: DataFrame, cent_rows: list[tuple[int, list[float], float]], with_cos: bool = False
) -> DataFrame:
    """The assignment projection against a DRIVER-HELD centroid model
    [(cid, emb, nrm), ...] — shared by the IVF seed assignment and
    every Lloyd's iteration of the k-means trainer (the model is the
    thing that is small; the corpus never moves)."""
    if cent_rows:
        c_embs = F.lit([emb for _cid, emb, _nrm in cent_rows])
        c_nrms = F.lit([nrm for _cid, _emb, nrm in cent_rows])
        c_cids = F.lit([cid for cid, _emb, _nrm in cent_rows])
    else:  # empty corpus: typed placeholder literals (never evaluated)
        c_embs = F.lit([[0.0] * EMB_DIM])
        c_nrms = F.lit([1.0])
        c_cids = F.lit([-1])
    cent_cosines = F.transform(
        F.sequence(F.lit(1), F.lit(len(cent_rows) or 1)),
        lambda i: dot_fold(F.element_at(c_embs, i), F.col("emb"))
        / (F.element_at(c_nrms, i) * F.col("nrm")),
    )
    # array_position returns the FIRST index holding the max ⇒ lowest
    # POSITION on exact ties (= lowest cid when cent_rows is
    # cid-sorted, which both callers guarantee). let_col binds the
    # cosine array once (HOF lambdas re-evaluate referenced
    # subexpressions).
    best = let_col(
        cent_cosines,
        lambda a: F.struct(
            F.element_at(
                c_cids, F.array_position(a, F.array_max(a)).cast("int")
            ).alias("cid"),
            F.array_max(a).alias("cos"),
        ),
    )
    cols = ["vec_id", "emb", "nrm"]
    out = vec.select(*cols, best.alias("b"))
    if with_cos:
        return out.select(*cols, F.col("b.cid").alias("cid"), F.col("b.cos").alias("best_cos"))
    return out.select(*cols, F.col("b.cid").alias("cid"))


# Always empty: every model below lives in maintenance.session_memo.
# The names stay bound only because the frozen benchmark tracer
# (perfbench/layers.py) reads them; it is their only reader.
_IVF_CACHE: dict = {}
_KMEANS_CACHE: dict = {}
_PERSISTED_CENT_CACHE: dict = {}


def _session_ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, list[float], float]], DataFrame]:
    """(collected centroid rows, checkpointed inverted file), built
    ONCE per (session, corpus) in the session memo — the serving
    contract of an ANN index (built once, every query seeks). The
    source_marker in the memo key invalidates it when the embeddings
    table is rewritten in-place; clear_session_caches drops it so
    cold runs price the build."""
    from ..sources.maintenance import session_memo

    def build():
        vec = _vectors(spark, sf_dir)
        cent_rows = [
            (int(r.cid), list(r.c_emb), float(r.c_nrm))
            for r in _centroids(vec).orderBy("cid").collect()
        ]
        # Materialized once: this is the step that WRITES the
        # inverted file on a cluster (knn_ivf_persisted is exactly
        # that); localCheckpoint is its in-session stand-in.
        assigned = _assign_rows(vec, cent_rows).transform(artifact_checkpoint)
        return (cent_rows, assigned)

    return session_memo(spark, sf_dir, "embeddings", "ivf_mem_v1", build)


def _cent_frame(spark: SparkSession, cent_rows) -> DataFrame:
    """The 16 centroid rows as a literal local relation — the probe
    side of the search plan carries NO scan lineage, so per-query plan
    analysis touches only the checkpointed index."""
    return spark.createDataFrame(
        list(cent_rows), "cid int, c_emb array<double>, c_nrm double"
    )


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-K_NN: search only the NPROBE centroid partitions
    closest to each query.

    Contract (shared with the oracle): centroids are the vectors with
    vec_id < NCENTROIDS; every vector belongs to its highest-cosine
    centroid (ties → lower centroid id); a query scores exactly the
    vectors assigned to its NPROBE highest-cosine centroids.

    The inverted file is built once per (session, corpus) and served
    from the memo thereafter (_session_ivf_index) — steady-state
    invocations price the SEARCH, the number that matters for a
    serving index; cold runs (caches cleared) price the build."""
    cent_rows, assigned = _session_ivf_index(spark, sf_dir)
    return _ivf_search(_cent_frame(spark, cent_rows), assigned)


def _ivf_search(cent: DataFrame, assigned: DataFrame) -> DataFrame:
    """Probe selection + candidate scoring over any (vec_id, emb, nrm,
    cid) inverted file — shared by the in-session and persisted
    variants."""
    q = assigned.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    q_cent = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "q_emb",
        "q_nrm",
        "cid",
        _cosine("c_emb", "c_nrm", "q_emb", "q_nrm").alias("c_cos"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("c_cos"), F.asc("cid"))
    probes = (
        q_cent.withColumn("prank", F.row_number().over(w_probe))
        .where(F.col("prank") <= NPROBE)
        .select("query_id", "q_emb", "q_nrm", "cid")
    )
    # probes = |queries| × NPROBE rows at ANY corpus size → broadcast;
    # the assigned corpus stays in place (on a cluster the inverted
    # file would additionally be bucketed by cid for probe pruning).
    scored = (
        F.broadcast(probes).join(assigned, "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine("q_emb", "q_nrm", "emb", "nrm").alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K_NN)
        .select("query_id", "rank", "neighbor_id", round6(F.col("cos_raw")).alias("cosine"))
        .orderBy("query_id", "rank")
    )


KMEANS_ITERS = 4  # Lloyd's rounds (testdata objective plateaus by ~3)
KM_QUANT = 1_000_000.0  # integer micro-units for the portable trainer
KM_CLAMP = 10.0  # training-vector magnitude bound (exactness budget)

# 2^53: the magnitude below which every integer is exactly
# representable as an IEEE-754 double, so integer sums/products under
# it are exact in ANY evaluation order — the property the whole
# bit-reproducible trainer rests on. Module constant (not inlined) so
# the budget test can lower it and prove the guard trips.
KM_EXACT_BUDGET = 2.0**53

# The per-ROW budget (dot products, |M|² folds) is static — guaranteed
# by the constants, so check it once at import. An explicit raise, not
# a bare assert: `python -O` strips asserts, and this check complements
# the runtime KMeansExactnessError guard, which always runs.
if EMB_DIM * (KM_CLAMP * KM_QUANT) ** 2 >= KM_EXACT_BUDGET:
    raise AssertionError(
        "k-means dot-product budget exceeded by the module constants "
        "themselves; shrink KM_QUANT or KM_CLAMP"
    )


class KMeansExactnessError(RuntimeError):
    """A cluster's membership grew past the integer-exactness budget:
    its per-dimension member sums can exceed 2^53, where double
    addition starts rounding and the trained model silently stops
    being bit-reproducible across partitionings and engines.

    THE ERROR IS THE CONTRACT — deliberately no automatic fallback.
    The published model definition is "Lloyd's over KM_QUANT
    micro-units with exact member sums", and the DuckDB oracle
    re-derives exactly that; any in-flight mitigation (re-quantizing
    shard partials to coarser units, or switching the fold order)
    trains a DIFFERENT model while still calling it the same thing —
    the silent-divergence failure mode this whole guard exists to
    kill. The operator's supported response, stated at the parameter:
    re-run with a coarser KM_QUANT (halving it buys 4× the member
    budget at twice the quantization step), which changes the model
    definition VISIBLY and identically in both engines."""


def _valid_quantized(
    spark: SparkSession,
    sf_dir: str,
    clamp: float,
    quant: float,
    with_raw: bool = False,
) -> DataFrame:
    """THE one Spark copy of the integer-exact trainers' input
    contract (k-means and PCA share it with different constants):
    drop rows whose embedding is NULL or carries any NULL /
    non-finite / |x| ≥ clamp component, quantize the rest to
    q_d = floor(x_d·quant + 0.5) stored as integer-VALUED doubles
    (plus the raw double vector when ``with_raw`` — the PCA
    projection input). Each family's oracle SQL mirrors this WHERE +
    floor per engine; keeping the Spark side in one helper means a
    validity-semantics fix cannot reach one trainer and miss the
    other."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    ok = F.forall(
        "embedding",
        lambda x: x.isNotNull() & (F.abs(x.cast("double")) < F.lit(clamp)),
    )
    cols = ["vec_id"]
    if with_raw:
        cols.append(
            F.transform("embedding", lambda x: x.cast("double")).alias("emb")
        )
    cols.append(
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * F.lit(quant) + F.lit(0.5)
            ).cast("double"),
        ).alias("q")
    )
    return emb.where(F.col("embedding").isNotNull() & ok).select(*cols)


def _train_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training corpus for the k-means trainer: embeddings QUANTIZED
    to integer micro-units (q_d = floor(x_d * 1e6 + 0.5), stored as
    integer-VALUED doubles) — _valid_quantized at the KM_* constants.

    Why integers: Lloyd's over doubles is FP-summation-order-dependent
    (partial sums race across partitions), so a double-valued trainer
    could only be checked rows-only. With every coordinate an integer
    and |x| < KM_CLAMP, every dot product and member sum the trainer
    computes stays below 2^53
    (EMB_DIM * (KM_CLAMP*1e6)^2 = 6.4e15 < 9.0e15), where IEEE double
    arithmetic on integers is EXACT in any evaluation order — so
    training is bit-reproducible across partitionings AND engines,
    and the DuckDB oracle replays it as an unrolled CTE (the PageRank
    oracle pattern). Member sums stay exact to ~9e8 vectors per
    cluster; past that a production trainer re-quantizes shard
    partials first — and the trainer ENFORCES that budget per
    iteration (KMeansExactnessError) instead of silently training on
    possibly-rounded sums.

    The filter drops malformed vectors (NULL / non-finite /
    |x| >= KM_CLAMP components) from the MODEL — the NaN-poisoning
    contract, doubling as the exactness budget.
    Assignment output still covers every row (_assign_rows scores
    garbage rows against the finite model deterministically)."""
    return _valid_quantized(spark, sf_dir, KM_CLAMP, KM_QUANT)


def _kmeans_iter_stats(
    qvec: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """One Lloyd's iteration's sufficient statistics as an
    Arrow-batched kernel that FUSES assignment with the partial
    gather: each partition matrix-multiplies its quantized vectors
    against the broadcast centroid model and emits only k·EMB_DIM
    (cid, dim, partial-sum, count, objective) cells — the in-mapper
    combiner (A3) for clustering. vs. the declarative
    posexplode+hashAggregate form (k·EMB_DIM cells too, but only AFTER
    shuffling EMB_DIM rows per vector into the partial aggregate's
    hash table): measured 4× faster at sf0.1 (5 passes 7.7 s → 1.9 s).

    Exactness: X and C are integer-valued (see _train_vectors), so
    X @ C.T is exact whatever BLAS blocking runs it (every product
    and partial sum < 2^53), the per-column division by the centroid
    norm is one correctly-rounded IEEE op, and the member partial
    sums are exact integers — the kernel's assignment and sums equal
    the unrolled-CTE oracle's bit-for-bit. Zero-norm centroids score
    -2.0 (below any real score) instead of dividing by zero."""
    import numpy as np
    import pandas as pd

    C = np.array([m for _cid, m in cents], dtype="float64")
    cids = np.array([cid for cid, _m in cents], dtype="int32")
    cn = np.sqrt((C * C).sum(axis=1))
    safe = np.where(cn == 0.0, 1.0, cn)
    k, d = C.shape

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["q"].to_numpy())
            score = (X @ C.T) / safe
            score[:, cn == 0.0] = -2.0
            a = np.argmax(score, axis=1)  # first max = lowest cid
            best = score[np.arange(len(a)), a]
            for j in range(k):
                m = a == j
                if not m.any():
                    continue
                obj = np.zeros(d)
                obj[0] = best[m].sum()
                yield pd.DataFrame(
                    {
                        "cid": np.full(d, cids[j], dtype="int32"),
                        "dim": np.arange(d, dtype="int32"),
                        "s": X[m].sum(axis=0),
                        "n": np.full(d, int(m.sum()), dtype="int64"),
                        "obj": obj,
                    }
                )

    return qvec.mapInPandas(gen, "cid int, dim int, s double, n long, obj double")


def train_spherical_kmeans(
    qvec: DataFrame, k: int = NCENTROIDS, iters: int = KMEANS_ITERS
) -> tuple[list[tuple[int, list[float]]], list[float]]:
    """Spherical k-means (Lloyd's) under cosine geometry over the
    QUANTIZED corpus: assign each vector to the centroid maximizing
    dot(q, M) / |M| (the cosine argmax — the query norm is a positive
    per-row constant, so dividing by it cannot change the winner),
    then set each centroid to its members' RE-QUANTIZED mean,
    M'_d = floor(sum_d / count + 0.5). Returns (centroid model
    [(cid, M)], per-iteration objective = Σ best scores).

    Every step is exact-integer arithmetic or a single
    correctly-rounded IEEE op (see _train_vectors), so the trained
    model is BIT-REPRODUCIBLE across partitionings and engines — the
    property that upgraded kmeans_centroids / knn_ivf_kmeans from
    rows-only to hash-gated driver rows, with the DuckDB oracle
    replaying the whole loop as an unrolled CTE.

    The MODEL is what is small — k·EMB_DIM driver-held integers, the
    A9 collect-to-broadcast pattern — while the corpus sees ONE job
    per iteration: an Arrow kernel fusing assignment with the
    in-mapper partial gather (_kmeans_iter_stats), so each task sends
    ≤ k·EMB_DIM sufficient-statistic cells to a final hash-aggregate —
    the same bounded gather PageRank rides. Empty clusters keep their
    previous centroid (standard Lloyd's fallback). The
    loop-with-small-model driver shape mirrors the reference's
    PageRank loop (a4/RunPersonalizedPageRankBasic.java:102-146); no
    clustering exists in the reference surface itself."""
    import math

    seed = qvec.where(F.col("vec_id") < k).orderBy("vec_id").collect()
    cents = [(i, [float(x) for x in r.q]) for i, r in enumerate(seed)]
    history: list[float] = []
    if not cents:  # empty corpus: nothing to train
        return cents, [0.0] * iters
    dims = len(cents[0][1])
    for _ in range(iters):
        cells = (
            _kmeans_iter_stats(qvec, cents)
            .groupBy("cid", "dim")
            .agg(
                F.sum("s").alias("s"),
                F.sum("n").alias("n"),
                F.sum("obj").alias("obj"),
            )
            .collect()
        )
        sums: dict[int, list[float]] = {}
        counts: dict[int, int] = {}
        obj = 0.0
        for c in cells:
            sums.setdefault(c.cid, [0.0] * dims)[c.dim] = float(c.s)
            counts[c.cid] = c.n
            if c.dim == 0:
                obj += float(c.obj)
        # ENFORCED exactness budget: a coordinate's member sum is
        # bounded by count·KM_CLAMP·KM_QUANT; past 2^53 the sums this
        # iteration just folded may already have rounded, so refuse to
        # build a model from them. Counts come with the stats anyway — the
        # guard is one comparison per cluster per iteration.
        for cid, n in counts.items():
            # int arithmetic for the same boundary-exactness reason as
            # the PCA guard (_collect_pca_stats): the float product
            # n·CLAMP·QUANT can round at the 2^53 edge.
            if n * int(KM_CLAMP * KM_QUANT) >= KM_EXACT_BUDGET:
                raise KMeansExactnessError(
                    f"cluster {cid} has {n} members; member sums may "
                    f"exceed {KM_EXACT_BUDGET:.0f} (= 2^53) and stop "
                    "being exact integers — re-quantize shard partials "
                    "before the global fold (see class docstring)"
                )
        history.append(obj)
        cents = [
            (
                cid,
                [
                    float(math.floor(s / counts[cid] + 0.5))
                    for s in sums[cid]
                ]
                if counts.get(cid)
                else m,  # empty cluster: keep the previous centroid
            )
            for cid, m in cents
        ]
    return cents, history


def _model_rows(
    cents: list[tuple[int, list[float]]],
) -> list[tuple[int, list[float], float]]:
    """Trained integer centroids → the (cid, c_emb, c_nrm) model rows
    that _ivf_search / _assign_rows consume: c_emb = M / 1e6 (one
    correctly-rounded division per coordinate), c_nrm =
    sqrt(exact integer |M|²) / 1e6 — the oracle reproduces both with
    the same two IEEE ops, so the model is bit-identical across
    engines."""
    import math

    out = []
    for cid, m in cents:
        s2 = sum(int(x) * int(x) for x in m)  # exact (python int)
        out.append(
            (cid, [x / KM_QUANT for x in m], math.sqrt(float(s2)) / KM_QUANT)
        )
    return out


def _trained_model(spark: SparkSession, sf_dir: str):
    """(centroid model rows, objective history, checkpointed
    raw-cosine assignment carrying best_cos), trained ONCE per
    (session, corpus) in the session memo and shared by both
    registered k-means queries — the converged_lineitem_ranks
    phase-handoff pattern (operators/graph.py): the extractor/search
    reads the trained model instead of re-running the iterations.

    The inverted-file assignment is _assign_rows — the same
    bit-portable fold knn_ivf's inverted file uses — over the RAW
    double vectors, so the search path is IDENTICAL to knn_ivf's
    (only the model rows differ) and the oracle replays it with the
    shared search-SQL body.

    The memo key folds in ``source_marker`` (path + mtime + size), the
    build_once staleness discipline: rewriting the embeddings table
    in-place during a long-lived session invalidates the memo instead
    of serving a model trained on the old corpus."""
    from ..sources.maintenance import session_memo

    def build():
        qvec = _train_vectors(spark, sf_dir).transform(artifact_checkpoint)
        # Size iteration tasks to the DATA, not the session: the
        # trainer runs 4 kernel jobs over this frame, and at small
        # corpora 32 tasks of ~150 rows are pure scheduling +
        # Python-worker overhead (at sf0.1 the Lloyd's loop was
        # 2.8 s of a 5 s cold path, mostly task overhead). ~64k rows
        # per task; a corpus big enough to fill the session's
        # parallelism keeps it (coalesce only ever narrows).
        # Training output is partition-INVARIANT by the
        # integer-exactness design (pinned in
        # test_kmeans_training_is_partition_invariant), so this is a
        # pure scheduling choice, never a result change.
        n_rows = qvec.count()  # cheap: checkpointed frame
        p = max(1, min(
            spark.sparkContext.defaultParallelism, -(-n_rows // 65536)
        ))
        if p < qvec.rdd.getNumPartitions():
            qvec = qvec.coalesce(p)
        cents, hist = train_spherical_kmeans(qvec)
        model = _model_rows(cents)
        assigned = _assign_rows(
            _vectors(spark, sf_dir), model, with_cos=True
        ).transform(artifact_checkpoint)
        return (model, hist, assigned)

    return session_memo(spark, sf_dir, "embeddings", "kmeans_v2", build)


def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the k-means trainer: per-cluster size,
    mean cosine-to-centroid (tightness), and the centroid rendered as
    the canonical 6-dp comma-joined string (exact — centroid
    coordinates ARE integer micro-units, so the 6-dp rendering loses
    nothing).

    HASH-GATED: the quantized trainer is bit-reproducible, the per-row cosine against
    the trained model comes from the portable fold (_assign_rows),
    and the mean is taken over cosines QUANTIZED to integer
    micro-units — the sum of integers < 2^53 is exact in any order,
    so even the average is summation-order-free. Non-finite cosines
    (garbage vectors) quantize to NULL, which both engines' AVG
    skips."""
    model, _hist, assigned = _trained_model(spark, sf_dir)
    c = F.col("best_cos")
    qcos = F.when(
        F.abs(c) < F.lit(float("inf")),
        F.floor(c * F.lit(KM_QUANT) + F.lit(0.5)).cast("double"),
    )
    stats = assigned.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        (F.avg(qcos) / F.lit(KM_QUANT)).alias("mean_raw"),
    )
    cent_df = spark.createDataFrame(
        [(cid, ",".join(f"{x:.6f}" for x in emb)) for cid, emb, _nrm in model],
        "cid int, centroid string",
    )
    return (
        # Broadcast the non-preserved LEFT side: a right-outer join can
        # only build/broadcast its left input (a hint on the preserved
        # cent_df side would be silently ignored).
        F.broadcast(stats).join(cent_df, "cid", "right")  # keep empty clusters
        .select(
            "cid",
            F.coalesce("n_members", F.lit(0)).alias("n_members"),
            F.coalesce(round6(F.col("mean_raw")), F.lit(0.0)).alias("mean_cos"),
            "centroid",
        )
        .orderBy("cid")
    )


def knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with TRAINED centroids — the proof that k-means
    plugs into the same plan shape: identical probe/search plan as
    knn_ivf, only the 16 model rows differ. HASH-GATED: the trained
    model is bit-reproducible (quantized
    trainer) and the search is knn_ivf's portable-fold plan verbatim,
    so the oracle is the unrolled training CTE feeding knn_ivf's own
    search SQL. recall@K_NN against the exact bruteforce is pinned in
    tests/test_similarity.py. Training is shared with
    kmeans_centroids via _trained_model; the checkpointed assignment
    IS the trained inverted file (built once, every search seeks)."""
    model, _hist, assigned = _trained_model(spark, sf_dir)
    return _ivf_search(_cent_frame(spark, model), assigned.drop("best_cos"))


def ivf_index_path(sf_dir: str) -> str:
    """Canonical on-disk location for the persisted inverted file of a
    given corpus (stable md5 digest — the index.index_path pattern)."""
    from ..sources.maintenance import corpus_tmp_path

    return corpus_tmp_path("hs_ivf_", sf_dir)


def write_ivf_index(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Persist the IVF inverted file PARTITIONED BY centroid id: each
    cid is a parquet directory partition, so a probe's cid filter
    prunes whole lists at the storage layer — the on-disk analogue of
    "search only NPROBE lists"."""
    vec = _vectors(spark, sf_dir)
    assigned = _assigned_frame(vec, _centroids(vec))
    assigned.write.partitionBy("cid").mode("overwrite").parquet(out_path)


def knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF pipeline end-to-end through STORAGE: build the inverted
    file, persist it partitioned by cid, read it back, probe and
    search — the deployment shape of ANN serving (index built once,
    queries seek into it), completing the K2/S5 storage story for
    similarity search the way boolean_retrieval_persisted does for
    boolean retrieval.

    The probe side joins the read-back index on its PARTITION column,
    so Spark's dynamic partition pruning restricts the scan to the
    probed cids (at 10⁹ vectors: NPROBE·|queries| directory reads, not
    a corpus scan). Results must be identical to knn_ivf (same
    oracle); parquet round-trips doubles exactly, so cosines are
    bit-identical.

    Build-once: the inverted file is rebuilt only when the
    embeddings-keyed marker is missing/stale (maintenance.build_once)
    — ANN serving builds the index once and every query seeks, so
    repeat invocations measure the probe path."""
    from ..sources.maintenance import build_once, session_memo, source_marker

    out = ivf_index_path(sf_dir)
    marker = source_marker(sf_dir, "embeddings", "ivf_v1")
    build_once(out, marker, lambda: write_ivf_index(spark, sf_dir, out))
    # Explicit schema: an EMPTY corpus writes a partition-less dir
    # that cannot schema-infer, and it also pins the partition-column
    # type (directory keys would otherwise infer per-run).
    idx = spark.read.schema(
        "vec_id bigint, emb array<double>, nrm double, cid int"
    ).parquet(out)
    # Centroid model read back from the INDEX itself (centroid id =
    # vec_id < NCENTROIDS by contract) — a 16-row pushed-filter read,
    # so serving depends only on the persisted artifact, never on a
    # fresh corpus scan. Memoized under the index's own marker
    # (embeddings, ivf_v1): serving loads the model once alongside
    # the index, not once per query.
    cent_rows = session_memo(
        spark,
        sf_dir,
        "embeddings",
        "ivf_v1",
        lambda: [
            (int(r.vec_id), list(r.emb), float(r.nrm))
            for r in idx.where(F.col("vec_id") < NCENTROIDS)
            .select("vec_id", "emb", "nrm")
            .orderBy("vec_id")
            .collect()
        ],
    )
    return _ivf_search(_cent_frame(spark, cent_rows), idx)


QUANT_BITS_MAX = 127  # symmetric int8 range


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus
    — the storage/serving compression step of an embedding pipeline
    (4x smaller vectors; dot products rescale by scale_a·scale_b).

    q_i = round-half-away-from-zero(x_i / scale), scale = max|x|/127
    (zero vectors quantize to all-zero with scale 1). Pure codegen
    projection + JVM-side posexplode — no shuffle, no Python; the
    rounding is the portable floor form, so the DuckDB oracle
    reproduces every cell bit-exactly and the driver hash-gates the
    quantizer itself. Output order is within-partition only: the
    ×EMB_DIM-exploded stream is the registry's biggest output, and a
    global orderBy would range-partition-shuffle it purely for
    presentation (the driver hash is order-insensitive).
    """
    vec = _raw_vectors(spark, sf_dir)
    amax = F.array_max(F.transform("emb", F.abs))
    vec = vec.withColumn(
        "scale",
        F.when(amax > 0, amax / F.lit(float(QUANT_BITS_MAX))).otherwise(F.lit(1.0)),
    )
    ratio = F.col("x") / F.col("scale")
    q = (
        F.when(ratio < 0, -F.floor(-ratio + F.lit(0.5)))
        .otherwise(F.floor(ratio + F.lit(0.5)))
        .cast("int")
    )
    return (
        vec.select(
            "vec_id",
            "scale",
            F.posexplode("emb").alias("dim", "x"),
        )
        .select(
            "vec_id",
            "dim",
            q.alias("q"),
            round6(F.col("scale")).alias("scale"),
        )
        .sortWithinPartitions("vec_id", "dim")
    )


PCA_K = 8
# --- fixed-point PCA: the k-means/SGD integer-quantization recipe
# applied to the covariance sufficient statistics, which makes
# embedding_pca hash-gated rather than rows-only.
#
# Vectors are quantized to integer micro-units (q_d = floor(x·PQ+0.5))
# so the Gram matrix, per-dimension sums, and count are exact integers
# in ANY summation order (every partial stays below 2^53 — guarded at
# train time by PcaExactnessError on the measured n·maxq² bound).
# The decomposition itself is NOT an eigensolve (not portable, not
# SQL-expressible): the model is DEFINED as PCA_POWER_STEPS rounds of
# deflated power iteration over cov = G/n − (s/n)(s/n)ᵀ from the fixed
# all-ones start vector, every op a correctly-rounded IEEE +,−,×,÷ or
# sqrt executed in a pinned left-to-right order — so the driver-side
# Python trainer (_pca_power_train) and the DuckDB recursive-CTE
# oracle produce bit-identical components, with no shared literal
# injected anywhere (the oracle re-derives the model from the parquet
# alone, the kmeans-oracle property). On a near-flat spectrum (this
# testdata: λ₂/λ₁ ≈ 0.99) the fixed-step components are NOT the exact
# eigh eigenvectors — deterministically so in both engines — but the
# spanned subspace captures ≥98.5% of the optimal top-k variance
# (pinned in tests/test_similarity.py); on real embedding spectra
# (decaying) the same iteration converges to true PCA.
PCA_QUANT = 8192.0  # stats micro-units (coarser than KM_QUANT: the
#     Gram products square the coordinates, so the 2^53 headroom is
#     n·(maxq)² — at 8192 a |x|<1 corpus keeps exact stats to ~10⁸
#     rows; 1e6 would cap it at ~10³)
PCA_CLAMP = 64.0  # |x| validity bound (garbage/NaN/Inf rows carry no
#     geometry for a covariance model; dropped from stats AND output,
#     identically in both engines — the _train_vectors contract)
PCA_POWER_STEPS = 24  # fixed T: the model contract, not a tolerance

# Separate from KM_EXACT_BUDGET so tests can lower one guard without
# tripping the other family's trainer.
PCA_EXACT_BUDGET = 2.0**53

# Static per-PRODUCT budget: one Gram term is at most (CLAMP·QUANT)².
# Explicit raise (not assert) so the check survives python -O.
if (PCA_CLAMP * PCA_QUANT) ** 2 >= PCA_EXACT_BUDGET:
    raise AssertionError(
        "PCA Gram-product budget exceeded by the module constants "
        "themselves; shrink PCA_QUANT or PCA_CLAMP"
    )


class PcaExactnessError(RuntimeError):
    """The corpus grew past the PCA integer-exactness budget: a Gram
    cell's sum of n products of two |q| ≤ maxq micro-unit coordinates
    can exceed 2^53, where double addition starts rounding and the
    sufficient statistics silently stop being bit-reproducible across
    partitionings and engines. Raised instead of training on: at this
    scale a production trainer re-quantizes to a coarser PCA_QUANT
    (halving QUANT buys 4× the row budget at twice the quantization
    step) before the stats pass."""


def _pca_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, emb double[], q double[]) — the PCA corpus: raw double
    vectors for the projection plus their integer micro-unit twins for
    the exact-stats pass — _valid_quantized at the PCA_* constants;
    the oracle twin is the matching WHERE in the embedding_pca SQL."""
    return _valid_quantized(spark, sf_dir, PCA_CLAMP, PCA_QUANT, with_raw=True)


def _gram_kernel(batches):
    """Arrow kernel emitting each partition's QUANTIZED Gram-matrix
    partial sums (EMB_DIM² cells), per-dimension sums, row count, and
    max |q| — the in-mapper combiner (A3) for covariance: a task
    contributes O(d²) cells no matter how many vectors it scans.
    X is integer-valued (see _pca_vectors), so X.T @ X is exact
    whatever BLAS blocking runs it — every product and partial sum is
    below 2^53 (enforced downstream by the PcaExactnessError guard on
    the exact n and maxq this kernel also emits)."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        X = np.stack(pdf["q"].to_numpy())
        G = X.T @ X
        i, j = np.meshgrid(np.arange(EMB_DIM), np.arange(EMB_DIM), indexing="ij")
        out = pd.DataFrame(
            {
                "i": i.ravel().astype("int32"),
                "j": j.ravel().astype("int32"),
                "g": G.ravel(),
            }
        )
        sums = pd.DataFrame(
            {
                "i": np.arange(EMB_DIM, dtype="int32"),
                "j": np.full(EMB_DIM, -1, dtype="int32"),
                "g": X.sum(axis=0),
            }
        )
        cnt = pd.DataFrame({"i": [-1], "j": [-1], "g": [float(len(X))]})
        mx = pd.DataFrame(
            {"i": [-2], "j": [-1], "g": [float(np.abs(X).max()) if X.size else 0.0]}
        )
        yield pd.concat([out, sums, cnt, mx], ignore_index=True)


def _pca_fold(vals) -> float:
    """Left-to-right double fold from 0.0 — the ONE summation order
    every PCA model op uses, mirrored term-for-term by the oracle's
    list_reduce([0.0] || …) folds."""
    acc = 0.0
    for v in vals:
        acc = acc + v
    return acc


def _pca_matvec(c: list[list[float]], v: list[float]) -> list[float]:
    return [
        _pca_fold([c[i][j] * v[j] for j in range(EMB_DIM)])
        for i in range(EMB_DIM)
    ]


def _pca_power_train(G, s, n: float):
    """PCA_K components via deflated power iteration over the exact
    integer stats — the portable model DEFINITION (see the module
    constants): each of the PCA_K rounds runs PCA_POWER_STEPS of
    v ← Cv/||Cv|| from the all-ones start, takes λ = vᵀCv (Rayleigh),
    canonicalizes the sign (largest-|loading| coordinate positive,
    ties to the lowest index), and deflates C ← C − λvvᵀ. Every
    expression here is mirrored op-for-op in the embedding_pca oracle
    SQL; a zero matvec (rank-deficient C) keeps the zero vector in
    both engines instead of dividing by zero. Returns (components
    [PCA_K×d], rayleigh values in extraction order)."""
    import math

    d = EMB_DIM
    c = [
        [G[i][j] / n - (s[i] / n) * (s[j] / n) for j in range(d)]
        for i in range(d)
    ]
    comps: list[list[float]] = []
    lams: list[float] = []
    for _k in range(PCA_K):
        v = [1.0] * d
        for _t in range(PCA_POWER_STEPS):
            y = _pca_matvec(c, v)
            nrm = math.sqrt(_pca_fold([x * x for x in y]))
            v = y if nrm == 0.0 else [x / nrm for x in y]
        y = _pca_matvec(c, v)
        lam = _pca_fold([v[j] * y[j] for j in range(d)])
        jstar = 0
        for j in range(1, d):
            if abs(v[j]) > abs(v[jstar]):
                jstar = j
        comps.append([-x for x in v] if v[jstar] < 0.0 else list(v))
        lams.append(lam)
        c = [
            [c[i][j] - lam * v[i] * v[j] for j in range(d)]
            for i in range(d)
        ]
    return comps, lams


def _pca_components(spark: SparkSession, sf_dir: str):
    """Top-PCA_K portable components of the embedding corpus, trained
    once per (session, corpus): ONE corpus pass aggregates the exact
    integer Gram/mean/count statistics (d² + d + 2 cells total through
    the shuffle), the driver checks the 2^53 budget on the measured
    (n, maxq) and runs the fixed-order power-iteration decomposition
    (A9 collect-to-model — d=64, trivially driver-sized at any corpus
    scale). Returns (components [k×d], rayleigh values, n) — the
    components are bit-identical to the DuckDB oracle's, see the
    module constants."""

    from ..sources.maintenance import session_memo

    def build():
        G, s, n, _maxq = _collect_pca_stats(_pca_vectors(spark, sf_dir))
        if n == 0:
            return [], [], 0
        comps, lams = _pca_power_train(G, s, n)
        return comps, lams, int(n)

    return session_memo(spark, sf_dir, "embeddings", "pca_v2", build)


def _collect_pca_stats(vec: DataFrame):
    """Gather the exact-integer PCA sufficient statistics from a
    (…, q double[]) frame and enforce the 2^53 budget on the measured
    (n, maxq). Split from _pca_components so the partition-invariance
    test can run the SAME gather under different partitionings — the
    statistics are exact integers, so the collected (G, s, n) must be
    bit-identical whatever Spark's partial-sum tree looked like.
    Returns (G [d×d], s [d], n, maxq)."""
    cells = (
        vec.mapInPandas(_gram_kernel, "i int, j int, g double")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"), F.max("g").alias("mx"))
        .collect()
    )
    G = [[0.0] * EMB_DIM for _ in range(EMB_DIM)]
    s = [0.0] * EMB_DIM
    n = 0.0
    maxq = 0.0
    for c in cells:
        if c.i == -2:
            maxq = c.mx
        elif c.i == -1:
            n = c.g
        elif c.j == -1:
            s[c.i] = c.g
        else:
            G[c.i][c.j] = c.g
    # Exact-integer bound: n and maxq are integer-valued doubles, but
    # the PRODUCT n·maxq² computed in doubles can round by a few ulps
    # right at the 2^53 boundary — a corpus exactly at the edge could
    # slip past a float compare. Python ints are arbitrary-precision
    # and int-vs-float comparison is mathematically exact, so this
    # compare cannot mis-classify the boundary.
    if n > 0 and int(n) * int(maxq) ** 2 >= PCA_EXACT_BUDGET:
        raise PcaExactnessError(
            f"corpus of {int(n)} vectors with max |q| = {int(maxq)} "
            f"micro-units exceeds the 2^53 Gram-sum budget "
            f"(n·maxq² = {float(int(n) * int(maxq) ** 2):.3e}); "
            "re-quantize with a coarser PCA_QUANT before training"
        )
    return G, s, n, maxq


def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of every valid embedding onto the corpus's
    PCA_K portable components — the dimensionality-reduction /
    whitening stage before clustering or coarse ANN (project once,
    index the short vectors).

    Train: _pca_components (one exact-integer sufficient-statistics
    pass + the driver-side fixed-order power-iteration decomposition,
    memoized per corpus). Apply: a codegen projection — each coord is
    the portable left-fold dot of the raw double vector against one
    component (dot_fold, the kmeans-assignment pattern) — no Python,
    no shuffle except the presentation orderBy. HASH-GATED (float
    Gram partials would be FP-order-dependent): the stats are exact
    integers, the
    decomposition is pinned-order IEEE arithmetic, and the DuckDB
    oracle re-derives the identical model from the parquet alone."""
    comps, _lams, _n = _pca_components(spark, sf_dir)
    if not comps:
        return spark.createDataFrame([], "vec_id long, k int, coord double")
    karr = F.array(
        *[
            dot_fold(F.col("emb"), F.array(*[F.lit(x) for x in comp]))
            for comp in comps
        ]
    )
    vec = _pca_vectors(spark, sf_dir)
    return (
        vec.select("vec_id", F.posexplode(karr).alias("k", "coord"))
        .select("vec_id", "k", round6(F.col("coord")).alias("coord"))
        .orderBy("vec_id", "k")
    )


_VEC_INNER = f"""
        SELECT vec_id,
               list_transform(embedding, x -> x::DOUBLE) AS emb,
               sqrt({dot_fold_sql('embedding', 'embedding', EMB_DIM)}) AS nrm
        FROM embeddings
        WHERE embedding IS NOT NULL
"""

_VEC_CTE = f"""
    WITH vec AS MATERIALIZED ({_VEC_INNER})
"""

_COS_QV = dot_fold_sql("q.emb", "v.emb", EMB_DIM) + " / (q.nrm * v.nrm)"
_COS_CV = dot_fold_sql("c.emb", "v.emb", EMB_DIM) + " / (c.nrm * v.nrm)"
_COS_CQ = dot_fold_sql("c.emb", "q.emb", EMB_DIM) + " / (c.nrm * q.nrm)"

# The IVF search body shared by the seed-centroid and TRAINED-centroid
# oracles: assignment of every raw vector to its best centroid, probe
# selection, candidate scoring, top-K ranking — over whatever `vec`
# (raw vectors) and `cent` (centroid model) CTEs precede it. This is
# the SQL twin of _ivf_search + _assign_rows.
_IVF_SEARCH_SQL = f"""
        assigned AS MATERIALIZED (
            SELECT vec_id, emb, nrm, cid FROM (
                SELECT v.vec_id, v.emb, v.nrm, c.cid,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {_COS_CV} DESC, c.cid) AS arank
                FROM vec v, cent c
            ) WHERE arank = 1
        ),
        q AS MATERIALIZED (SELECT vec_id AS query_id, emb, nrm FROM assigned
              WHERE vec_id < {N_QUERIES}),
        probes AS MATERIALIZED (
            SELECT query_id, emb, nrm, cid FROM (
                SELECT q.query_id, q.emb, q.nrm, c.cid,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_COS_CQ} DESC, c.cid) AS prank
                FROM q, cent c
            ) WHERE prank <= {NPROBE}
        ),
        scored AS (
            SELECT q.query_id, v.vec_id AS neighbor_id, {_COS_QV} AS cos_raw
            FROM probes q JOIN assigned v USING (cid)
            WHERE v.vec_id <> q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, rank, neighbor_id, {round6_sql('cos_raw')} AS cosine
        FROM ranked WHERE rank <= {K_NN}
        ORDER BY query_id, rank
"""

ORACLE_SQL: dict[str, str] = {
    "knn_bruteforce": _VEC_CTE + f"""
        , q AS (SELECT vec_id AS query_id, emb, nrm FROM vec
                WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.query_id, v.vec_id AS neighbor_id, {_COS_QV} AS cos_raw
            FROM q, vec v
            WHERE v.vec_id <> q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, rank, neighbor_id, {round6_sql('cos_raw')} AS cosine
        FROM ranked WHERE rank <= {K_NN}
        ORDER BY query_id, rank
    """,
    "knn_ivf": _VEC_CTE + f"""
        , cent AS (SELECT vec_id AS cid, emb, nrm FROM vec
                   WHERE vec_id < {NCENTROIDS}),
        {_IVF_SEARCH_SQL}
    """,
}

ORACLE_SQL["knn_ivf_persisted"] = ORACLE_SQL["knn_ivf"]


def _kmeans_train_sql(quant: float = KM_QUANT) -> str:
    """The quantized Lloyd's loop as an UNROLLED DuckDB CTE chain (the
    PageRank-oracle pattern — aggregates are illegal inside a
    recursive CTE, and KMEANS_ITERS is a fixed constant anyway):
    qv = quantized training vectors, cents0 = seeds, then per
    iteration assign{{i}} (exact-arithmetic argmax, ties → lowest cid)
    → upd{{i}} (exact per-dim member sums, re-quantized mean) →
    cents{{i+1}} (empty clusters keep their centroid). Every
    arithmetic step mirrors the Spark trainer op-for-op (see
    _train_vectors for the exactness argument), so the final
    cents{{KMEANS_ITERS}}.m lists are bit-identical to the Python
    model. ``quant`` parameterizes the micro-unit step — default is
    the registered model definition; the recovery-contract test
    regenerates the oracle at a COARSER step to prove the documented
    budget-exceeded response end to end."""
    dotq = dot_fold_sql
    filt = (
        "list_aggregate(list_transform(embedding, "
        f"x -> x IS NOT NULL AND abs(x::DOUBLE) < {KM_CLAMP!r}), 'bool_and')"
    )
    blocks = [
        f"""qv AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                              x -> floor(x::DOUBLE * {quant!r} + 0.5)) AS q
        FROM embeddings
        WHERE embedding IS NOT NULL AND {filt}
    ),
    cents0 AS MATERIALIZED (
        SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid, q AS m
        FROM qv WHERE vec_id < {NCENTROIDS}
    )"""
    ]
    for i in range(KMEANS_ITERS):
        # centroid norm computed ONCE per centroid per iteration (the
        # kernel precomputes cn the same way) — folding |m|² inside
        # the per-(vector, centroid) score re-ran the 64-step fold
        # 2·|qv| times per centroid and dominated the oracle's cost
        score = (
            f"CASE WHEN c.mm = 0 THEN -2.0 "
            f"ELSE {dotq('v.q', 'c.m', EMB_DIM)} / sqrt(c.mm) END"
        )
        blocks.append(
            f"""centn{i} AS MATERIALIZED (
        SELECT cid, m, {dotq('m', 'm', EMB_DIM)} AS mm FROM cents{i}
    ),
    assign{i} AS MATERIALIZED (
        SELECT vec_id, q, cid FROM (
            SELECT v.vec_id, v.q, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {score} DESC, c.cid) AS arank
            FROM qv v, centn{i} c
        ) WHERE arank = 1
    ),
    upd{i} AS MATERIALIZED (
        SELECT cid, list(floor(s / n + 0.5) ORDER BY dim) AS m
        FROM (
            SELECT cid, dim, sum(val) AS s, count(*) AS n FROM (
                SELECT a.cid, g.dim::INT AS dim, a.q[g.dim + 1] AS val
                FROM assign{i} a,
                     (SELECT unnest(generate_series(0, {EMB_DIM - 1})) AS dim) g
            ) GROUP BY cid, dim
        ) GROUP BY cid
    ),
    cents{i + 1} AS MATERIALIZED (
        SELECT c.cid, COALESCE(u.m, c.m) AS m
        FROM cents{i} c LEFT JOIN upd{i} u USING (cid)
    )"""
        )
    return ",\n    ".join(blocks)


def _kmeans_model_sql(quant: float = KM_QUANT) -> str:
    """The trained integer centroids themselves, one (cid, m) row per
    cluster — the model-level parity surface (the _pca_model_sql
    pattern): the recovery-contract test re-trains at a coarser quant
    and compares the Python model against THIS, bit-for-bit."""
    return (
        f"WITH {_kmeans_train_sql(quant)}\n"
        f"    SELECT cid, m FROM cents{KMEANS_ITERS} ORDER BY cid"
    )


# Trained-centroid model CTE body: c_emb = M/1e6, c_nrm =
# sqrt(exact |M|²)/1e6 — the same two IEEE ops as _model_rows.
_KM_CENT_SQL = (
    f"SELECT cid, list_transform(m, x -> x / {KM_QUANT!r}) AS emb, "
    f"sqrt({dot_fold_sql('m', 'm', EMB_DIM)}) / {KM_QUANT!r} AS nrm "
    f"FROM cents{KMEANS_ITERS}"
)

ORACLE_SQL["knn_ivf_kmeans"] = f"""
    WITH {_kmeans_train_sql()},
    vec AS ({_VEC_INNER}),
    cent AS ({_KM_CENT_SQL}),
    {_IVF_SEARCH_SQL}
"""

ORACLE_SQL["kmeans_centroids"] = f"""
    WITH {_kmeans_train_sql()},
    vec AS ({_VEC_INNER}),
    cent AS ({_KM_CENT_SQL}),
    assigned AS (
        SELECT vec_id, cid, ac FROM (
            SELECT v.vec_id, c.cid, {_COS_CV} AS ac,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {_COS_CV} DESC, c.cid) AS arank
            FROM vec v, cent c
        ) WHERE arank = 1
    ),
    stats AS (
        SELECT cid, count(*) AS n_members,
               avg(CASE WHEN isfinite(ac)
                        THEN floor(ac * {KM_QUANT!r} + 0.5) END)
               / {KM_QUANT!r} AS mean_raw
        FROM assigned GROUP BY cid
    )
    SELECT c.cid, COALESCE(s.n_members, 0) AS n_members,
           COALESCE({round6_sql('s.mean_raw')}, 0.0) AS mean_cos,
           array_to_string(
               list_transform(c.m, x -> printf('%.6f', x / {KM_QUANT!r})),
               ',') AS centroid
    FROM cents{KMEANS_ITERS} c LEFT JOIN stats s USING (cid)
    ORDER BY c.cid
"""

ORACLE_SQL["embedding_quantize"] = f"""
    WITH vec AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
        FROM embeddings
        WHERE embedding IS NOT NULL
    ),
    scaled AS (
        SELECT vec_id, emb,
               CASE WHEN list_max(list_transform(emb, x -> abs(x))) > 0
                    THEN list_max(list_transform(emb, x -> abs(x)))
                         / {float(QUANT_BITS_MAX)!r}::DOUBLE
                    ELSE 1.0::DOUBLE END AS scale
        FROM vec
    ),
    cells AS (
        SELECT vec_id, dim::INT AS dim, emb[dim + 1] / scale AS ratio, scale
        FROM scaled, (SELECT unnest(generate_series(0, {EMB_DIM - 1})) AS dim) g
    )
    SELECT vec_id, dim,
           (CASE WHEN ratio < 0 THEN -floor(-ratio + 0.5)
                 ELSE floor(ratio + 0.5) END)::INT AS q,
           {round6_sql('scale')} AS scale
    FROM cells ORDER BY vec_id, dim
"""

def _pca_cte_chain(quant: float = PCA_QUANT) -> list[str]:
    """The embedding_pca model re-derived end-to-end in DuckDB CTEs —
    quantized exact-integer stats, then the fixed-order deflated
    power iteration as one recursive CTE per component (PageRank/
    k-means-oracle family; the T-step chain is a recursive CTE, not
    PCA_K·T unrolled CTEs, which cut the oracle's fixed cost ~10×:
    4.5 s → 0.5 s at sf0.01). Every fold is list_reduce from an
    explicit 0.0 seed — the exact op sequence of _pca_fold — and
    every CTE referenced more than once is MATERIALIZED (DuckDB 1.0
    re-executes inlined CTEs per reference). Ends with the ``comps``
    (k, comp) table; _pca_oracle_sql projects the corpus against it,
    and the model-parity test reads it directly."""
    d = EMB_DIM
    t_steps = PCA_POWER_STEPS

    def fold_sq(y: str) -> str:
        return (
            f"list_reduce([0.0::DOUBLE] || list_transform({y}, x -> x * x), "
            "(a, b) -> a + b)"
        )

    def fold_prod(v: str, y: str) -> str:
        return (
            f"list_reduce([0.0::DOUBLE] || list_transform({v}, "
            f"(x, j) -> x * {y}[j]), (a, b) -> a + b)"
        )

    def matvec(c: str, v: str) -> str:
        return (
            f"list_transform({c}, r -> list_reduce([0.0::DOUBLE] || "
            f"list_transform(r, (x, j) -> x * {v}[j]), (a, b) -> a + b))"
        )

    filt = (
        "list_reduce([TRUE] || list_transform(embedding, "
        f"x -> x IS NOT NULL AND abs(x::DOUBLE) < {PCA_CLAMP!r}), "
        "(a, b) -> a AND b)"
    )
    ctes = [
        f"""val AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb,
               list_transform(embedding,
                              x -> floor(x::DOUBLE * {quant!r} + 0.5)) AS q
        FROM embeddings
        WHERE embedding IS NOT NULL AND {filt}
    )""",
        f"""cells AS MATERIALIZED (
        SELECT gi.i, gj.j, sum(v.q[gi.i] * v.q[gj.j]) AS g
        FROM val v, generate_series(1, {d}) gi(i), generate_series(1, {d}) gj(j)
        GROUP BY gi.i, gj.j
    )""",
        f"""stats AS MATERIALIZED (
        SELECT (SELECT list(g ORDER BY i * {d} + j) FROM cells) AS gf,
               (SELECT list(sq ORDER BY i) FROM (
                    SELECT gi.i AS i, sum(v.q[gi.i]) AS sq
                    FROM val v, generate_series(1, {d}) gi(i) GROUP BY gi.i)) AS s,
               (SELECT count(*)::DOUBLE FROM val) AS n
    )""",
        f"""st0 AS MATERIALIZED (
        -- n > 0: on an EMPTY corpus the covariance divides by n = 0
        -- and every downstream model CTE would be NULL/NaN garbage;
        -- with the guard the model chain is simply empty, matching
        -- _pca_components' n == 0 early return (the registered
        -- projection was already safe — cross-joining empty val —
        -- but _pca_model_sql consumers read the comps table raw).
        SELECT list_transform(generate_series(1, {d}), i ->
                 list_transform(generate_series(1, {d}), j ->
                   gf[(i - 1) * {d} + j] / n - (s[i] / n) * (s[j] / n))) AS c
        FROM stats WHERE n > 0
    )""",
    ]
    for k in range(PCA_K):
        ctes.append(
            f"""pw{k} AS (
        SELECT 0 AS t, c,
               list_transform(generate_series(1, {d}), x -> 1.0::DOUBLE) AS v
        FROM st{k}
        UNION ALL
        SELECT t + 1, c,
               CASE WHEN nrm = 0.0 THEN y
                    ELSE list_transform(y, x -> x / nrm) END
        FROM (SELECT t, c, y, sqrt({fold_sq('y')}) AS nrm
              FROM (SELECT t, c, {matvec('c', 'v')} AS y
                    FROM pw{k} WHERE t < {t_steps}))
    )""",
        )
        ctes.append(
            f"""fin{k} AS MATERIALIZED (
        SELECT c, v, {fold_prod('v', 'y')} AS lam
        FROM (SELECT c, v, {matvec('c', 'v')} AS y
              FROM pw{k} WHERE t = {t_steps})
    )""",
        )
        ctes.append(
            f"""cmp{k} AS MATERIALIZED (
        SELECT CASE WHEN v[jstar] < 0.0
                    THEN list_transform(v, x -> -x) ELSE v END AS comp
        FROM (SELECT v, (SELECT j FROM generate_series(1, {d}) t(j)
                         ORDER BY abs(v[j]) DESC, j LIMIT 1) AS jstar
              FROM fin{k})
    )""",
        )
        ctes.append(
            f"""st{k + 1} AS MATERIALIZED (
        SELECT list_transform(c, (r, i) ->
                 list_transform(r, (x, j) -> x - lam * v[i] * v[j])) AS c
        FROM fin{k}
    )""",
        )
    comps_sel = " UNION ALL ".join(
        f"SELECT {k} AS k, comp FROM cmp{k}" for k in range(PCA_K)
    )
    ctes.append(f"comps AS MATERIALIZED ({comps_sel})")
    return ctes


def _pca_oracle_sql() -> str:
    """embedding_pca's registered oracle: the model chain plus the
    portable-fold projection of every valid vector onto it."""
    coord = dot_fold_sql("v.emb", "c.comp", EMB_DIM)
    return (
        "WITH RECURSIVE "
        + ",\n    ".join(_pca_cte_chain())
        + f"""
    SELECT v.vec_id, c.k::INT AS k, {round6_sql(coord)} AS coord
    FROM val v CROSS JOIN comps c ORDER BY vec_id, k
"""
    )


def _pca_model_sql(quant: float = PCA_QUANT) -> str:
    """The trained components themselves, one row per (k, comp) — the
    model-level parity surface the cross-engine test compares against
    _pca_power_train bit-for-bit (stronger than the projection
    compare: a coordinate error that round6 masks in every projected
    coord would still fail here). Requires a NON-EMPTY corpus to
    return rows (st0's n > 0 guard yields zero rows otherwise).
    ``quant`` regenerates the model chain at a coarser micro-unit
    step for the recovery-contract test."""
    return (
        "WITH RECURSIVE "
        + ",\n    ".join(_pca_cte_chain(quant))
        + "\n    SELECT k, comp FROM comps ORDER BY k\n"
    )


ORACLE_SQL["embedding_pca"] = _pca_oracle_sql()

QUERIES = {
    "knn_bruteforce": knn_bruteforce,
    "knn_ivf": knn_ivf,
    "knn_ivf_persisted": knn_ivf_persisted,
    "kmeans_centroids": kmeans_centroids,
    "knn_ivf_kmeans": knn_ivf_kmeans,
    "embedding_quantize": embedding_quantize,
    "embedding_pca": embedding_pca,
}
