"""Differential + property tests for the dedup operator family."""

from __future__ import annotations

import ast

import pytest

from hadoop_and_spark_spark.operators import dedup
from hadoop_and_spark_spark.oracle import compare


@pytest.mark.parametrize("name", sorted(dedup.QUERIES))
def test_dedup_vs_oracle(spark, sf_dir, name):
    ok, msg = compare(spark, sf_dir, dedup.QUERIES[name], dedup.ORACLE_SQL[name])
    assert ok, f"{name}: {msg}"


def test_sketch_kernels_match_expressions(spark, sf_dir):
    """The Arrow band kernels must emit exactly the band keys the
    declarative pipelines emit (kernel speed must not change the
    candidate space)."""
    import pyspark.sql.functions as F

    from hadoop_and_spark_spark.functions.portable import let_col, poly_hash

    sh = dedup._docs_with_shingles(spark, sf_dir)
    expr_bk = let_col(
        F.transform(F.col("sh"), poly_hash),
        lambda hs: let_col(
            dedup._minhash_sig(hs),
            lambda sig: dedup._band_keys(sig, dedup.MINHASH_BANDS, dedup.MINHASH_ROWS),
        ),
    )
    want = {
        (r.doc_id, r.bk)
        for r in sh.select("doc_id", F.explode(expr_bk).alias("bk")).collect()
    }
    got = {
        (r.doc_id, r.bk)
        for r in dedup._docs_with_hashed_shingles(spark, sf_dir)
        .mapInPandas(dedup._minhash_banded_kernel, "doc_id bigint, bk string")
        .collect()
    }
    # validates the full kernel chain (string shingles → int64 hashes
    # → permutations → band keys) against the declarative rendering
    assert got == want

    docs = sh.sparkSession.read.parquet(f"{sf_dir}/documents.parquet")
    from hadoop_and_spark_spark.functions import tokenize

    bits_expr = docs.select(
        "doc_id",
        let_col(F.transform(tokenize("text"), poly_hash), dedup._simhash_bits).alias(
            "bits"
        ),
    )

    def pack(bits):  # bit i at position 63-i, two's complement int64
        u = 0
        for b in bits:
            u = (u << 1) | int(b)
        return u - (1 << 64) if u >= (1 << 63) else u

    want_sig = {r.doc_id: pack(r.bits) for r in bits_expr.collect()}
    got_rows = (
        docs.select("doc_id", "text")
        .mapInPandas(
            dedup._simhash_banded_kernel,
            "doc_id bigint, sig bigint, bk bigint",
        )
        .collect()
    )
    got_sig = {r.doc_id: r.sig for r in got_rows}
    assert got_sig == want_sig


def test_minhash_matches_exhaustive(spark, sf_dir):
    """Verified-LSH must recover the exhaustive Jaccard pair set on
    this corpus (planted dups sit at ≈0.97, far above the miss zone)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert lsh == exact
    assert len(exact) > 0, "fixture should contain planted near-dups"


def test_portable_hash_parity(spark):
    """poly_hash / affine / dot_fold must be bit-identical across
    engines — the invariant every LSH oracle depends on."""
    import duckdb
    from pyspark.sql import functions as F

    from hadoop_and_spark_spark.functions.portable import (
        dot_fold,
        dot_fold_sql,
        poly_hash,
        poly_hash_sql,
    )

    words = ["", "a", "hello world", "Mixed CASE 42!", "räksmörgås"]
    srows = (
        spark.createDataFrame([(w,) for w in words], ["w"])
        .select("w", poly_hash("w").alias("h"))
        .collect()
    )
    con = duckdb.connect()
    for r in srows:
        lit = "'" + r.w.replace("'", "''") + "'"
        (oh,) = con.execute(f"select {poly_hash_sql(lit)}").fetchone()
        assert oh == r.h, r.w

    def float_list_sql(vals: list[float]) -> str:
        return "[" + ", ".join(repr(v) + "::DOUBLE" for v in vals) + "]"

    xs, ys = [0.1, -2.5, 3.25, 0.125], [1.5, 2.0, -0.5, 4.0]
    sv = (
        spark.createDataFrame([(xs, ys)], ["x", "y"])
        .select(dot_fold(F.col("x"), F.col("y")).alias("d"))
        .collect()[0]
        .d
    )
    (dv,) = con.execute(
        f"select {dot_fold_sql(float_list_sql(xs), float_list_sql(ys), 4)}"
    ).fetchone()
    assert sv == dv


def test_simhash_banding_is_lossless(spark, sf_dir):
    """4 bands × 16 bits guarantees every pair with Hamming ≤ 3 shares
    a band (pigeonhole) — so results are independent of banding. The
    oracle already brute-forces; here we pin the threshold invariant."""
    rows = dedup.dedup_simhash(spark, sf_dir).collect()
    assert all(r.hamming <= dedup.HAMMING_MAX for r in rows)
    assert dedup.SIMHASH_BANDS > dedup.HAMMING_MAX


def test_exact_dedup_covers_all_docs(spark, sf_dir):
    from hadoop_and_spark_spark.catalog import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    groups = dedup.dedup_exact(spark, sf_dir).collect()
    assert sum(r.n_copies for r in groups) == n_docs


def test_connected_components_transitive_chain(spark):
    """A-B and B-C pairs must merge into one component labeled by the
    minimum id even though A-C never appears, and disjoint pairs stay
    separate."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        (r.node, r.component)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (7, 1), (10, 10), (11, 10)}


def test_disk_heap_multiplier_is_codec_aware(tmp_path, sf_dir):
    """The broadcast gate's on-disk term was calibrated against
    snappy-compressed bytes; the session now writes zstd (~26%
    tighter), so a zstd-written corpus must scale the multiplier up
    (ADVICE r12). Snappy test corpora keep the calibrated x8; unknown
    or unreadable paths degrade conservative (x11 → merge join)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_and_spark_spark.catalog import table_path

    # the committed test corpus is snappy, single-file layout
    assert dedup._disk_heap_multiplier(table_path(sf_dir, "documents")) == 8
    # a session-written (directory) corpus in zstd
    pq.write_table(
        pa.table({"x": [1, 2, 3]}),
        str(tmp_path / "part-0.parquet"),
        compression="zstd",
    )
    assert dedup._disk_heap_multiplier(str(tmp_path)) == 11
    # unreadable/missing: conservative
    assert dedup._disk_heap_multiplier(str(tmp_path / "absent")) == 11


def test_connected_components_clique_converges_in_one_round(spark):
    """Round-13 job economy: neighbor-min initialization starts labels
    one propagation step ahead, so a CLIQUE — the shape planted
    near-dup families take — is at its fixed point before the loop
    runs and the first confirmation round is the last. max_iter=1
    succeeding on a triangle pins the saved round (label-per-node
    initialization needed a propagation round first and would raise
    here)."""
    tri = spark.createDataFrame(
        [(2, 1), (2, 3), (1, 3)], "doc_a long, doc_b long"
    )
    got = {
        (r.node, r.component)
        for r in dedup.connected_components(tri, max_iter=1).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_connected_components_raises_when_not_converged(spark):
    """Exhausting max_iter must fail loudly, not return partially
    propagated (wrong) labels: a 6-node path graph cannot converge in
    one min-label round."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=1)


def test_dedup_clusters_consistent_with_pairs(spark, sf_dir):
    """Every doc in a verified pair appears in exactly one cluster;
    both endpoints of every pair share a cluster; cluster_id is the
    cluster minimum."""
    pair_rows = dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    rows = dedup.dedup_clusters(spark, sf_dir).collect()
    cluster_of = {r.doc_id: r.cluster_id for r in rows}
    assert len(cluster_of) == len(rows)  # one row per doc
    docs_in_pairs = {r.doc_a for r in pair_rows} | {r.doc_b for r in pair_rows}
    assert set(cluster_of) == docs_in_pairs
    for r in pair_rows:
        assert cluster_of[r.doc_a] == cluster_of[r.doc_b]
    from collections import Counter

    sizes = Counter(cluster_of.values())
    for r in rows:
        assert r.cluster_size == sizes[r.cluster_id]
        assert r.cluster_id == min(
            d for d, c in cluster_of.items() if c == r.cluster_id
        )


def test_embedding_dedup_at_production_threshold(spark, tmp_path):
    """The same LSH+verify pipeline at a production threshold (0.9)
    on a corpus WITH planted near-dups must recover exactly the
    planted pairs: the testdata's t=0.4 contract exists only because
    its embeddings are pure random (no planted pairs); the operator
    itself is threshold-generic."""
    import numpy as np

    rng = np.random.default_rng(42)
    base = rng.normal(size=(200, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    planted = []
    for j in range(6):  # near-copy of vector j with tiny noise
        noisy = base[j] + rng.normal(scale=0.02, size=64)
        noisy /= np.linalg.norm(noisy)
        cos = float(base[j] @ noisy)
        assert cos > 0.97
        rows.append((200 + j, [float(x) for x in noisy]))
        planted.append((j, 200 + j))
    sf = tmp_path / "sf_planted"
    sf.mkdir()
    spark.createDataFrame(
        [(i, v) for i, v in rows], "vec_id long, embedding array<float>"
    ).write.parquet(str(sf / "embeddings.parquet"))

    got = {
        (r.vec_a, r.vec_b)
        for r in dedup.dedup_embedding(
            spark, str(sf), cosine_t=0.9
        ).collect()
    }
    assert got == set(planted)


def test_strict_embedding_recovers_exactly_planted_pairs(spark):
    """dedup_embedding_strict over the committed fixture must return
    exactly the 20 planted (i, 1000+i) pairs at cosine >= 0.97 — no
    mid-similarity distractor (ids 2000+) and no random pair."""
    rows = dedup.dedup_embedding_strict(spark, "ignored").collect()
    got = {(r.vec_a, r.vec_b) for r in rows}
    assert got == {(i, 1000 + i) for i in range(20)}
    for r in rows:
        assert r.cosine >= 0.97


def test_strict_banding_prunes_uncapped(spark):
    """The wide-band geometry must bound the candidate stage by
    itself: uncapped candidate pairs under 4x16 banding stay below 3%
    of the all-pairs space (vs ~64% expected collisions under the
    16x4 geometry, which is why THAT one needs the bucket cap)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(dedup.EMB_FIXTURE)
    n = emb.count()
    vec = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    banded = vec.mapInPandas(
        dedup._emb_banded_kernel_fn(
            dedup.EMB_STRICT_BANDS, dedup.EMB_STRICT_ROWS
        ),
        "vec_id bigint, bk string",
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), "bk")
        .where(F.col("x.vec_id") < F.col("y.vec_id"))
        .select("x.vec_id", "y.vec_id")
        .distinct()
        .count()
    )
    all_pairs = n * (n - 1) // 2
    assert cand / all_pairs < 0.03, (cand, all_pairs)


def test_decontaminate_planted_overlap(spark, tmp_path):
    """A doc quoting an eval-set trigram must flag; a doc of tokens
    disjoint from the eval set must not."""
    from hadoop_and_spark_spark.operators.dedup import (
        DECON_EVAL_DOCS,
        decontaminate,
    )

    eval_docs = [
        (i, f"secret benchmark answer number{i} alpha beta", "en", "u", 40)
        for i in range(DECON_EVAL_DOCS)
    ]
    corpus = [
        (100, "leaked copy of the secret benchmark answer here", "en", "u", 48),
        (101, "completely unrelated tokens xyzzy plugh quux", "en", "u", 44),
    ]
    spark.createDataFrame(
        eval_docs + corpus,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {r.doc_id: r for r in decontaminate(spark, str(tmp_path)).collect()}
    assert got[100].contaminated and got[100].n_hits >= 1
    assert not got[101].contaminated and got[101].n_hits == 0


def test_broadcast_gate_measures_long_docs(spark, tmp_path):
    """The strategy gate must flip to merge joins on a LONG-document
    corpus even when the ROW COUNT alone looks broadcastable: the old
    576 B/doc constant assumed the testdata's ~44 shingles/doc, so a
    corpus of 3000-token documents slipped under the row bound with
    ~50x the real shingle bytes — exactly the OOM class the gate
    exists to prevent. The repetitive text also compresses far below
    the normal ~2.4x on disk, so the on-disk term alone would miss it
    too; the LIMIT-sampled token-count term is what catches it."""
    from pyspark.sql import functions as F

    from hadoop_and_spark_spark.operators.dedup import _corpus_fits_broadcast

    long_dir = tmp_path / "longdocs"
    spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.array_join(F.array_repeat(F.lit("tok"), 3000), " ").alias("text"),
    ).coalesce(1).write.parquet(str(long_dir / "documents.parquet"))
    short_dir = tmp_path / "shortdocs"
    spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.lit("a few short tokens only").alias("text"),
    ).coalesce(1).write.parquet(str(short_dir / "documents.parquet"))

    assert _corpus_fits_broadcast(spark, str(short_dir))
    assert not _corpus_fits_broadcast(spark, str(long_dir))
    # the retired row-count-only bound would NOT have flipped: same
    # rows, and 2000 * 576 B is far under the 64 MB session threshold
    assert 2000 * 576 < 64 << 20


def _plan_nodes(plan):
    """Every physical node of an executed plan, descending into the
    final adaptive plan and through query stages."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _plan_nodes(plan.plan())
        return
    yield plan
    it = plan.children().iterator()
    while it.hasNext():
        yield from _plan_nodes(it.next())


@pytest.mark.parametrize(
    "allow_broadcast, join", [(False, "SortMergeJoinExec"), (True, "BroadcastHashJoinExec")]
)
def test_band_pairs_broadcast_policy_reaches_the_plan(spark, allow_broadcast, join):
    """The candidate step's join policy survives to the final adaptive
    plan: a tiny banded frame, far under the session's broadcast
    threshold, still sort-merge joins when broadcast is not allowed."""
    from pyspark.sql import functions as F

    assert int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")) > 1 << 20
    banded = spark.range(40).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).alias("bk")
    )
    pairs = dedup._band_pairs(banded, "doc_id", ("doc_a", "doc_b"), allow_broadcast)
    assert len(pairs.collect()) == 4 * (10 * 9 // 2)
    joins = [
        n.getClass().getSimpleName()
        for n in _plan_nodes(pairs._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName().endswith("JoinExec")
    ]
    assert joins == [join]


def _inline_band_self_joins(tree: ast.AST) -> list[int]:
    """Lines of every ``<…>.alias("x")….join(<…>.alias("y") …)`` call
    in ``tree`` outside ``_band_pairs``."""

    def aliases(node, name):
        return any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "alias"
            and [getattr(a, "value", None) for a in n.args] == [name]
            for n in ast.walk(node)
        )

    skip: set[int] = set()
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name == "_band_pairs":
            skip |= {id(n) for n in ast.walk(fn)}
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "join"
        and id(node) not in skip
        and aliases(node.func.value, "x")
        and any(aliases(a, "y") for a in node.args)
    ]


def test_inline_self_join_detector_flags_band_joins_only():
    src = (
        "def _band_pairs(b):\n"
        "    return b.alias('x').join(b.alias('y'), 'bk')\n"
        "c = b.alias('x').join(b.hint('merge').alias('y'), 'bk').distinct()\n"
        "d = a.alias('x').join(b, 'k')\n"
        "e = a.alias('l').join(b.alias('r'), 'k')\n"
    )
    assert _inline_band_self_joins(ast.parse(src)) == [3]


def test_band_pairs_is_the_only_band_self_join():
    with open(dedup.__file__) as fh:
        assert _inline_band_self_joins(ast.parse(fh.read())) == []
