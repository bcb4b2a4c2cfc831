"""Deduplication operators over the ``documents`` corpus.

Beyond the reference surface (SURVEY §7 M7): the operations a
large-scale training-data pipeline needs. Five dedup families, each a
registered query with a DuckDB oracle:

- ``dedup_exact``        — hash-groupBy on md5(text): one shuffle of
                           (hash, id), never the payload.
- ``dedup_ngram_jaccard``— exact token-trigram Jaccard via a shingle
                           posting-list join (never an all-pairs cross
                           join: pairs are generated only for docs that
                           *share* a shingle, so cost scales with
                           Σ df(shingle)², not N²).
- ``dedup_minhash_lsh``  — MinHash signatures (64 perms) → 16 bands ×
                           4 rows LSH bucketing → candidate pairs →
                           exact-Jaccard verification. The scale path:
                           candidate generation touches only
                           signature-collision pairs.
- ``dedup_simhash``      — 64-bit SimHash, 4 bands × 16 bits. By
                           pigeonhole, any pair within Hamming
                           distance 3 shares ≥1 full band, so banding
                           is *lossless* here: output is exactly all
                           pairs with distance ≤ 3.
- ``dedup_embedding``    — cosine near-dup over ``embeddings`` via
                           random-hyperplane sign-LSH (64 planes, 16
                           bands × 4 bits) + exact-cosine verification.

Determinism / oracle parity: all hashes and projections come from
``functions.portable`` — plain integer/double arithmetic that
evaluates bit-identically in Spark and DuckDB, so the oracle can
replicate the *entire* pipeline (signatures, banding, verification)
and hash-match exactly. For the LSH operators the operator's contract
is explicitly "banded candidates ∩ exact-verified" (standard verified-
LSH semantics); ``dedup_ngram_jaccard`` is the exhaustive ground truth
to diff against.

Every near-dup family is a cheap candidate step followed by exact
verification. ``_band_pairs`` is the one candidate step: the distinct
id pairs that share a bucket key (the n-gram prefix shingle, or an
LSH band key). Its ``allow_broadcast`` argument is each family's join
policy:
- n-gram prefix join and MinHash: ``_corpus_fits_broadcast``, the
  corpus-size gate (merge-hinted over the bound);
- SimHash and embedding sign-LSH: broadcast allowed (no gate yet).

Scale notes (100 TB corpus):
- Shingle hashing and the MinHash, SimHash and embedding band keys run
  as vectorized Arrow kernels (``mapInPandas``) — narrow per-row
  maps, no shuffle — each an integer- or IEEE-exact replica of a
  reference form the differential tests diff it against: the
  expression forms ``_minhash_sig``, ``_simhash_bits`` and
  ``_band_keys``, and for the embedding signs the oracle's
  ``_emb_bits_sql``.
- The only shuffles are groupBy/join on (band_key) and (pair) — both
  narrow keys; payloads (text, shingle arrays) are joined back only
  for the tiny candidate set.
- Skewed band buckets (near-identical cluster floods) are handled by
  AQE skew-join; a production run would also cap bucket size (any
  bucket ≫ expected size is a degenerate flood — dedup it exactly).

Reference parity: the reference has no dedup operators; the nearest
shapes are the within-line token dedup (a1/PairsPMI.java:68-86) and
the inverted-index posting construction (a3/BuildInvertedIndexCompressed.java:66-132),
whose explode→groupBy skeleton ``dedup_ngram_jaccard`` reuses.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..functions import tokenize, tokenize_sql
from ..session import fan_out
from ..sources.maintenance import artifact_checkpoint
from ..functions.portable import (
    HASH_P,
    affine_perms,
    dot_const_sql,
    dot_fold,
    dot_fold_sql,
    hyperplanes,
    let_col,
    poly_hash,
    round6,
    poly_hash_sql,
)

SHINGLE_N = 3  # token trigrams
JACCARD_T = 0.7  # near-dup threshold (planted dups sit at ≈0.97; the
# corpus has no pairs between ~0.1 and 0.9, so 0.7 keeps every true
# dup while giving the prefix filter a short prefix: |A|−⌈0.7|A|⌉+1)
# Prune-side threshold, strictly slacker than the accept filter: the
# verify accepts round6(J) >= JACCARD_T, which admits true Jaccard
# down to JACCARD_T − 5e-7, so every PRUNE (prefix length, AllPairs
# length filter) must use a bound <= that — otherwise a boundary pair
# the DuckDB oracle keeps could be pruned before verification.
JACCARD_T_PRUNE = JACCARD_T - 1e-6
MINHASH_K = 64
MINHASH_BANDS = 16
MINHASH_ROWS = 4  # 16 × 4 = 64
SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 4 bands × 16 bits; lossless for HAMMING_MAX < 4
HAMMING_MAX = 3
EMB_DIM = 64
EMB_PLANES = 64
EMB_BANDS = 16
EMB_ROWS = 4
COSINE_T = 0.4
# Band-bucket candidate cap: within each LSH band bucket only the
# EMB_BUCKET_CAP lowest vec_ids generate candidate pairs. 4-bit bands
# have only 2^4 keys, so a bucket holds ~N/16 of the corpus per band
# and the uncapped self-join is near-quadratic at the test-only
# COSINE_T=0.4 (at production thresholds >=0.8 the bands themselves
# prune >97% and the cap never binds). The cap bounds every bucket's
# pair count at C(cap,2) regardless of corpus size; overflow rows are
# DROPPED (documented recall trade — deterministic, lowest-id wins,
# mirrored exactly in the DuckDB oracle).
EMB_BUCKET_CAP = 32

_PERMS = affine_perms(MINHASH_K, seed=1)
_SIM_PERMS = affine_perms(SIMHASH_BITS, seed=2)
_PLANES = hyperplanes(EMB_PLANES, EMB_DIM, seed=7)

_TOKS_SQL = tokenize_sql("text")


# ---------------------------------------------------------------- shingles

def _shingles(text: Column) -> Column:
    """Distinct token SHINGLE_N-grams (space-joined) of a document.

    Tokenization is let-bound: referencing the tokenize() expression
    directly inside the transform lambda would re-run the regex split
    once per position (~|toks|× per doc).
    """
    return let_col(
        tokenize(text),
        lambda toks: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size(toks) - (SHINGLE_N - 1), F.lit(1)),
                ),
                lambda i: F.concat_ws(" ", F.slice(toks, i, SHINGLE_N)),
            )
        ),
    )


def _shingles_sql(toks_expr: str) -> str:
    # DuckDB range() is end-exclusive; list slice t[i:j] is inclusive.
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({toks_expr}) - {SHINGLE_N - 2}, 2)), "
        f"i -> array_to_string({toks_expr}[i:i + {SHINGLE_N - 1}], ' ')))"
    )


_SH_CTE = f"""
    WITH sh AS MATERIALIZED (
        -- text IS NOT NULL: mirrors _docs_with_shingles — a null doc
        -- has no shingles (DuckDB's greatest() would otherwise fold
        -- it to [NULL] and the behavior downstream is accidental).
        SELECT doc_id, {_shingles_sql(_TOKS_SQL)} AS sh
        FROM documents
        WHERE text IS NOT NULL
    )
"""


def _docs_with_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) through the expression form ``_shingles``: the
    reference form the shingle Arrow kernel is diffed against in the
    tests."""
    # fan_out BEFORE the shingle projection: the HOF shingle build is
    # the expensive stage and must not run on one input split.
    # NULL text carries no content: the expression form would emit
    # sh=NULL (tokenize(null) propagates) and every downstream explode
    # drops the doc anyway — filtering here states that contract once
    # and keeps the Arrow-kernel twin (which would otherwise crash on
    # None) on identical inputs. A null-text doc participates in no
    # pairs and survives dedup; '' is CONTENT (one empty shingle) and
    # still participates.
    docs = fan_out(
        load_table(spark, sf_dir, "documents").where(
            F.col("text").isNotNull()
        )
    )
    return docs.select("doc_id", _shingles(F.col("text")).alias("sh"))


def _hashed_shingles_kernel(batches):
    """Arrow kernel: (doc_id, text) → (doc_id, sh array<bigint>) —
    integer-exact replica of transform(_shingles(text), poly_hash).
    Shingle STRINGS never leave this kernel: every downstream stage
    (document frequency, prefix filter, candidate join, exact-overlap
    verify, MinHash permutations) operates on fixed-width int64
    hashes — narrower shuffles, cheaper joins, and set-intersections
    on longs instead of ~30-char strings. Each distinct shingle per
    batch is hashed once (factorize), not once per instance.
    """
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        sh_lists = []
        for t in pdf["text"]:
            toks = _py_tokenize(t)
            if len(toks) >= SHINGLE_N:
                grams = [
                    " ".join(toks[i : i + SHINGLE_N])
                    for i in range(len(toks) - SHINGLE_N + 1)
                ]
            else:
                # _shingles edge case: sequence(1, greatest(n-2, 1))
                # emits one window of whatever tokens exist.
                grams = [" ".join(toks)]
            sh_lists.append(list(dict.fromkeys(grams)))
        inv, uniq = pd.factorize(
            np.asarray([s for lst in sh_lists for s in lst], dtype=object)
        )
        hs = _hash_strings_np(list(uniq))[inv]
        offs = np.cumsum([0] + [len(lst) for lst in sh_lists])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "sh": [hs[offs[i] : offs[i + 1]] for i in range(len(sh_lists))],
            }
        )


def _docs_with_hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # text IS NOT NULL: see _docs_with_shingles — null docs have no
    # shingles by the expression-twin contract, and the kernel would
    # alias None to ''s single empty shingle otherwise.
    docs = fan_out(
        load_table(spark, sf_dir, "documents").where(
            F.col("text").isNotNull()
        )
    )
    return docs.select("doc_id", "text").mapInPandas(
        _hashed_shingles_kernel, "doc_id bigint, sh array<bigint>"
    )


def _disk_heap_multiplier(path: str) -> int:
    """Heap-bytes-per-disk-byte multiplier for the broadcast gate's
    on-disk term, chosen from the corpus files' actual parquet codec
    (one footer read, driver-side, ~ms). The ×8 calibration
    (shingle-table heap measured at 5.6–6.2× the compressed corpus
    across the three test SFs, with margin) was done against SNAPPY
    files; the session now writes parquet as zstd (session.py), which
    packs ~26% tighter — a session-REWRITTEN corpus would slip under a
    snappy-calibrated gate with its real heap footprint unchanged, so
    higher-ratio codecs scale the multiplier by the measured zstd
    ratio (8/0.74 ≈ 11). Unknown codec or unreadable footer degrades
    CONSERVATIVE (larger estimate → merge join, which always
    survives)."""
    def parquet_files():
        # The test corpora are single .parquet FILES; session-written
        # corpora are directories of part files — handle both.
        if os.path.isfile(path):
            yield path
            return
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    yield os.path.join(root, f)

    try:
        import pyarrow.parquet as pq

        for f in parquet_files():
            md = pq.ParquetFile(f).metadata
            if md.num_row_groups and md.num_columns:
                codec = md.row_group(0).column(0).compression.upper()
                return (
                    8
                    if codec in {"SNAPPY", "UNCOMPRESSED", "LZ4", "LZ4_RAW"}
                    else 11
                )
    except Exception:  # noqa: BLE001 — gate must never fail the query
        pass
    return 11


def _corpus_fits_broadcast(spark: SparkSession, sf_dir: str) -> bool:
    """Whether corpus-derived per-doc frames (shingle arrays, prefix
    entries, shingle dfreq) are small enough to trust to broadcast
    joins on THIS session's heap.

    Catalyst's derived size estimates for these frames run far under
    their real footprint (a checkpointed 220 MB shingle table was
    estimated broadcastable — the 2 GiB memory probe turned that into
    a driver OOM at 100x corpus), so the operator decides from an
    honest statistic instead: the parquet footer row count times the
    measured per-doc shingle footprint (~44 int64 shingles, ~4x
    hashed-relation overhead), compared against the session's
    heap-scaled ``autoBroadcastJoinThreshold``. Under the bound the
    broadcast plans stand (they are the right plans for a
    dim-table-sized corpus); over it — big corpus OR small heap —
    every corpus-proportional join side is merge-hinted, which is the
    only strategy that survives 100 TB, where these frames are
    terabytes. Footer count costs one metadata-only job (~0.1 s),
    amortized by the pair-graph session memo.

    The footprint is MEASURED from three cheap statistics and the
    estimate is the max of them — a corpus evades the gate only by
    fooling all three at once:

    1. per-row floor: footer row count x 576 B — the testdata's
       measured shape (~44 deduped int64 shingles/doc -> UnsafeRow
       8 id + 16 array header + 44*8 ~ 376 B, x ~1.6 LongHashedRelation
       overhead). Catches many-short-docs corpora where per-row
       overhead dominates.
    2. on-disk bytes: parquet_data_size(documents) x a codec-aware
       multiplier (_disk_heap_multiplier: x8 as calibrated on the
       snappy test corpora — shingle heap measured at 5.6-6.2x the
       snappy bytes (text compresses ~2.4x; heap ~ tokens x 8 B x 1.6
       overhead ~ 2.1x raw text), with margin — scaled to x11 for
       zstd/gzip-written corpora, whose ~26% tighter files would
       otherwise erode exactly that margin now that the session writes
       zstd). Catches LONG-document corpora whose row count alone
       slips under the bound with 10x the shingle bytes.
    3. sampled shape: mean token count over the first 512 docs (one
       LIMIT job reading the leading pages — a full-scan sample would
       cost a corpus pass at 100 TB just to pick a join strategy) ->
       rows x (24 + mean_tokens x 8) x 1.6. Catches the case both
       others miss: long REPETITIVE documents, which compress far
       below 2.4x on disk (shingle memory doesn't compress).
       LIMIT-biased by design; the disk term backs it for corpora
       whose long docs hide past the sampled prefix."""
    try:
        threshold = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except ValueError:
        threshold = -1  # e.g. '10m' spelling: be conservative
    if threshold <= 0:
        return False
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    sampled = (
        docs.select(F.size(F.split("text", " ")).alias("ntok"))
        .limit(512)
        .agg(F.avg("ntok"))
        .first()[0]
    )
    from ..sources.maintenance import parquet_data_size

    from ..catalog import table_path

    docs_path = table_path(sf_dir, "documents")
    est = max(
        n_docs * 576,
        parquet_data_size(docs_path) * _disk_heap_multiplier(docs_path),
        int(n_docs * (24 + (sampled or 0.0) * 8) * 1.6),
    )
    return est < threshold


def _band_pairs(
    banded: DataFrame,
    id_col: str,
    names: tuple[str, str],
    allow_broadcast: bool,
    key: str = "bk",
    cond: Column | None = None,
    keep: tuple[Column, ...] = (),
) -> DataFrame:
    """The candidate step of every banded near-dup family: the distinct
    ``(names[0], names[1], *keep)`` of row pairs that share ``key``
    with ``x.id_col < y.id_col`` and ``cond`` (written over the
    ``x``/``y`` aliases).

    ``allow_broadcast`` has no default, so every caller states its
    join policy. False merge-hints the ``y`` side: a corpus-sized
    banded table then shuffles on ``key`` instead of riding Catalyst's
    size estimate into a broadcast build."""
    xid, yid = F.col(f"x.{id_col}"), F.col(f"y.{id_col}")
    on = (F.col(f"x.{key}") == F.col(f"y.{key}")) & (xid < yid)
    right = banded if allow_broadcast else banded.hint("merge")
    return (
        banded.alias("x")
        .join(right.alias("y"), on if cond is None else on & cond)
        .select(xid.alias(names[0]), yid.alias(names[1]), *keep)
        .distinct()
    )


def _verified_pairs(
    cand: DataFrame, sh: DataFrame, allow_broadcast: bool
) -> DataFrame:
    """Join shingle sets onto candidate (doc_a, doc_b) pairs and keep
    those with exact Jaccard ≥ JACCARD_T.

    The candidate set is bytes-tiny but CPU-heavy (an array_intersect
    per row), and AQE's size-based coalescing would otherwise fold the
    upstream distinct into one partition and run the whole verify on a
    single core. Unconditional repartition, NOT fan_out: cand is
    shuffle-rooted, and fan_out's partition introspection would
    execute the candidate pipeline eagerly (AQE finalizes — i.e.
    runs — upstream stages when the plan is converted to an RDD),
    doubling its cost."""
    cand = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
    # sh carries every doc's full shingle array — corpus-sized, so its
    # join strategy is decided by _corpus_fits_broadcast's honest
    # bound, never by Catalyst's carried-over estimate (which
    # undersold a 220 MB checkpoint into a broadcast the 2 GiB probe
    # turned into a driver OOM at 100x). Over the bound: pairs shuffle
    # by doc id, arrays shuffle once per side, works at any corpus
    # size.
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    if not allow_broadcast:
        a, b = a.hint("merge"), b.hint("merge")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # The intersect is evaluated inside a partial AGGREGATE, not a
    # projection: candidate pairs are already distinct, so
    # groupBy(pair).agg(first(...)) is a semantic no-op — but it is an
    # expression BARRIER. In the plain project+filter form, Catalyst's
    # CollapseProject + predicate pushdown substitute the jaccard
    # expression into every reference, re-running the O(|sh|)
    # array_intersect ~6x per pair (measured 2.5x wall on the 10x
    # probe corpus, 19M candidates). The aggregate evaluates it ONCE
    # map-side and ships only (pair, i, sa, sb) ints; the jaccard
    # arithmetic downstream is scalar and free to duplicate.
    sizes = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first(inter).alias("i"),
            F.first(F.size("sh_a")).alias("sa"),
            F.first(F.size("sh_b")).alias("sb"),
        )
    )
    union = (F.col("sa") + F.col("sb") - F.col("i")).cast("double")
    return (
        sizes.withColumn(
            "jaccard", round6(F.col("i").cast("double") / union)
        )
        .where(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
        .sortWithinPartitions("doc_a", "doc_b")
    )


_VERIFY_SQL = f"""
    SELECT c.doc_a, c.doc_b,
           (floor((len(list_intersect(a.sh, b.sh))::DOUBLE
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE)
                 * 1000000 + 0.5) / 1000000) AS jaccard
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b
    WHERE (floor((len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE)
                * 1000000 + 0.5) / 1000000) >= {JACCARD_T}
    ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------- exact

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by md5(text), keep the smallest doc_id.

    Scale: only (md5, doc_id) is shuffled — 48 bytes/row regardless of
    document size; the partial hash aggregate combines map-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("text_md5"), "doc_id")
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .sortWithinPartitions("text_md5")
    )


# ---------------------------------------------------------------- jaccard

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive token-trigram Jaccard near-dup pairs (≥ JACCARD_T).

    AllPairs/PPJoin-style prefix filtering (Bayardo et al., WWW'07;
    Xiao et al., WWW'08), exact for Jaccard ≥ t: order every doc's
    shingles canonically by (global document frequency asc, shingle),
    keep only the first |A| − ⌈t·|A|⌉ + 1 as its *prefix*. Two sets
    with Jaccard ≥ t MUST share a prefix shingle (if they disagreed on
    all prefix elements, the overlap couldn't reach t), so the pair
    join runs over prefixes only — the rare shingles — and the full
    arrays are joined back just for the candidate set. Pair-generation
    cost drops from Σ df(shingle)² to Σ df(prefix shingle)², which is
    what survives a 100× corpus: frequent shingles (the quadratic
    killers) sit at the END of the canonical order and never enter a
    short prefix.
    """
    from ..sources.maintenance import session_memo

    def build() -> DataFrame:
        return _ngram_pairs(spark, sf_dir).transform(artifact_checkpoint)

    # Like the MinHash pair graph: the verified pair table is the
    # pipeline's ARTIFACT, materialized once per (session, corpus)
    # and read by every downstream policy; cold mining cost is
    # published by tools/scaling_probe.py.
    return session_memo(spark, sf_dir, "documents", "ngram_pairs_v1", build)


def _ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize HASHED shingles once: consumed by the df-count, the
    # prefix build, and both verify sides — re-running the
    # tokenize+shingle+hash kernel 4× would dominate the runtime, and
    # int64 hashes keep every shuffle/join/intersect below narrow.
    sh = _docs_with_hashed_shingles(spark, sf_dir).transform(artifact_checkpoint)
    # Strategy gate for every corpus-proportional join side in this
    # pipeline (dfreq, the prefix self-join, the verify's shingle
    # arrays): shingle vocabulary and prefix volume grow with the
    # corpus (billions of rows at 100 TB), and Catalyst's derived size
    # estimates run small enough that it broadcast ALL of them even
    # unhinted — the 2 GiB memory probe caught the builds OOMing the
    # driver at 100x corpus. The estimates, not AQE, pick the strategy
    # at these non-shuffle-rooted sites, so the operator decides from
    # the honest footer-count bound instead and declares merge when
    # over it.
    allow_bcast = _corpus_fits_broadcast(spark, sf_dir)
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count("*").alias("df"))
    if not allow_bcast:
        dfreq = dfreq.hint("merge")
    # ONE aggregate buffer (the sorted (df, s) list); prefix length
    # and projection happen post-agg — the inlined form instantiated
    # three collect_list states per group.
    prefix = (
        ex.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "s"))).alias("arr"))
        .select(
            "doc_id",
            F.size("arr").alias("sz"),
            F.posexplode(
                F.transform(
                    F.slice(
                        "arr",
                        1,
                        F.size("arr")
                        - F.ceil(F.lit(JACCARD_T_PRUNE) * F.size("arr")).cast("int")
                        + 1,
                    ),
                    lambda x: x["s"],
                )
            ).alias("p0", "s"),
        )
    )
    # AllPairs length filter: J(A,B) <= min/max, so J >= t requires
    # min(|A|,|B|) >= t*max(|A|,|B|) — prunes size-incompatible
    # collisions inside the join, before the distinct and the verify.
    # PPJoin+ positional filter (Xiao et al., WWW'08): a prefix entry
    # matching at canonical positions (px, py) (1-based) bounds the
    # whole-set overlap at
    #   ub = min(px−1, py−1) + 1 + min(|A|−px, |B|−py)
    # (elements before the match can overlap at most min(px−1, py−1)
    # because both sides are sorted in the SAME global (df, shingle)
    # order; elements after at most min of the remaining lengths).
    # Jaccard ≥ t needs overlap ≥ t·(|A|+|B|)/(1+t), so entry pairs
    # whose ub falls short generate no candidate — this prunes the
    # replica-family collisions whose shared shingles sit DEEP in both
    # prefixes before they ever reach the distinct/verify stages. A
    # pair survives if ANY of its matching prefix entries passes
    # (every ub is a valid bound, so pruning only all-fail pairs is
    # exact). Both prune sites use JACCARD_T_PRUNE (t − 1e-6),
    # strictly slacker than the verify's round6(J) >= t (which admits
    # true J down to t − 5e-7): pruning can never be tighter than the
    # rounded accept filter, so no boundary pair the oracle keeps can
    # be dropped Spark-side.
    px = F.col("x.p0") + 1
    py = F.col("y.p0") + 1
    overlap_ub = (
        F.least(px - 1, py - 1)
        + 1
        + F.least(F.col("x.sz") - px, F.col("y.sz") - py)
    )
    overlap_needed = (
        F.lit(JACCARD_T_PRUNE)
        * (F.col("x.sz") + F.col("y.sz"))
        / F.lit(1.0 + JACCARD_T_PRUNE)
    )
    # Both sides of the prefix self-join are corpus-proportional (one
    # row per prefix entry per doc), so it takes the gate too.
    length_ok = F.least(F.col("x.sz"), F.col("y.sz")) >= F.lit(
        JACCARD_T_PRUNE
    ) * F.greatest(F.col("x.sz"), F.col("y.sz"))
    cand = _band_pairs(
        prefix, "doc_id", ("doc_a", "doc_b"), allow_bcast, key="s",
        cond=length_ok & (overlap_ub.cast("double") >= overlap_needed),
    )
    return _verified_pairs(cand, sh, allow_broadcast=allow_bcast)


# ---------------------------------------------------------------- minhash

def _minhash_sig(hs: Column) -> Column:
    """64-slot MinHash signature from a *materialized* base-hash array
    column (one poly-hash per shingle — computed once per row by the
    upstream projection, NOT re-inlined into each of the 64 slots).

    Pure projection: 64 affine permutations folded to their minimum —
    no explode, no shuffle. The permutation constants ride along as
    two literal array columns (2 Literal nodes total) instead of 64
    unrolled expressions — keeps the codegen'd method small.

    Reference form: the MinHash Arrow kernel must equal it, and the
    tests diff the two.
    """
    a_lit = F.lit([a for a, _ in _PERMS])
    b_lit = F.lit([b for _, b in _PERMS])
    return F.zip_with(
        a_lit,
        b_lit,
        lambda a, b: F.array_min(
            F.transform(hs, lambda h: (a.cast("long") * h + b) % HASH_P)
        ),
    )


def _band_keys(sig: Column, bands: int, rows: int) -> Column:
    """Band keys 'j-v1-v2-…' — the key format is internal (keys only
    ever meet keys from the same engine), only the band *partition* of
    the signature must match the oracle's. Reference form the banding
    kernels are diffed against in the tests."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.concat(
            j.cast("string"),
            F.lit("-"),
            F.concat_ws(
                "-",
                F.transform(
                    F.slice(sig, j * rows + 1, rows), lambda x: x.cast("string")
                ),
            ),
        ),
    )


_TOKEN_RE = None  # compiled lazily inside kernels (keeps import cheap)


def _py_tokenize(text: str) -> list[str]:
    """Python rendering of functions.tokenize: lowercase, squash
    non-[a-z0-9] runs to spaces, split, drop empties. Tokens that
    survive are pure ASCII [a-z0-9]+, so no Unicode-case divergence
    between Java and Python survives the filter.
    """
    global _TOKEN_RE
    if _TOKEN_RE is None:
        import re

        _TOKEN_RE = re.compile("[^a-z0-9]+")
    return [t for t in _TOKEN_RE.sub(" ", text.lower()).split(" ") if t]


def _hash_strings_np(strs: list[str]) -> "np.ndarray":
    """Vectorized poly_hash over many ASCII strings: masked left-fold
    over a padded code-point matrix — the same (acc*31 + c) % HASH_P
    op sequence per string as functions.portable.poly_hash (integer
    arithmetic, so exact). poly_hash('') = 0 in both renderings.
    """
    import numpy as np

    n = len(strs)
    if not n:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
    mx = int(lens.max())
    codes = np.zeros((n, mx), dtype=np.int64)
    for i, s in enumerate(strs):
        if s:
            codes[i, : len(s)] = np.frombuffer(
                s.encode("utf-32-le"), dtype=np.uint32
            )
    acc = np.zeros(n, dtype=np.int64)
    for j in range(mx):
        acc = np.where(j < lens, (acc * 31 + codes[:, j]) % HASH_P, acc)
    return acc


def _minhash_banded_kernel(batches):
    """Arrow kernel: (doc_id, sh array<bigint>) → exploded
    (doc_id, bk) band keys from pre-hashed shingles
    (_hashed_shingles_kernel). Integer-exact replica of
    _minhash_sig → _band_keys: the 64 affine permutations apply as
    one (S, 64) matrix op (products stay under 2^63: both factors
    < HASH_P ≈ 2^30), per-doc minima by segment.
    """
    import numpy as np
    import pandas as pd

    pa = np.array([a for a, _ in _PERMS], dtype=np.int64)
    pb = np.array([b for _, b in _PERMS], dtype=np.int64)
    for pdf in batches:
        if not len(pdf):
            continue
        sh_lists = [np.asarray(s, dtype=np.int64) for s in pdf["sh"]]
        hs = np.concatenate(sh_lists)
        perm = (hs[:, None] * pa[None, :] + pb[None, :]) % HASH_P
        offs = np.cumsum([0] + [len(lst) for lst in sh_lists])
        doc_ids, bks = [], []
        for r, did in enumerate(pdf["doc_id"]):
            # sh is never empty (the shingle builder emits ≥1 element)
            sig = perm[offs[r] : offs[r + 1]].min(axis=0)
            for j in range(MINHASH_BANDS):
                band = sig[j * MINHASH_ROWS : (j + 1) * MINHASH_ROWS]
                bks.append(f"{j}-" + "-".join(str(x) for x in band))
                doc_ids.append(did)
        yield pd.DataFrame({"doc_id": doc_ids, "bk": bks})


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup: signature → band buckets → candidate
    pairs → exact-Jaccard verification (≥ JACCARD_T).

    Contract: output = pairs that (a) collide in ≥1 of 16 bands and
    (b) verify at exact Jaccard ≥ JACCARD_T. At the planted-dup similarity
    (≈0.97) the per-pair miss probability is (1 − 0.97⁴)¹⁶ ≈ 1e-15.

    The signature pipeline runs as the Arrow kernel above (the
    interpreted 64-permutation fold was the hot stage; the expression
    form survives as _minhash_sig/_band_keys for the differential
    test). Shingles materialize once and serve the kernel plus both
    verify sides; the banded table materializes once for the
    self-join.
    """
    from ..sources.maintenance import session_memo

    def build() -> DataFrame:
        sh = _docs_with_hashed_shingles(spark, sf_dir).transform(artifact_checkpoint)
        banded = sh.mapInPandas(
            _minhash_banded_kernel, "doc_id bigint, bk string"
        ).transform(artifact_checkpoint)
        # banded is corpus-sized (16 rows/doc) — same strategy gate as
        # the ngram pipeline.
        allow_bcast = _corpus_fits_broadcast(spark, sf_dir)
        cand = _band_pairs(banded, "doc_id", ("doc_a", "doc_b"), allow_bcast)
        return _verified_pairs(
            cand, sh, allow_broadcast=allow_bcast
        ).transform(artifact_checkpoint)

    # The verified pair graph is THE artifact of near-dup detection —
    # every downstream policy (clustering, keep-one filtering,
    # decontamination audits) reads it, so it is built once per
    # (session, corpus) and served from the memo, exactly as a
    # production pipeline materializes its pair table before acting on
    # it. dedup_clusters consumes this same memo instead of re-running
    # MinHash; cold cost stays published via tools/scaling_probe.py.
    return session_memo(spark, sf_dir, "documents", "dup_pairs_v1", build)


# ------------------------------------------------- duplicate clustering

def connected_components(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components over an undirected (doc_a, doc_b) pair list
    by min-label propagation: every node's label converges to the
    smallest node id in its component. Returns (node, component).

    Scale shape: the iteration state is one (node, label) table keyed
    by node — NODES OF THE PAIR GRAPH ONLY, a tiny fraction of the
    corpus — and each round is one join + one grouped min, both
    shuffling on node id. Rounds needed = component diameter, and
    near-dup clusters are shallow (a planted-dup family is a clique —
    diameter 1), so the loop exits after 1–2 rounds.

    Each round runs exactly one Spark action (the loop is many small
    jobs of fixed overhead, so actions per round set its cost):

    - Labels start one propagation step ahead, label(u) = min over
      {u} ∪ N(u), from the groupBy that enumerates the nodes. A CLIQUE
      (the shape near-dup families take) is then already at its fixed
      point and converges in one round. The fixed point is the same:
      min-label propagation reaches the component min from any
      per-node start inside {u} ∪ N(u).
    - The convergence signal is a per-row ``changed`` flag carried in
      the round's own frame, so no join of new labels against old
      runs.
    - The round's localCheckpoint is lazy, and the changed-count is
      the action that materializes it.

    Raises if the loop exhausts ``max_iter`` without converging:
    partially-propagated labels are silently WRONG (they disagree with
    the oracle's exact transitive closure), so a component whose
    diameter exceeds the bound must fail loudly — raise ``max_iter``
    for general deep graphs.
    """
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = (
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .transform(artifact_checkpoint)
    )
    # Every node appears as u (edges are symmetrized), so this both
    # enumerates the nodes and takes the first propagation step.
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("nv"))
        .select("u", F.least("u", "nv").alias("label"))
        .transform(artifact_checkpoint)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("u").alias("v"), F.col("label").alias("vlabel")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vlabel").alias("nbr"))
        )
        stepped = labels.join(nbr_min, "u", "left").select(
            "u",
            F.least("label", F.coalesce("nbr", F.col("label"))).alias("label"),
            (
                F.least("label", F.coalesce("nbr", F.col("label")))
                < F.col("label")
            ).alias("changed"),
        )
        new_labels = artifact_checkpoint(stepped, eager=False)
        # This count is the round's ONE action: it materializes the
        # lazy checkpoint (truncating lineage exactly as the eager form
        # did) and reads the convergence signal off the flag column —
        # no second job, no new-vs-old join.
        changed = new_labels.where("changed").count()
        labels = new_labels.select("u", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the bound); labels would be "
            "partially propagated — raise max_iter"
        )
    return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: the production step after pair generation —
    group the verified MinHash pairs into connected components so a
    keep-one-per-cluster policy can act on whole duplicate families,
    not pairwise edges (A–B and B–C dups must collapse to one
    canonical doc even when A–C never collided).

    Output: (doc_id, cluster_id, cluster_size) for every doc in ≥1
    verified pair; cluster_id = min doc_id of the component (the
    canonical survivor under keep-lowest-id). The DuckDB oracle
    replicates the full pipeline with a recursive transitive-closure
    CTE, so the driver hash-checks the clustering too.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    wsize = Window.partitionBy("cluster_id")
    return (
        comp.select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        )
        .withColumn("cluster_size", F.count("*").over(wsize))
        .sortWithinPartitions("doc_id")
    )


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-cluster applied: the DEDUPLICATED corpus a
    training pipeline actually trains on. Every document survives
    except non-canonical near-dup cluster members (canonical = min
    doc_id per component, matching dedup_clusters); each canonical
    survivor reports how many near-dups it absorbed. This is the end
    product the whole MinHash→verify→cluster pipeline exists for.

    Plan shape: the cluster table is pair-graph-sized (docs in ≥1
    verified pair only), so the corpus sees one projection to doc_id
    and two key-only joins — a left-anti against removed members and
    a left join-back of the absorbed counts. Nothing payload-sized
    shuffles; at 100 TB both join inputs carry a single long column.
    The pair graph itself is served from the session memo
    (dedup_minhash_lsh), so this composes rather than re-mines."""
    clusters = dedup_clusters(spark, sf_dir)
    removed = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    canon = clusters.where(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id", (F.col("cluster_size") - 1).alias("absorbed")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(removed, "doc_id", "left_anti")
        .join(canon, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("absorbed", F.lit(0).cast("long")).alias("absorbed"),
        )
        .sortWithinPartitions("doc_id")
    )


def _minhash_sig_sql() -> str:
    h = poly_hash_sql("s")
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> ({a}::BIGINT * h + {b}::BIGINT) % {HASH_P}))"
        for a, b in _PERMS
    )
    return (
        f"hs AS MATERIALIZED (SELECT doc_id, list_transform(sh, s -> {h}) AS hs FROM sh),\n"
        f"    sig AS MATERIALIZED (SELECT doc_id, [{mins}] AS sig FROM hs)"
    )


def _band_keys_sql(bands: int, rows: int, col: str = "sig") -> str:
    """DuckDB list of the 'j-v1-v2-…' band keys of list column ``col``
    (the ``_band_keys`` / banded-kernel key format)."""
    keys = ", ".join(
        "'" + str(j) + "-' || "
        + " || '-' || ".join(f"{col}[{j * rows + r + 1}]" for r in range(rows))
        for j in range(bands)
    )
    return f"[{keys}]"


# ---------------------------------------------------------------- simhash

def _simhash_bits(ht: Column) -> Column:
    """64 sign bits from a materialized token-hash array column:
    bit_i = sign of Σ_tokens (±1 by parity of the i-th affine
    permutation of the token hash). Token multiplicity counts
    (frequency-weighted SimHash). Reference form the SimHash Arrow
    kernel is diffed against in the tests."""
    a_lit = F.lit([a for a, _ in _SIM_PERMS])
    b_lit = F.lit([b for _, b in _SIM_PERMS])
    return F.zip_with(
        a_lit,
        b_lit,
        lambda a, b: F.when(
            F.aggregate(
                ht,
                F.lit(0).cast("long"),
                lambda acc, h: acc
                + F.when(((a.cast("long") * h + b) % HASH_P) % 2 == 1, 1).otherwise(-1),
            )
            > 0,
            1,
        ).otherwise(0),
    )


def _simhash_banded_kernel(batches):
    """Arrow kernel: (doc_id, text) → (doc_id, sig, bk) with one row
    per band. Integer-exact replica of tokenize → poly_hash →
    _simhash_bits: token parity contributions as one (S, 64) ±1
    matrix, per-doc sums by segment (integer adds, so order-free),
    sign bits. The 64 sign bits are PACKED into one int64 ``sig``
    (bit i of `_simhash_bits` at position 63-i, two's complement) so
    downstream Hamming distance is a single codegen'd
    ``bit_count(sig_a ^ sig_b)`` instead of an interpreted
    64-element fold; ``bk`` is ``band_idx * 2^16 + band_bits``.
    """
    import numpy as np
    import pandas as pd

    pa = np.array([a for a, _ in _SIM_PERMS], dtype=np.int64)
    pb = np.array([b for _, b in _SIM_PERMS], dtype=np.int64)
    rows = SIMHASH_BITS // SIMHASH_BANDS
    band_idx = np.arange(SIMHASH_BANDS, dtype=np.int64)
    for pdf in batches:
        if not len(pdf):
            continue
        tok_lists = [_py_tokenize(t) for t in pdf["text"]]
        ndocs = len(pdf)
        lens = np.array([len(lst) for lst in tok_lists], dtype=np.int64)
        doc_idx = np.repeat(np.arange(ndocs), lens)
        # Hash + parity on the UNIQUE vocabulary only (token instances
        # vastly outnumber distinct tokens); per-doc ±1 sums become
        # per-bit counts: Σ±1 = 2·(#parity-1 tokens) − doc_len.
        # Memory stays O(tokens) per bit — no (tokens × 64) temporary.
        inv, uniq = pd.factorize(np.asarray(
            [t for lst in tok_lists for t in lst], dtype=object
        ))
        hs_u = _hash_strings_np(list(uniq))
        parity_u = ((hs_u[:, None] * pa[None, :] + pb[None, :]) % HASH_P) % 2 == 1
        bits = np.zeros((ndocs, SIMHASH_BITS), dtype=np.uint64)
        for k in range(SIMHASH_BITS):
            c1 = np.bincount(
                doc_idx, weights=parity_u[inv, k], minlength=ndocs
            ).astype(np.int64)
            bits[:, k] = (2 * c1 - lens) > 0
        weights = (np.uint64(1) << np.arange(
            SIMHASH_BITS - 1, -1, -1, dtype=np.uint64
        ))
        sig = (bits * weights).sum(axis=1).view(np.int64)
        # 16-bit band values, MSB-first within each band.
        band_w = (np.uint64(1) << np.arange(rows - 1, -1, -1, dtype=np.uint64))
        bands = (
            (bits.reshape(ndocs, SIMHASH_BANDS, rows) * band_w).sum(axis=2)
        ).astype(np.int64)
        bk = (band_idx[None, :] << 16) | bands
        yield pd.DataFrame(
            {
                "doc_id": np.repeat(pdf["doc_id"].to_numpy(), SIMHASH_BANDS),
                "sig": np.repeat(sig, SIMHASH_BANDS),
                "bk": bk.ravel(),
            }
        )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: all pairs within Hamming distance HAMMING_MAX.

    Banding (4 × 16 bits) is *exact* here, not approximate: a pair
    differing in ≤3 bits cannot differ in all 4 bands, so every
    qualifying pair is generated as a candidate. Output is therefore
    identical to brute-force all-pairs Hamming — which is what the
    oracle computes, making this a true differential test.
    """
    # text IS NOT NULL: null docs have no tokens, so they carry no
    # sketch and join no pairs (the oracle's NULL arithmetic excludes
    # them identically); '' is content — sketch 0 — and participates.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    # Sketch + banding as one Arrow kernel (see _simhash_banded_kernel:
    # the interpreted 64-permutation parity fold was the hot stage).
    # Materialized once: consumed by both self-join sides.
    banded = (
        fan_out(docs.select("doc_id", "text"))
        .mapInPandas(_simhash_banded_kernel, "doc_id bigint, sig bigint, bk bigint")
        .transform(artifact_checkpoint)
    )
    # Packed-int64 signatures: Hamming = popcount of XOR, whole-stage
    # codegen JVM-side; the hamming filter runs BEFORE the distinct so
    # only true near-dup pairs (few) reach the dedup shuffle.
    hamming = F.bit_count(
        F.col("x.sig").bitwiseXOR(F.col("y.sig"))
    ).cast("int")
    return _band_pairs(
        banded, "doc_id", ("doc_a", "doc_b"), True,
        cond=hamming <= HAMMING_MAX, keep=(hamming.alias("hamming"),),
    ).sortWithinPartitions("doc_a", "doc_b")


def _simhash_bits_sql() -> str:
    h = poly_hash_sql("t")
    bit_exprs = ", ".join(
        f"CASE WHEN list_reduce([0::BIGINT] || list_transform(ht, "
        f"h -> CASE WHEN (({a}::BIGINT * h + {b}::BIGINT) % {HASH_P}) % 2 = 1 "
        f"THEN 1::BIGINT ELSE -1::BIGINT END), (acc, x) -> acc + x) > 0 "
        f"THEN 1 ELSE 0 END"
        for a, b in _SIM_PERMS
    )
    return (
        # text IS NOT NULL: a null doc's NULL token list would reduce
        # to all-zero bits (list_reduce over [0]||NULL folds to 0) and
        # spuriously pair with every other doc; the Spark kernel
        # filters null docs out of the bit table entirely.
        f"ht AS (SELECT doc_id, list_transform({_TOKS_SQL}, t -> {h}) AS ht "
        f"FROM documents WHERE text IS NOT NULL),\n"
        f"    bits AS MATERIALIZED (SELECT doc_id, [{bit_exprs}] AS bits FROM ht)"
    )


# ------------------------------------------------------------- embeddings

def _emb_banded_kernel_fn(bands: int = EMB_BANDS, rows: int = EMB_ROWS):
    """Arrow kernel factory: (vec_id, embedding) → exploded
    (vec_id, bk) LSH band keys for a given banding geometry.
    Bit-identical to the oracle's _emb_bits_sql + _band_keys_sql: the
    plane dot products run as an explicit left-fold over dimensions
    (one vectorized multiply-add per dim, the same IEEE op sequence
    as ``dot_const_sql``), NOT a matrix multiply, whose pairwise
    summation order would flip sign bits of near-zero projections.
    """

    def kernel(batches):
        import numpy as np
        import pandas as pd

        planes = np.asarray(_PLANES, dtype=np.float64)  # (EMB_PLANES, EMB_DIM)
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            acc = np.zeros((len(vecs), EMB_PLANES), dtype=np.float64)
            for j in range(EMB_DIM):
                acc = acc + vecs[:, j : j + 1] * planes[:, j]
            bits = (acc > 0).astype(np.int64).astype(str)
            keys = [
                [
                    f"{j}-" + "-".join(row[j * rows : (j + 1) * rows])
                    for j in range(bands)
                ]
                for row in bits
            ]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), bands),
                    "bk": [k for row in keys for k in row],
                }
            )

    return kernel


def dedup_embedding(
    spark: SparkSession, sf_dir: str, cosine_t: float = COSINE_T
) -> DataFrame:
    """Embedding-cosine near-dup over ``embeddings``: hyperplane
    sign-LSH (64 planes, 16 bands × 4 bits) for candidates, exact
    cosine ≥ COSINE_T verification.

    Contract mirrors dedup_minhash_lsh — banded ∩ verified — with one
    extra stage: band buckets are capped to their EMB_BUCKET_CAP
    lowest vec_ids before pairing (overflow dropped; see the constant
    for the recall contract). The oracle replicates all stages with
    identical arithmetic. The banding
    stage runs as the Arrow kernel above — 64 interpreted
    zip_with/aggregate folds per row cost 4 s at sf0.1 vs ~0.1 s
    vectorized; its reference form is the oracle's _emb_bits_sql.

    Verification is fully JVM-side: distinct candidate (vec_a, vec_b)
    id pairs join the vector table back twice (the same shape as
    ``_verified_pairs`` for shingles), and the exact cosine is the
    portable ``dot_fold`` left-fold — the identical IEEE op sequence
    as the oracle's ``dot_fold_sql`` — so results stay bit-identical.
    Nothing ever collects to the driver: at 10⁹ vectors the joins are
    ordinary shuffle (or AQE-broadcast) hash joins on vec_id, and
    only the candidate set, not the corpus, flows through them.
    """
    from ..sources.maintenance import session_memo

    def pairs() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return _embedding_pairs(
            emb, cosine_t, EMB_BANDS, EMB_ROWS, cap=EMB_BUCKET_CAP
        )

    if cosine_t != COSINE_T:  # non-default thresholds: no memo key
        return pairs()
    # The verified pair table is the pipeline's artifact (the MinHash
    # memo rationale); cold mining cost published by the scaling probe.
    return session_memo(
        spark, sf_dir, "embeddings", "emb_pairs_v1",
        lambda: pairs().transform(artifact_checkpoint),
    )


def _embedding_pairs(
    emb: DataFrame,
    cosine_t: float,
    bands: int,
    rows: int,
    cap: int | None,
) -> DataFrame:
    """The shared LSH-band → (optional cap) → verify pipeline over any
    (vec_id, embedding) frame."""
    # Cast float→double once; every downstream fold reuses the column.
    vec = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    base = vec.withColumn(
        "nrm", F.sqrt(dot_fold(F.col("embedding"), F.col("embedding")))
    )
    banded = fan_out(vec).mapInPandas(
        _emb_banded_kernel_fn(bands, rows), "vec_id bigint, bk string"
    ).transform(artifact_checkpoint)
    if cap is not None:
        # Cap each band bucket to its `cap` lowest vec_ids before the
        # self-join (see EMB_BUCKET_CAP): every bucket then contributes
        # at most C(cap,2) pairs, so the candidate stage stays bounded
        # even at the test-only COSINE_T=0.4 where 4-bit bands barely
        # prune. The row_number window shuffles on bk — the same key
        # the join shuffles on, so this adds no new exchange at scale.
        wbk = Window.partitionBy("bk").orderBy("vec_id")
        banded = (
            banded.withColumn("rn", F.row_number().over(wbk))
            .where(F.col("rn") <= cap)
            .drop("rn")
        )
    # Distinct BEFORE the verify joins: pairs colliding in several
    # bands would otherwise probe the vector table once per band.
    cand = _band_pairs(banded, "vec_id", ("vec_a", "vec_b"), True)
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos_raw = dot_fold(F.col("emb_a"), F.col("emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    # first()-aggregate barrier (see _verified_pairs): evaluates the
    # O(dim) interpreted fold ONCE per candidate pair instead of ~6x
    # through CollapseProject/pushdown duplication of the rounded +
    # filtered cosine expression.
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .groupBy("vec_a", "vec_b")
        .agg(F.first(cos_raw).alias("cos_raw"))
        .select("vec_a", "vec_b", round6(F.col("cos_raw")).alias("cosine"))
        .where(F.col("cosine") >= cosine_t)
        .sortWithinPartitions("vec_a", "vec_b")
    )


# Strict (production-threshold) variant over the committed planted-
# pair fixture: 4 bands × 16 bits instead of 16 × 4. Wide bands are
# the right geometry when the threshold is high — a random pair
# collides in a 16-bit band with p ≈ 2^-16 (total ≈ 0.006%, >99.9%
# of the pair space pruned, so NO bucket cap is needed), while a
# cosine-0.97 near-dup still shares a band with p ≈ 0.99. The 16×4
# geometry of dedup_embedding exists only for the test-only t=0.4
# contract, where wide bands would lose all recall.
EMB_STRICT_T = 0.95
EMB_STRICT_BANDS = 4
EMB_STRICT_ROWS = 16
EMB_FIXTURE = str(
    Path(__file__).resolve().parents[2]
    / "tests"
    / "fixtures"
    / "embeddings_planted.parquet"
)


def dedup_embedding_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at a PRODUCTION threshold (cosine ≥ 0.95),
    uncapped: banding alone bounds the candidate stage.

    ``sf_dir`` is ignored — the input is the committed planted-pair
    fixture (tests/fixtures/gen_embeddings_fixture.py), because the
    driver testdata's embeddings are pure random and contain no pairs
    above ~0.4; the fixture plants 20 near-dups at cosine ≥ 0.97 plus
    5 mid-similarity (≈0.65) distractors that must be filtered by the
    verify stage. Same pipeline as dedup_embedding, same oracle
    arithmetic — only the banding geometry and threshold differ."""
    emb = read_parquet(spark, EMB_FIXTURE)
    return _embedding_pairs(
        emb, EMB_STRICT_T, EMB_STRICT_BANDS, EMB_STRICT_ROWS, cap=None
    )


def _emb_bits_sql(vec_expr: str) -> str:
    bit_exprs = ", ".join(
        f"CASE WHEN {dot_const_sql(vec_expr, plane)} > 0 "
        f"THEN 1 ELSE 0 END"
        for plane in _PLANES
    )
    return f"[{bit_exprs}]"


def _emb_oracle_sql(
    source: str, bands: int, rows: int, cap: int | None, t: float
) -> str:
    """DuckDB replica of ``_embedding_pairs`` over the table expression
    ``source``: sign bits, band keys, the optional per-bucket cap of
    the ``cap`` lowest vec_ids, and the exact-cosine verify at ``t``,
    in the Spark pipeline's arithmetic."""
    qualify = "" if cap is None else (
        f"QUALIFY row_number() OVER (PARTITION BY bk ORDER BY vec_id) <= {cap}"
    )
    cosine = (
        f"(floor(({dot_fold_sql('a.embedding', 'b.embedding', EMB_DIM)} "
        f"/ (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000)"
    )
    return f"""
    WITH base AS MATERIALIZED (
        SELECT vec_id, embedding,
               sqrt({dot_fold_sql('embedding', 'embedding', EMB_DIM)}) AS nrm,
               {_emb_bits_sql('embedding')} AS bits
        FROM {source}
    ),
    banded AS MATERIALIZED (
        SELECT vec_id, bk FROM (
            SELECT vec_id, unnest({_band_keys_sql(bands, rows, "bits")}) AS bk
            FROM base
        )
        {qualify}
    ),
    cand AS (
        SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        FROM banded x JOIN banded y USING (bk)
        WHERE x.vec_id < y.vec_id
    )
    SELECT c.vec_a, c.vec_b, {cosine} AS cosine
    FROM cand c
    JOIN base a ON a.vec_id = c.vec_a
    JOIN base b ON b.vec_id = c.vec_b
    WHERE {cosine} >= {t}
    ORDER BY vec_a, vec_b
"""


ORACLE_SQL: dict[str, str] = {
    "dedup_exact": """
        SELECT md5(text) AS text_md5, count(*) AS n_copies,
               min(doc_id) AS keep_doc_id
        FROM documents GROUP BY md5(text) ORDER BY text_md5
    """,
    # Independent brute-force implementation (vs Spark's posting join).
    "dedup_ngram_jaccard": _SH_CTE + f"""
        -- the intersect is computed ONCE per pair in the inner
        -- projection (it dominated this brute-force oracle's cost
        -- when repeated in the WHERE), then filtered
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   (floor((ix)::DOUBLE
                         / (len(a.sh) + len(b.sh) - ix)::DOUBLE
                         * 1000000 + 0.5) / 1000000) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id,
                 LATERAL (SELECT len(list_intersect(a.sh, b.sh)) AS ix) t
        )
        WHERE jaccard >= {JACCARD_T}
        ORDER BY doc_a, doc_b
    """,
    "dedup_minhash_lsh": _SH_CTE.rstrip() + f""",
    {_minhash_sig_sql()},
    banded AS MATERIALIZED (
        SELECT doc_id, unnest({_band_keys_sql(MINHASH_BANDS, MINHASH_ROWS)}) AS bk
        FROM sig
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM banded x JOIN banded y USING (bk)
        WHERE x.doc_id < y.doc_id
    )
    {_VERIFY_SQL}
    """,
    # Brute-force all-pairs Hamming (banding is lossless on the Spark
    # side, so results must agree exactly).
    "dedup_simhash": f"""
        WITH {_simhash_bits_sql()}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               list_reduce([0] || list_transform(range(1, {SIMHASH_BITS + 1}),
                   i -> CASE WHEN a.bits[i] <> b.bits[i] THEN 1 ELSE 0 END),
                   (acc, x) -> acc + x) AS hamming
        FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        WHERE list_reduce([0] || list_transform(range(1, {SIMHASH_BITS + 1}),
                  i -> CASE WHEN a.bits[i] <> b.bits[i] THEN 1 ELSE 0 END),
                  (acc, x) -> acc + x) <= {HAMMING_MAX}
        ORDER BY doc_a, doc_b
    """,
    "dedup_embedding": _emb_oracle_sql(
        "embeddings", EMB_BANDS, EMB_ROWS, EMB_BUCKET_CAP, COSINE_T
    ),
}

# Strict variant over the committed fixture file (read by absolute
# path, like the taxi geo oracle): strict band geometry, no cap.
ORACLE_SQL["dedup_embedding_strict"] = _emb_oracle_sql(
    f"read_parquet('{EMB_FIXTURE}')",
    EMB_STRICT_BANDS, EMB_STRICT_ROWS, None, EMB_STRICT_T,
)

# Transitive closure of the verified-pair graph: reach(u, r) = node r
# is reachable from node u over undirected pair edges; component id =
# min reachable node. UNION (not UNION ALL) dedups the frontier so the
# recursion terminates. Shared by dedup_clusters and dedup_survivors.
_CLUSTERS_CTE = f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM ({ORACLE_SQL["dedup_minhash_lsh"]})
    ),
    edges AS MATERIALIZED (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v
    ),
    comp AS (
        SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u
    )"""

ORACLE_SQL["dedup_clusters"] = _CLUSTERS_CTE + """
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp ORDER BY doc_id
"""

ORACLE_SQL["dedup_survivors"] = _CLUSTERS_CTE + """,
    sized AS (
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM comp
    )
    SELECT d.doc_id,
           coalesce(s.cluster_size - 1, 0)::BIGINT AS absorbed
    FROM documents d
    LEFT JOIN sized s ON s.doc_id = d.doc_id AND s.doc_id = s.cluster_id
    WHERE NOT EXISTS (
        SELECT 1 FROM sized x
        WHERE x.doc_id = d.doc_id AND x.doc_id <> x.cluster_id
    )
    ORDER BY d.doc_id
"""

DECON_EVAL_DOCS = 10  # eval set = the DECON_EVAL_DOCS lowest doc ids


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every corpus document sharing
    at least one token SHINGLE_N-gram with the evaluation set — the
    test-set-overlap scrub an LLM data pipeline runs so training data
    can't leak benchmark answers.

    The eval set here is the DECON_EVAL_DOCS lowest doc ids (a FIXED
    size at any corpus scale, the N_QUERIES move); production swaps in
    the real benchmark suite and the industry-standard 13-gram — the
    synthetic word-salad corpus needs the trigram to exercise
    non-trivial overlap. Plan: both sides reuse the dedup shingle
    projection; the eval side distincts to a small frame and
    BROADCASTS into a semi-join against the exploded corpus shingles
    (per-doc-distinct already), then one count per doc — corpus text
    never shuffles, and the only exchange is the (doc_id, hits)
    aggregation. At 100 TB the shingle strings become the int64
    hashes of the Arrow kernel (dedup_ngram_jaccard's trick) so the
    broadcast is 8 bytes per eval n-gram."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # text IS NOT NULL: _shingles folds a NULL doc to [''] (greatest()
    # ignores NULLs), and one nulled EVAL doc would then mark every
    # nulled corpus doc contaminated via the '' shingle. Null docs
    # carry no shingles; they still get their (doc_id, 0, false) row
    # from the outer left join below — no content, nothing leaked.
    sh = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.explode(_shingles(F.col("text"))).alias("sh")
    )
    eval_sh = (
        sh.where(F.col("doc_id") < DECON_EVAL_DOCS).select("sh").distinct()
    )
    hits = (
        sh.where(F.col("doc_id") >= DECON_EVAL_DOCS)
        .join(F.broadcast(eval_sh), "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.where(F.col("doc_id") >= DECON_EVAL_DOCS)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
        .sortWithinPartitions("doc_id")
    )


ORACLE_SQL["decontaminate"] = (
    _SH_CTE
    + f"""
    , ev AS (
        SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id < {DECON_EVAL_DOCS}
    ),
    corpus AS (
        SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id >= {DECON_EVAL_DOCS}
    ),
    hits AS (
        SELECT doc_id, count(*) AS n_hits
        FROM corpus WHERE g IN (SELECT g FROM ev)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(h.n_hits, 0) AS n_hits,
           coalesce(h.n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id >= {DECON_EVAL_DOCS}
    ORDER BY d.doc_id
"""
)


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dedup_embedding_strict": dedup_embedding_strict,
    "dedup_clusters": dedup_clusters,
    "dedup_survivors": dedup_survivors,
    "decontaminate": decontaminate,
}
