"""Portable (Spark ⇄ DuckDB) deterministic hashing primitives.

The hash-based dedup/similarity operators (MinHash, SimHash,
hyperplane LSH) need the *same* hash values on both sides of the
differential-test harness, or the oracle can never hash-match. Spark's
``hash``/``xxhash64`` and DuckDB's ``hash`` are different functions, so
instead every hash here is defined as plain 64-bit integer arithmetic
over character codes — expressible identically as a Spark ``Column``
tree (JVM-side, codegen'd, no Python UDF) and as a DuckDB SQL string.

Primitives:
- ``poly_hash`` / ``poly_hash_sql``: left-fold h = (h*31 + ascii(c)) % P
  over the characters of a string (the classic Java ``String.hashCode``
  shape, mod a prime so products never overflow int64).
- ``affine_perms``: K fixed pseudo-random (a, b) pairs from a splitmix-
  style LCG evaluated *in Python at import time* — the constants are
  embedded as literals in both engines' expressions, so there is no
  runtime randomness anywhere (Date.now/random-free by construction).
- ``hyperplanes``: deterministic pseudo-random projection vectors for
  sign-LSH over embeddings, same trick.

Every fold is a *left* fold in a defined element order in both engines
(`aggregate` in Spark, ``list_reduce`` with a prepended zero in DuckDB),
so double-precision results are bit-identical, not merely close.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Prime modulus: acc < P ⇒ acc*31 + 255 < 3.2e10 ≪ 2^63, no overflow.
HASH_P = 1_000_000_007

_LCG_MULT = 6364136223846793005
_LCG_INC = 1442695040888963407
_LCG_MOD = 1 << 63


def _lcg_stream(seed: int):
    x = seed
    while True:
        x = (x * _LCG_MULT + _LCG_INC) % _LCG_MOD
        yield x


def affine_perms(k: int, seed: int = 1) -> list[tuple[int, int]]:
    """K fixed (a, b) pairs for g(h) = (a*h + b) % HASH_P.

    a ∈ [1, P-1], b ∈ [0, P-1]; a*h < P² ≈ 1e18 < 2^63, overflow-safe.
    """
    gen = _lcg_stream(seed)
    out = []
    for _ in range(k):
        a = next(gen) % (HASH_P - 1) + 1
        b = next(gen) % HASH_P
        out.append((a, b))
    return out


def hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane normals in [-0.5, 0.5)^dim
    for sign-LSH (random-projection cosine sketch)."""
    gen = _lcg_stream(seed)
    return [
        [(next(gen) % 1_000_003) / 1_000_003.0 - 0.5 for _ in range(dim)]
        for _ in range(n_planes)
    ]


def let_col(value: Column, body) -> Column:
    """let-binding for Column expressions: evaluate ``value`` ONCE per
    row, bind it as a higher-order-function lambda variable, and build
    ``body`` over the variable.

    Why: Catalyst's CollapseProject merges adjacent projections by
    textual substitution, so a column referenced N times in the next
    projection is *re-evaluated* N times at runtime (higher-order
    functions are interpreted — no common-subexpression elimination).
    For sketch pipelines (base hashes → 64-slot signature → 16 band
    keys) that collapse is multiplicative and catastrophic. Wrapping
    the value in a single-element array and accessing it through
    ``transform``'s NamedLambdaVariable forces exactly-once evaluation
    regardless of how projections get collapsed.
    """
    return F.transform(F.array(value), body)[0]


def array_runs(s: Column) -> Column:
    """Run-length encode a SORTED array column: array<struct<v, n>> of
    (element, run length), preserving sort order. Empty input → empty
    array; NULL input degrades to an empty array too (callers needing
    NULL-propagation must gate on isNotNull — both current callers
    do). Pure array projection (O(n) after the
    caller's sort) — the Spark-side primitive behind per-document
    frequency histograms (term_doc_tf, repetition_filter's top-token
    share) that would otherwise need an explode → groupBy shuffle of
    every element occurrence.

    Mechanics: run-start positions are the 1-based indices i with
    i == 1 or s[i] ≠ s[i−1]; an end sentinel n+1 closes the last run;
    run lengths are adjacent differences. The greatest(i−1, 1) guard
    keeps element_at's index valid when the OR's left disjunct already
    matched; the i ≤ size conjunct keeps element_at off empty arrays
    (sequence is floored at one element so it never runs descending).
    """
    starts = F.filter(
        F.sequence(F.lit(1), F.greatest(F.size(s), F.lit(1))),
        lambda i: (i <= F.size(s))
        & (
            (i == F.lit(1))
            | (
                F.element_at(s, i)
                != F.element_at(s, F.greatest(i - 1, F.lit(1)))
            )
        ),
    )
    return let_col(
        F.concat(starts, F.array(F.size(s) + 1)),
        lambda b: F.zip_with(
            F.slice(b, 1, F.size(b) - 1),
            F.slice(b, 2, F.size(b) - 1),
            lambda lo, hi: F.struct(
                F.element_at(s, lo).alias("v"),
                (hi - lo).cast("long").alias("n"),
            ),
        ),
    )


def poly_hash(col: Column | str) -> Column:
    """h = foldl (acc*31 + ascii(c)) % HASH_P over characters (Spark)."""
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % HASH_P,
    )


def poly_hash_py(s: str) -> int:
    """Driver-side Python twin of ``poly_hash`` — same fold over the
    same character codes, for hashing COMPILE-TIME-CONSTANT strings
    (e.g. the Count-Min probe terms, whose grid coordinates are
    computed once and embedded as literals in both engines' plans).
    Kept next to the Spark/DuckDB renderings so the three stay one
    definition. Python's ord == ascii() for the ASCII range the
    tokenizer emits ([a-z0-9], the only inputs this is used on)."""
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % HASH_P
    return h


def poly_hash_sql(expr: str) -> str:
    """Identical fold rendered for DuckDB (prepended 0 = initial acc).

    NULL input must hash to NULL, matching Spark's aggregate(NULL) —
    DuckDB's ``[0] || NULL`` list concat yields [0], which would
    silently bottom the fold out at 0 for NULL strings (the
    winnow_fingerprint null-parity drift), so guard explicitly."""
    return (
        f"CASE WHEN ({expr}) IS NULL THEN NULL ELSE "
        f"list_reduce([0::BIGINT] || list_transform(string_split({expr}, ''), "
        f"ch -> ascii(ch)::BIGINT), (acc, x) -> (acc * 31 + x) % {HASH_P}) END"
    )


def dot_fold(xs: Column, ys: Column) -> Column:
    """Deterministic left-fold dot product in double precision (Spark).

    Identical element order and IEEE ops to ``dot_fold_sql`` ⇒
    bit-identical results across engines.
    """
    prods = F.zip_with(xs, ys, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def dot_fold_sql(xs_expr: str, ys_expr: str, dim: int) -> str:
    """The same left-fold UNROLLED as a left-associative sum:
    ``0.0 + x[1]*y[1] + x[2]*y[2] + ...`` executes the identical IEEE
    op sequence as the Spark aggregate (acc_i = acc_{i-1} + p_i, acc_0
    = 0.0 — including the leading 0.0 + p_1, which differs from bare
    p_1 only on -0.0 and so canonicalizes it exactly like the fold).
    Unrolling replaced the original list_reduce/list_transform form:
    DuckDB executes HOF lambdas interpretively per element, and the
    similarity/dedup oracles evaluate this fold per candidate PAIR —
    measured 3-6x of the whole suite's dedup-oracle time. Plain
    vectorized arithmetic, same bits. NULL propagates identically
    (any NULL element nulls its product and then the whole sum).
    Callers pass COLUMN-REF exprs; for a compile-time-constant vector
    use dot_const_sql (inlines scalars instead of list indexing)."""
    if dim <= 0:  # fold over nothing = the initial accumulator
        return "(0.0::DOUBLE)"
    terms = " + ".join(
        f"{xs_expr}[{i}]::DOUBLE * {ys_expr}[{i}]::DOUBLE"
        for i in range(1, dim + 1)
    )
    return f"(0.0::DOUBLE + {terms})"


def dot_const_sql(xs_expr: str, consts: list[float]) -> str:
    """dot_fold_sql against a Python-side constant vector: each
    coordinate is inlined as a scalar literal (a repeated literal-list
    index would re-parse the whole list per term). Same op order."""
    if not consts:
        return "(0.0::DOUBLE)"
    terms = " + ".join(
        f"{xs_expr}[{i + 1}]::DOUBLE * {v!r}::DOUBLE"
        for i, v in enumerate(consts)
    )
    return f"(0.0::DOUBLE + {terms})"


def round6(c: Column) -> Column:
    """Half-away-from-zero rounding to 6 decimals via floor arithmetic.

    Engine round() builtins disagree by 1 ulp on exact .xxxxxx5 ties
    (Spark rounds the decimal rendering, DuckDB the binary double).
    floor(|x|*1e6 + 0.5)/1e6 with the sign re-applied is plain IEEE
    arithmetic — bit-identical across engines on identical inputs —
    and rounds ties away from zero for BOTH signs (a bare
    floor(x*1e6+0.5) would round negative ties toward +inf, giving
    z-scores and log-ratios a sign-asymmetric tie rule).

    The trailing ``+ 0.0`` canonicalizes NEGATIVE ZERO: a value the
    engines compute with opposite last-ulp signs around zero (e.g. a
    cosine or log-ratio that is -1e-18 in one summation order and
    +1e-18 in the other) rounds to -0.0 vs +0.0, and the driver's
    typed-repr hash distinguishes them ('-0.0' ≠ '0.0' — caught live
    by pmi_pairs at sf0.001). IEEE addition maps -0.0 + 0.0 → +0.0
    and is the exact identity on every other finite double, so both
    engines present the single canonical zero.
    """
    mag = F.floor(F.abs(c) * 1e6 + F.lit(0.5)) / 1e6
    return F.when(c < 0, -mag).otherwise(mag) + F.lit(0.0)


def round6_sql(expr: str) -> str:
    mag = f"floor(abs({expr}) * 1000000 + 0.5) / 1000000"
    return f"((CASE WHEN ({expr}) < 0 THEN -({mag}) ELSE ({mag}) END) + 0.0)"
