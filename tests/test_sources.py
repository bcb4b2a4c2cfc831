"""Source/format parity tests: pipe-delimited .tbl and taxi CSV
readers against the reference's own fixture files (read-only)."""

from __future__ import annotations

import os

import pytest

from hadoop_and_spark_spark.sources.taxi import (
    CITIGROUP,
    GOLDMAN,
    classify_region,
    read_taxi_csv,
)
from hadoop_and_spark_spark.sources.tbl import read_tbl

TXT_DIR = "/root/reference/TPC-H-0.1-TXT"
TAXI_DIR = "/root/reference/taxi-data"


@pytest.mark.skipif(not os.path.isdir(TXT_DIR), reason="reference fixtures absent")
def test_read_tbl_nation(spark):
    df = read_tbl(spark, f"{TXT_DIR}/nation.tbl", "nation")
    rows = df.orderBy("n_nationkey").collect()
    assert len(rows) == 25
    assert rows[0].n_nationkey == 0 and rows[0].n_name == "ALGERIA"
    assert rows[0].n_regionkey == 0
    # trailing '|' must not leak a phantom column
    assert "_trailing" not in df.columns


@pytest.mark.skipif(not os.path.isdir(TXT_DIR), reason="reference fixtures absent")
def test_read_tbl_typed_pruned(spark):
    """Projection through the reader must prune to the named columns
    and produce real numeric types (no ordinal access)."""
    df = read_tbl(spark, f"{TXT_DIR}/supplier.tbl", "supplier").select(
        "s_suppkey", "s_acctbal"
    )
    r = df.orderBy("s_suppkey").first()
    assert isinstance(r.s_suppkey, int)
    assert isinstance(r.s_acctbal, float)


@pytest.mark.skipif(not os.path.isdir(TAXI_DIR), reason="taxi fixtures absent")
def test_taxi_read_and_classify(spark):
    df = read_taxi_csv(spark, f"{TAXI_DIR}/part-2015-12-01-00*.csv")
    out = classify_region(df)
    rows = out.limit(500).collect()
    assert {r.color for r in rows} <= {"yellow", "green"}
    assert all(r.region in ("goldman", "citigroup", "other") for r in rows)
    # color-dependent coordinate dispatch produces plausible NYC
    # coords for the vast majority (real data has 0.0 = missing GPS)
    coords = [r for r in rows if r.dropoff_lon is not None]
    plausible = [r for r in coords if -75 < r.dropoff_lon < -72]
    assert coords and len(plausible) / len(coords) > 0.9


def test_bbox_edges(spark):
    """Strict-inequality bounds (RegionEventCount.scala:93-107): a
    point exactly on the boundary is NOT inside."""
    from pyspark.sql import functions as F

    from hadoop_and_spark_spark.sources.taxi import in_bbox

    df = spark.createDataFrame(
        [
            (GOLDMAN[0], GOLDMAN[2]),  # exact corner → outside
            ((GOLDMAN[0] + GOLDMAN[1]) / 2, (GOLDMAN[2] + GOLDMAN[3]) / 2),
        ],
        ["lon", "lat"],
    )
    got = df.select(
        in_bbox(F.col("lon"), F.col("lat"), GOLDMAN).alias("inside")
    ).collect()
    assert [r.inside for r in got] == [False, True]


def test_region_event_count_geo_matches_oracle(spark, sf_dir):
    """The registered geo pipeline (F4 → windowed counts) against its
    DuckDB oracle on the committed fixture — the same compare the
    driver gate runs."""
    from hadoop_and_spark_spark.oracle import compare
    from hadoop_and_spark_spark.sources.taxi import (
        ORACLE_SQL,
        region_event_count_geo,
    )

    ok, msg = compare(
        spark, sf_dir, region_event_count_geo,
        ORACLE_SQL["region_event_count_geo"],
    )
    assert ok, msg


def test_region_event_count_geo_covers_both_regions(spark, sf_dir):
    """Both bounding boxes produce counts and 'other' rows are
    filtered out (RegionEventCount.scala:91-107)."""
    from hadoop_and_spark_spark.sources.taxi import region_event_count_geo

    rows = region_event_count_geo(spark, sf_dir).collect()
    regions = {r.region for r in rows}
    assert regions == {"goldman", "citigroup"}
    assert all(r.cnt > 0 for r in rows)


def test_queries_from_text_match_parquet(spark, sf_dir, tmp_path):
    """The reference graded every relational query from BOTH text and
    parquet storage (assignment5_marks.md's 53-test matrix). Same
    duality here: materialize the scale dir as sidecar-schema text
    tables, run registered queries against it unchanged via the
    catalog's text fallback, and require value-identical results."""
    import os

    from hadoop_and_spark_spark.catalog import load_table
    from hadoop_and_spark_spark.operators import relational as R
    from hadoop_and_spark_spark.operators import text as TX
    from hadoop_and_spark_spark.sources.tbl import write_text_table

    text_sf = str(tmp_path / "text_sf")
    os.makedirs(text_sf)
    # embeddings (array column) stays out: the text format is scalar,
    # like the reference's
    for t in ("lineitem", "orders", "customer", "nation", "part",
              "supplier", "documents"):
        write_text_table(
            load_table(spark, sf_dir, t), os.path.join(text_sf, f"{t}.tbl")
        )

    for fn in (R.q1_shipdate_count, R.q2_orders_for_shipped_lineitems,
               R.q3_part_supplier_lookup, R.q4_orders_by_nation,
               R.q5_nation_volume_by_month, R.q6_pricing_summary,
               R.q7_top_unshipped_revenue, TX.wordcount):
        want = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        got = sorted(tuple(r) for r in fn(spark, text_sf).collect())
        assert got == want, fn.__name__


def test_tbl_sink_source_roundtrip(spark, sf_dir, tmp_path):
    """K1 sink ↔ S1 source duality on our own fixtures: write the
    parquet `nation` table out as pipe-delimited text, read it back
    with read_tbl, and get value-identical rows — the reference's
    {Text, Parquet} format parametrization (assignment5_marks.md)
    exercised end-to-end."""
    from hadoop_and_spark_spark.catalog import load_table

    out = str(tmp_path / "nation_tbl")
    orig = load_table(spark, sf_dir, "nation")
    orig.coalesce(1).write.csv(out, sep="|", header=False)
    # testdata nation carries a column subset of full TPC-H (no
    # n_comment); compare on the columns that exist in the fixture
    back = read_tbl(spark, out, "nation").select(*orig.columns)
    a = sorted(tuple(r) for r in orig.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_all_queries_handle_empty_tables(spark, sf_dir, tmp_path):
    """An engine returns empty results on empty inputs, it doesn't
    crash: every registered query must execute against a scale dir
    of zero-row tables (schemas preserved via limit(0))."""
    import os

    from hadoop_and_spark_spark.catalog import TABLES, load_table
    from hadoop_and_spark_spark.registry import collect

    ed = str(tmp_path / "sf_empty")
    os.makedirs(ed)
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(0).write.parquet(
            os.path.join(ed, f"{t}.parquet")
        )
    queries, _ = collect()
    from conftest import run_queries_concurrently

    run_queries_concurrently(
        queries, lambda name: queries[name](spark, ed).collect()
    )  # must not raise


# Nullable non-key columns a messy production corpus carries NULLs in
# (keys, timestamps and embedding vectors stay non-null: those are
# upstream-validated preconditions, not content).
_NULLABLE = {
    "documents": ("text", "lang", "source"),
    "events": ("event_type", "value", "props"),
    "embeddings": ("label",),
}
_NULL_KEYS = {"documents": "doc_id", "events": "event_id",
              "embeddings": "vec_id"}


@pytest.fixture(scope="session")
def null_corpus_dir(spark, sf_dir, tmp_path_factory) -> str:
    """Session-scoped null-sprinkled corpus: 5% of rows get NULLs in
    every nullable non-key column (deterministic: key % 20 == 7).
    Shared by the totality sweep and the oracle-parity sweep so the
    corpus is written once per test session."""
    import os

    from pyspark.sql import functions as F

    from hadoop_and_spark_spark.catalog import TABLES, load_table

    nd = str(tmp_path_factory.mktemp("sf_nulls"))
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        for c in _NULLABLE.get(t, ()):
            df = df.withColumn(
                c,
                F.when(
                    (F.col(_NULL_KEYS[t]) % 20) == 7, F.lit(None)
                ).otherwise(F.col(c)),
            )
        df.write.parquet(os.path.join(nd, f"{t}.parquet"))
    return nd


def test_all_queries_handle_null_sprinkled_corpus(spark, null_corpus_dir):
    """Real 100 TB corpora carry NULLs; the testdata carries none —
    so every Arrow kernel that touched text crashed on its first null
    until this sweep existed (11 of 105 queries: the shingle/simhash
    dedup family, winnowing, the SGD trainer, the multimodal decode
    chain). JVM expressions are null-safe by construction (null
    propagates, explode drops); this pins that every Python kernel
    now follows the same contract — null text means NO content: no
    tokens, no shingles, no sketch rows, no media payload — instead
    of TypeError'ing the executor.

    And no-raise is not parity: a kernel can survive NULLs while
    silently diverging from its DuckDB oracle (winnow_fingerprint did
    — the kernel emitted (doc_id, NULL, NULL) while DuckDB's
    NULL-ignoring greatest() bottomed the poly-hash fold out at
    (1, '0'); the first run of this check then caught SEVEN more:
    corpus_split/stratified_sample/doc_hashed_features inheriting the
    same poly_hash_sql NULL leak, repetition_filter/doc_chunks folding
    null docs to phantom keep=true rows and phantom chunks on BOTH
    engines via NULL-ignoring greatest(), dedup_simhash's all-zero
    NULL bit rows pairing with everything, and a nulled EVAL doc
    poisoning decontaminate through the '' shingle). So queries
    backed by an Arrow/Pandas kernel — the class whose null handling
    is hand-written Python, not Catalyst propagation — run the full
    oracle compare here, the exact check the driver gate performs,
    on the exact input class the gate's clean testdata never
    exercises; the rest pin totality (collect must not raise)."""
    from hadoop_and_spark_spark import oracle
    from hadoop_and_spark_spark.registry import collect

    kernel_modules = ("dedup", "ml", "multimodal", "similarity", "textstats")
    kernel_names = set()
    for mod in kernel_modules:
        m = __import__(
            f"hadoop_and_spark_spark.operators.{mod}", fromlist=["QUERIES"]
        )
        kernel_names.update(m.QUERIES)

    queries, oracles = collect()
    from conftest import run_queries_concurrently

    def check(name: str) -> None:
        fn = queries[name]
        if name in kernel_names and name in oracles:
            ok, msg = oracle.compare(spark, null_corpus_dir, fn, oracles[name])
            assert ok, f"null-corpus oracle drift: {msg}"
        else:
            fn(spark, null_corpus_dir).collect()  # must not raise

    run_queries_concurrently(queries, check)


@pytest.fixture(scope="session")
def adversarial_corpus_dir(spark, sf_dir, tmp_path_factory) -> str:
    """Session-scoped adversarial corpus — the input classes one past
    NULLs that a real 100 TB crawl carries:

    - documents: one MULTI-MILLION-token document (2M tokens over a
      corpus-disjoint vocabulary, ~9 MB of text — stresses every
      per-doc array HOF, Arrow kernel, and explode without creating
      cross-doc candidate pairs), and one document of non-BMP unicode
      (emoji + ZWJ families, U+10FFFF, U+FFFD, embedded NUL, RTL,
      combining marks). Lone surrogates are deliberately absent: the
      parquet spec makes string columns UTF-8, which cannot encode an
      isolated surrogate — a permissive upstream decoder replaces
      them with U+FFFD, which IS here.
    - events.value: ±DBL_MAX, ±inf, and NaN rows (astronomical sums
      overflow to inf, NaN poisons averages — queries must not raise).
    - embeddings: one near-FLT_MAX vector (norms/dots overflow to
      inf) and one all-NaN vector.
    """
    import os

    from pyspark.sql import functions as F

    from hadoop_and_spark_spark.catalog import TABLES, load_table

    ad = str(tmp_path_factory.mktemp("sf_adversarial"))
    monster = " ".join(f"advtok{i % 50}" for i in range(2_000_000))
    weird = (
        "\U0001d49c\U0001d539ℂ \U0001f600\U0001f469‍"
        "\U0001f469‍\U0001f467‍\U0001f466 \U0010ffff�"
        "\x00 नमस्ते مرح"
        "با é́́"
    )
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        if t == "documents":
            df = df.withColumn(
                "text",
                F.when(F.col("doc_id") == 3, F.lit(monster))
                .when(F.col("doc_id") == 5, F.lit(weird))
                .otherwise(F.col("text")),
            ).withColumn("n_chars", F.length("text").cast("long"))
        elif t == "events":
            df = df.withColumn(
                "value",
                F.when(F.col("event_id") % 97 == 13, F.lit(1.7976931348623157e308))
                .when(F.col("event_id") % 97 == 29, F.lit(float("nan")))
                .when(F.col("event_id") % 97 == 41, F.lit(float("inf")))
                .when(F.col("event_id") % 97 == 53, F.lit(float("-inf")))
                .otherwise(F.col("value")),
            )
        elif t == "embeddings":
            df = df.withColumn(
                "embedding",
                F.when(
                    F.col("vec_id") == 11,
                    F.transform("embedding", lambda _: F.lit(3.0e38).cast("float")),
                )
                .when(
                    F.col("vec_id") == 13,
                    F.transform(
                        "embedding", lambda _: F.lit(float("nan")).cast("float")
                    ),
                )
                .otherwise(F.col("embedding")),
            )
        df.write.parquet(os.path.join(ad, f"{t}.parquet"))
    return ad


def test_all_queries_handle_adversarial_corpus(spark, adversarial_corpus_dir):
    """Totality one step past nulls: all registered queries must
    execute (collect without raising) over the adversarial corpus —
    a multi-million-token document, non-BMP/NUL/RTL text, ±inf/NaN
    and DBL_MAX event values, and overflow/NaN embedding vectors.
    No value parity is claimed here (Spark splits strings into UTF-16
    code units while DuckDB splits codepoints, so poly-hash results
    legitimately differ on non-BMP text; IEEE inf/NaN aggregates are
    presentation-hostile) — the driver gate pins values on the clean
    path; this pins that garbage rows degrade to garbage OUTPUTS,
    never executor crashes."""
    from hadoop_and_spark_spark.registry import collect

    from conftest import run_queries_concurrently

    queries, _ = collect()
    run_queries_concurrently(
        queries, lambda name: queries[name](spark, adversarial_corpus_dir).collect()
    )  # must not raise


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    import os

    from hadoop_and_spark_spark.catalog import load_table
    from hadoop_and_spark_spark.sources.maintenance import (
        compact_parquet,
        parquet_data_size,
    )

    frag = str(tmp_path / "frag")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(64).write.parquet(frag)  # fragment: 64 tiny files
    n_in = sum(f.endswith(".parquet") for f in os.listdir(frag))
    assert n_in >= 32

    out = str(tmp_path / "compact")
    n_target = compact_parquet(
        spark, frag, out, target_file_bytes=max(parquet_data_size(frag), 1)
    )
    n_out = sum(f.endswith(".parquet") for f in os.listdir(out))
    assert n_target == 1 and n_out == 1
    # content identical
    a = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    b = sorted(tuple(r) for r in docs.collect())
    assert a == b


def test_merge_upsert_keep_latest(spark, tmp_path):
    from hadoop_and_spark_spark.sources.maintenance import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 2)], "k long, v string, ver long"
    )
    base_path = str(tmp_path / "base")
    base.write.parquet(base_path)
    updates = spark.createDataFrame(
        [
            (2, "b2", 2),   # newer version → replaces
            (3, "c-old", 1),  # OLDER version → base row wins
            (4, "d", 1),    # brand-new key → inserted
            (4, "d2", 3),   # two updates same key → highest version
        ],
        "k long, v string, ver long",
    )
    out = str(tmp_path / "merged")
    merge_upsert(spark, base_path, updates, key="k", version_col="ver", out_path=out)
    got = {r.k: (r.v, r.ver) for r in spark.read.parquet(out).collect()}
    assert got == {1: ("a", 1), 2: ("b2", 2), 3: ("c", 2), 4: ("d2", 3)}


def test_merge_upsert_tie_prefers_update(spark, tmp_path):
    from hadoop_and_spark_spark.sources.maintenance import merge_upsert

    base = spark.createDataFrame([(1, "old", 5)], "k long, v string, ver long")
    base_path = str(tmp_path / "base2")
    base.write.parquet(base_path)
    updates = spark.createDataFrame([(1, "new", 5)], "k long, v string, ver long")
    out = str(tmp_path / "merged2")
    merge_upsert(spark, base_path, updates, key="k", version_col="ver", out_path=out)
    got = [(r.k, r.v, r.ver) for r in spark.read.parquet(out).collect()]
    assert got == [(1, "new", 5)]


def test_jsonl_roundtrip_documents(spark, sf_dir, tmp_path):
    from hadoop_and_spark_spark.catalog import load_table
    from hadoop_and_spark_spark.sources.jsonl import read_jsonl, write_jsonl

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, docs.schema)
    assert back.schema == docs.schema
    a = sorted(tuple(r) for r in back.collect())
    b = sorted(tuple(r) for r in docs.collect())
    assert a == b


def test_jsonl_corrupt_line_fails_loudly(spark, tmp_path):
    import pytest

    from hadoop_and_spark_spark.sources.jsonl import read_jsonl

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-0.json").write_text('{"a": 1}\nnot json at all\n{"a": 3}\n')
    df = read_jsonl(spark, str(p), "a long")
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        df.collect()


def test_build_once_skips_until_marker_stale(spark, sf_dir, tmp_path):
    """build_once runs the builder exactly once per marker value:
    a second call with the same marker is a no-op (the persisted-index
    seek path never pays a rebuild), a changed marker (source refresh
    or format bump) rebuilds, and a marker-less directory — e.g. a
    build that crashed before finishing — rebuilds."""
    from hadoop_and_spark_spark.sources.maintenance import build_once

    out = str(tmp_path / "artifact")
    calls = []

    def build():
        os.makedirs(out, exist_ok=True)
        calls.append(1)

    assert build_once(out, "v1", build) is True
    assert build_once(out, "v1", build) is False
    assert len(calls) == 1
    assert build_once(out, "v2", build) is True  # stale marker
    os.remove(os.path.join(out, "_BUILD_MARKER"))
    assert build_once(out, "v2", build) is True  # crashed build
    assert len(calls) == 3


def test_persisted_queries_reuse_fresh_index(spark, sf_dir):
    """The two storage-backed queries must NOT rewrite their on-disk
    artifact on repeat invocation: the parquet files' mtimes are
    unchanged across a second run (the 'index built once, queries
    seek' contract both docstrings claim)."""
    from hadoop_and_spark_spark.operators import index, similarity

    def mtimes(path):
        return {
            os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
            for r, _d, fs in os.walk(path)
            for f in fs
        }

    index.boolean_retrieval_persisted(spark, sf_dir).collect()
    similarity.knn_ivf_persisted(spark, sf_dir).collect()
    before = mtimes(index.index_path(sf_dir)), mtimes(
        similarity.ivf_index_path(sf_dir)
    )
    index.boolean_retrieval_persisted(spark, sf_dir).collect()
    similarity.knn_ivf_persisted(spark, sf_dir).collect()
    after = mtimes(index.index_path(sf_dir)), mtimes(
        similarity.ivf_index_path(sf_dir)
    )
    assert before == after and all(before)


def test_session_memo_evicts_superseded_entries(spark, sf_dir, tmp_path):
    """Rewriting a source table in-place must EVICT the old memo entry
    when the fresh one is inserted — otherwise every rewrite leaks the
    superseded checkpoint for the application lifetime."""
    import os
    import shutil

    from hadoop_and_spark_spark.sources import maintenance as m

    sfx = str(tmp_path / "sfx")
    os.makedirs(sfx)
    shutil.copy2(
        os.path.join(sf_dir, "documents.parquet"),
        os.path.join(sfx, "documents.parquet"),
    )
    built = []

    def build():
        built.append(1)
        return spark.range(len(built)).localCheckpoint(eager=True)

    v1 = m.session_memo(spark, sfx, "documents", "evict_test_v1", build)
    assert m.session_memo(spark, sfx, "documents", "evict_test_v1", build) is v1
    assert len(built) == 1

    # in-place rewrite: bump the table directory's mtime → new marker
    p = os.path.join(sfx, "documents.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    v2 = m.session_memo(spark, sfx, "documents", "evict_test_v1", build)
    assert len(built) == 2 and v2 is not v1

    matching = [
        k
        for k in m._SESSION_MEMO
        if k[0] == spark.sparkContext.applicationId
        and k[1].startswith(os.path.abspath(p))
        and k[1].endswith("evict_test_v1")
    ]
    assert len(matching) == 1, matching  # superseded entry evicted


def _drop_memo_app(app: str) -> None:
    """Remove a test's synthetic entries from the shared session memo."""
    from hadoop_and_spark_spark.sources import maintenance as m

    with m._CACHE_LOCK:
        for k in [k for k in m._SESSION_MEMO if k[0] == app]:
            del m._SESSION_MEMO[k]


def test_memo_insert_unpersists_superseded_values():
    """Inserting a memo entry must release the superseded value's
    cached blocks (DataFrames directly or inside tuples) and leave
    unrelated entries alone."""
    from hadoop_and_spark_spark.sources import maintenance as m

    class Frame:
        def __init__(self):
            self.released = False

        def unpersist(self):
            self.released = True

    app = "test-memo-insert"
    stale, fresh, other = Frame(), Frame(), Frame()
    old_key = (app, "/t/docs.parquet|1|10|v1")
    other_key = (app, "/t/other.parquet|1|10|v1")
    new_key = (app, "/t/docs.parquet|2|11|v1")
    try:
        m._memo_insert(old_key, ("model", stale))
        m._memo_insert(other_key, other)
        m._memo_insert(new_key, fresh)
        assert stale.released and not other.released and not fresh.released
        assert old_key not in m._SESSION_MEMO
        assert m._SESSION_MEMO[other_key] is other
        assert m._SESSION_MEMO[new_key] is fresh
    finally:
        _drop_memo_app(app)


def test_mem_bytes_tolerates_sloppy_specs():
    """$SPARK_GRAFT_DRIVER_MEM spellings users actually type must not
    crash session startup: '16gb' parses, junk falls back to the 16g
    default with a warning (the value only scales memory thresholds,
    so a sane default degrades plans, never correctness)."""
    import warnings

    from hadoop_and_spark_spark.session import _mem_bytes

    assert _mem_bytes("16g") == 16 << 30
    assert _mem_bytes("16gb") == 16 << 30
    assert _mem_bytes(" 512M ") == 512 << 20
    assert _mem_bytes("2048k") == 2048 << 10
    assert _mem_bytes("1024") == 1024
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert _mem_bytes("") == 16 << 30
        assert _mem_bytes("1.5g") == 16 << 30
    assert len(caught) == 2


def test_scoped_conf_is_thread_safe(spark):
    """The registry sweeps run queries on a thread pool and
    events-loading queries span four lock groups, so two threads can
    interleave _scoped_conf set/restore on the same key; an unlocked
    restore between another thread's set and its plan-time read hands
    that read the wrong (possibly unset) value. The whole scoped block
    holds _CONF_LOCK, so a reader inside the block must always observe
    its own value."""
    import threading

    from hadoop_and_spark_spark.catalog import _scoped_conf

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key, None)
    spark.conf.unset(key)  # prior=None is the racy restore (unset) path
    errs: list[str] = []

    def worker() -> None:
        try:
            for _ in range(50):
                with _scoped_conf(spark, key, "true"):
                    got = spark.conf.get(key, None)
                    if got != "true":
                        errs.append(f"observed {got!r} inside scope")
        except Exception as exc:  # noqa: BLE001
            errs.append(repr(exc))

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    try:
        assert not errs, errs[:3]
        assert spark.conf.get(key, None) is None  # every scope restored
    finally:
        if prior is not None:
            spark.conf.set(key, prior)


def test_cache_mutation_is_safe_under_concurrent_inserts():
    """Per-KEY build locks let a thread holding one key's lock insert
    into the session memo while another thread scans it for a
    different key's superseded entries; an unlocked scan raises
    'dictionary changed size during iteration'. Every memo mutation
    therefore runs under the one _CACHE_LOCK. This stress drives many
    threads through interleaved insert+evict cycles on the memo (the
    unlocked form fails it)."""
    import sys
    import threading

    from hadoop_and_spark_spark.sources import maintenance as m

    app = "test-memo-stress"
    errs: list[str] = []

    def worker(tid: int) -> None:
        try:
            for i in range(300):
                path = f"/t/tab{tid}_{i % 7}.parquet"
                # insert, then supersede it: the second insert evicts
                # the first under the same lock hold
                m._memo_insert((app, f"{path}|{i}|{i}|v1"), object())
                m._memo_insert((app, f"{path}|{i + 1}|{i}|v1"), object())
        except Exception as exc:  # noqa: BLE001
            errs.append(repr(exc))

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    # A tiny GIL switch interval makes threads preempt each other
    # inside the scan, so the race shows on every run, not by luck.
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs, errs[:3]
        # each (thread, path) keeps exactly its latest entry
        assert sum(k[0] == app for k in list(m._SESSION_MEMO)) == 8 * 7
    finally:
        sys.setswitchinterval(interval)
        _drop_memo_app(app)
