"""Cold scaling probe — generates the repo's cold-scaling tables.

Builds a 10x `documents` corpus from the bench scale dir — each of 10
replicas gets per-replica filler tokens appended so replicas are
NEAR-dups (they collide in shingle space) but not exact dups, keeping
true-pair volumes controlled — then times every probed query COLD
(every in-session artifact cache cleared before each timed run;
untimed warm-up, min of two timed runs) at 1x and 10x.

Usage: python tools/scaling_probe.py [query ...]
With no arguments probes the full default set AND (re)writes the 10x
table in `PROBE.md` at the repo root — the single generated markdown
file the README points at, replacing the per-round hand-maintained
tables that went stale section-by-section. Writes the 10x corpus to
/tmp/sfprobe10x (rebuilt only if absent or stale by marker).

`--factor N [query ...]` (typically N=100) instead probes the SPOT
set — a representative slice chosen to stress each scale axis
without output-volume domination — on an N-x corpus built by a
single-pass explode (the 10x union-loop builder is kept verbatim so
published 10x numbers stay comparable across rounds) and rewrites
PROBE.md's spot section, leaving the 10x table untouched.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from hadoop_and_spark_spark.registry import collect
from hadoop_and_spark_spark.session import get_spark
from hadoop_and_spark_spark.sources.maintenance import clear_session_caches

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PROBE_DIR = "/tmp/sfprobe10x"
REPLICAS = 10
PROBE_GEN = 3  # bump when the replica-generation recipe changes
# The probe dir materializes ONLY documents.parquet, events.parquet,
# and embeddings.parquet, so every entry here must read just those.
# documents grow as near-dup replica families (dedup realism); events
# grow by replicating users (user_id offset per replica) so per-user
# stream structure — sessions, as-of, range windows — is preserved
# while the corpus 10x-es along the realistic axis (more users).
DEFAULT_QUERIES = (
    # text / index / ML families (documents)
    "wordcount",
    "bigram_relative_frequency",
    "pmi_pairs",
    "winnow_fingerprint",
    "boolean_retrieval",
    "boolean_retrieval_persisted",
    "tfidf_retrieval",
    "bm25_retrieval",
    "hybrid_retrieval",
    "spam_train",
    "spam_eval_trained",
    # dedup family (documents / embeddings)
    "dedup_exact",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_embedding",
    "dedup_clusters",
    "dedup_survivors",
    "decontaminate",
    # corpus-prep family (documents)
    "corpus_split",
    "stratified_sample",
    "repetition_filter",
    "doc_chunks",
    "doc_perplexity",
    "doc_hashed_features",
    "doc_token_ids",
    "pack_sequences",
    "token_freq_sketch",
    "multimodal_features",
    # similarity family (embeddings)
    "knn_bruteforce",
    "knn_ivf",
    "kmeans_centroids",
    "knn_ivf_kmeans",
    "embedding_quantize",
    "embedding_pca",
    # temporal / event family (events)
    "asof_attribution",
    "user_sessions",
    "range_join_counts",
    "next_event_pairs",
    "value_outliers",
    "value_moving_avg",
    "events_pivot",
    "funnel_counts",
    "cohort_retention",
    "heavy_users_topk",
    "pseudonymize_events",
    "salted_hot_key_join",
    "latest_snapshot",
    "zorder_layout",
    "zordered_scan",
    "partitioned_scan",
    "event_count_sliding",
    "user_sessions_stream",
    # streaming replays (events / documents)
    "trending_arrivals_stream",
    "event_count_hourly_stream",
    "event_count_hourly_late",
    "tier_counts_stream",
    "purchase_click_pairs",
    "dedup_exact_stream",
    "dedup_bounded_stream",
    "event_count_sliding_stream",
    "cdc_upsert_stream",
)

# One-line scale rationale per probed query, rendered into PROBE.md —
# the "why" column of the generated table (kept next to the query list
# so adding a probe without its rationale is a visible gap).
WHY = {
    "wordcount": "scan-bound, partial agg; shuffle is vocabulary-sized",
    "bigram_relative_frequency": "array-side pair formation, vocab-sized shuffles",
    "pmi_pairs": "emitted pairs bounded 40x39 per doc (the reference's window rule)",
    "winnow_fingerprint": "embarrassingly-parallel Arrow kernel, no shuffle",
    "boolean_retrieval": "postings build grows; retrieval stays per-term seeks",
    "boolean_retrieval_persisted": "index write grows, retrieval stays pushed-predicate seeks",
    "tfidf_retrieval": "postings seek on 3 terms + footer-only N; work scales with df(term)",
    "bm25_retrieval": "postings seek + candidate-pruned dl pass; scales with df(term)",
    "hybrid_retrieval": "both towers bounded; fusion joins two 50-row frames",
    "spam_train": "sequential SGD pass (inherently serial per shard)",
    "spam_eval_trained": "SGD per-shard pass dominates; AUC is grouped-score",
    "dedup_exact": "hash agg on (md5, id); payload never shuffles",
    "dedup_simhash": "projection sketch + popcount band join",
    "dedup_ngram_jaccard": "PPJoin prefix + length + positional filters; 10x crosses the broadcast bound so every corpus-sized join side shuffles (the 100 TB strategy, size-gated) and residual growth is true-pair output",
    "dedup_minhash_lsh": "true-dup pair volume grows ~x1000 by construction; past the broadcast bound the band self-join and verify shuffle (the 100 TB strategy, size-gated)",
    "dedup_embedding": "capped band buckets bound candidates at any corpus size",
    "dedup_clusters": "pair graph ~x1000 mined on the size-gated shuffle path; CC rounds stay at component diameter",
    "dedup_survivors": "pair mining (size-gated shuffle path) dominates; survivor anti-join ships doc_id only",
    "decontaminate": "eval shingles fixed-size broadcast; corpus side scan-bound",
    "corpus_split": "bounded 64-char hash fold per row, scan-bound",
    "stratified_sample": "scan-bound hash filter, no shuffle",
    "repetition_filter": "array dup-ratio + explode/partial-agg; only (id, scalar) shuffles",
    "doc_chunks": "explode-over-sequence projection; output grows by design",
    "doc_perplexity": "bigram volume grows by design; LM stays vocab2-bounded broadcast",
    "doc_hashed_features": "hashing inside token-array HOFs, scan-bound",
    "doc_token_ids": "output grows by design; vocab stays a <=V-row broadcast",
    "pack_sequences": "per-bucket cumsum window; packing parallel across buckets",
    "token_freq_sketch": "fixed width x depth sketch state, partial merges map-side",
    "multimodal_features": "Arrow kernel over payload bytes, no shuffle",
    "knn_bruteforce": "fixed 64-query broadcast; only (query, vec, cos) rows shuffle",
    "knn_ivf": "cold incl. inverted-file build; probe set fixed, NPROBE unchanged",
    "kmeans_centroids": "cold incl. training; k*64 sufficient-stat cells per task",
    "knn_ivf_kmeans": "cold incl. training; probe/search identical to knn_ivf",
    "embedding_quantize": "pure projection; growth is the x64-exploded output itself",
    "embedding_pca": "d2-cell sufficient statistics are corpus-size-independent",
    "asof_attribution": "one shuffle on user_id; window carries one row per user",
    "user_sessions": "one session_window shuffle; session COUNT is corpus-proportional, so the collect column is dominated by driver materialization — the engine columns isolate the operator's own cost",
    "range_join_counts": "bin-join candidates grow with per-(user, bin) activity only",
    "next_event_pairs": "one lead() shuffle on user_id; output grows by design",
    "value_outliers": "one exact-moment agg + broadcast comparison projection",
    "value_moving_avg": "pre-aggregated to days x types before the window",
    "events_pivot": "one conditional-count agg; state = days x declared types",
    "funnel_counts": "cascading filtered aggs; stages shrink down the funnel",
    "cohort_retention": "(user, day) deduped before the cohort join",
    "heavy_users_topk": "partial-agg counts + bounded salted windows",
    "pseudonymize_events": "pure projection; growth is the hashed output itself",
    "salted_hot_key_join": "hot key spread over 8 salt sub-keys; dim replicates 8x",
    "trending_arrivals_stream": "micro-batch count fixed; state one long per key",
    "event_count_hourly_stream": "watermark-bounded window state; replay machinery fixed cost",
    "event_count_hourly_late": "same as hourly stream + scripted late week dropped by eviction",
    "tier_counts_stream": "broadcast dim join per micro-batch; agg state tiers x horizon",
    "purchase_click_pairs": "cold cost is replay machinery, not state: 5 checkpointed micro-batches x fixed planning/state-commit overhead across four join state stores per partition (state partitions sized by streaming/runtime.py — was 3x slower inheriting the batch default; 10x data adds <1 s; click state evicts 25 h past each week)",
    "dedup_exact_stream": "state one hash per distinct doc; payload never stored",
    "dedup_bounded_stream": "state = keys inside watermark horizon only (evicted after delay); scripted rearrivals fixed-size",
    "latest_snapshot": "max(struct) partial agg; one candidate row per key per partition shuffles — output is one row per KEY (user x type grows with the replica corpus), so the engine columns separate agg cost from collecting it",
    "zorder_layout": "codegen bit math + 32-group partial agg; no data-row shuffle",
    "zordered_scan": "cold incl. z-ordered layout + manifest build (build-once); read opens only manifest-matched files",
    "user_sessions_stream": "cold incl. replay-source build; state = open sessions per user in watermark horizon, append-emitted at close",
    "partitioned_scan": "layout persisted on disk (build-once); read prunes to 7/30 partitions",
    "event_count_sliding": "Expand x(len/hop)=2 into one partial+final agg shuffle",
    "event_count_sliding_stream": "overlapping-window state = 2x windows in horizon; replay fixed cost",
    "cdc_upsert_stream": "per-batch merge shuffles table+batch once; table stays keyed-cardinality",
    "personalized_pagerank": "distinct-edge extraction is the only fact-volume phase (node space fixed mod N, replica orderkeys fold onto the same nodes); 10 iterations run on the cached saturated graph, state = N x sources doubles",
    "graph_triangles": "same fixed node space: 100x scan feeds the distinct-edge cut, orientation + O(sqrt m) join run on the saturated edge set",
    "q6_pricing_summary": "one scan + grouped multi-agg; shuffle carries flag x status partials",
    "q4_orders_by_nation": "facts stream through broadcast dim hash joins; shuffle only for the nation-count agg",
    "q9_price_percentiles": "domain-bounded price histogram + per-flag cumulative window; state independent of row count",
}


# The 100x SPOT set: one query per scale axis, chosen so measured
# growth reflects ENGINE work, not output volume the harness collects
# (pair-mining dedups are excluded — a 100x replica corpus has
# ~C(100,2) x families true pairs by construction, which measures the
# corpus generator, not the operator; dedup_embedding's capped band
# buckets stand in for the family).
SPOT_QUERIES = (
    "wordcount",             # scan + vocabulary-sized partial agg
    "dedup_exact",           # corpus-wide hash agg on (md5, id)
    "dedup_embedding",       # near-dup mining with capped candidates
    "decontaminate",         # broadcast semi-join prune
    "doc_perplexity",        # token volume x vocab2-bounded LM
    "token_freq_sketch",     # fixed-size sketch state, map-side merges
    "knn_bruteforce",        # 64-query broadcast x full vector scan
    "knn_ivf",               # cold incl. inverted-file build, bounded probe
    "embedding_pca",         # d2-cell sufficient statistics
    "asof_attribution",      # user-keyed shuffle + as-of window
    "user_sessions",         # session_window shuffle, more users
    "latest_snapshot",       # max(struct) partial agg per key
    "event_count_sliding",   # Expand x2 into one agg shuffle
    "event_count_hourly_stream",  # replay: micro-batch volume x100, state horizon-bounded
    # graph family: the lineitem-derived edge list grows 100x but the
    # node space is fixed (keys mod PR_NUM_NODES), so distinct-edge
    # extraction is the scan-bound phase and the iterations/triangle
    # counting run on the same saturated graph — the claim that the
    # iterative state never scales with fact volume, measured.
    "personalized_pagerank",
    "graph_triangles",
    # relational family (lineitem/orders replicated as 100x ACTIVITY of
    # the same customer/part/supplier base — dims copied verbatim)
    "q6_pricing_summary",    # TPC-H Q1 shape: scan + multi-agg
    "q4_orders_by_nation",   # multi-way join onto broadcast dims
    "q9_price_percentiles",  # exact percentiles via bounded histogram
)

SPOT_GEN = 2  # bump when the spot-corpus recipe changes


def _probe_marker() -> str:
    """Cache key for the probe corpus: base path + base mtime +
    generator version. A marker mismatch (stale base data, older
    generator, different SPARK_GRAFT_SF_DIR) forces a rebuild instead
    of silently feeding stale 10x data into the published table."""
    base = os.path.join(BASE_SF, "documents.parquet")
    mtime = int(os.stat(base).st_mtime) if os.path.exists(base) else -1
    return f"{os.path.abspath(base)}|{mtime}|gen{PROBE_GEN}|reps{REPLICAS}"


def build_probe_corpus(spark) -> None:
    out = os.path.join(PROBE_DIR, "documents.parquet")
    marker_path = os.path.join(PROBE_DIR, "MARKER")
    marker = _probe_marker()
    if os.path.exists(out) and os.path.exists(marker_path):
        with open(marker_path) as fh:
            if fh.read() == marker:
                return
    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    reps = None
    for r in range(REPLICAS):
        part = docs.select(
            (F.col("doc_id") + r * 10_000_000).alias("doc_id"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
            F.concat(
                F.col("text"),
                F.lit(f" probe{r}x"),
                (F.col("doc_id") % 97).cast("string"),
            ).alias("text"),
        ).select(*docs.columns)
        reps = part if reps is None else reps.unionByName(part)
    reps.write.mode("overwrite").parquet(out)

    ev = spark.read.parquet(os.path.join(BASE_SF, "events.parquet"))
    ev_reps = None
    for r in range(REPLICAS):
        part = ev.select(
            (F.col("event_id") + r * 100_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + r * 1_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        ).select(*ev.columns)
        ev_reps = part if ev_reps is None else ev_reps.unionByName(part)
    ev_reps.write.mode("overwrite").parquet(
        os.path.join(PROBE_DIR, "events.parquet")
    )

    # embeddings: replicate with offset vec_ids, vectors UNCHANGED —
    # grows the searched corpus 10x for the retrieval family
    # (knn/hybrid probe the fixed query set against more vectors).
    # NOT for the embedding-dedup probes: identical replicas are
    # exact dups and would saturate any near-dup threshold.
    emb = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    emb_reps = None
    for r in range(REPLICAS):
        part = emb.select(
            (F.col("vec_id") + r * 10_000_000).alias("vec_id"),
            "embedding",
            "label",
        ).select(*emb.columns)
        emb_reps = part if emb_reps is None else emb_reps.unionByName(part)
    emb_reps.write.mode("overwrite").parquet(
        os.path.join(PROBE_DIR, "embeddings.parquet")
    )
    with open(marker_path, "w") as fh:
        fh.write(marker)


def build_spot_corpus(spark, factor: int) -> str:
    """N-x replica corpus for the spot probe, built in ONE pass per
    table via explode over a replica-index sequence (the 10x builder's
    union-of-10-selects does not scale to 100 replicas: 100-way unions
    make analysis itself the bottleneck). Same replica recipe as the
    10x corpus — documents become near-dup families via per-replica
    filler tokens, events replicate by USER (per-user stream structure
    preserved; the corpus grows along the realistic more-users axis),
    embeddings replicate with offset ids and unchanged vectors."""
    out_dir = f"/tmp/sfprobe{factor}x"
    marker_path = os.path.join(out_dir, "MARKER")
    marker = _probe_marker() + f"|spot{SPOT_GEN}|factor{factor}"
    if os.path.exists(marker_path):
        with open(marker_path) as fh:
            if fh.read() == marker:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    # long, not int: r * 100_000_000 overflows int32 under ANSI at
    # factor 100 (sequence() yields ints)
    rep = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(factor - 1).cast("long"))
    ).alias("r")

    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    docs.select("*", rep).select(
        (F.col("doc_id") + F.col("r") * 10_000_000).alias("doc_id"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
        F.concat(
            F.col("text"),
            F.lit(" probe"),
            F.col("r").cast("string"),
            F.lit("x"),
            (F.col("doc_id") % 97).cast("string"),
        ).alias("text"),
    ).select(*docs.columns).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )

    ev = spark.read.parquet(os.path.join(BASE_SF, "events.parquet"))
    ev.select("*", rep).select(
        (F.col("event_id") + F.col("r") * 100_000_000).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("r") * 1_000_000).alias("user_id"),
        "event_type",
        "value",
        "props",
    ).select(*ev.columns).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )

    emb = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    emb.select("*", rep).select(
        (F.col("vec_id") + F.col("r") * 10_000_000).alias("vec_id"),
        "embedding",
        "label",
    ).select(*emb.columns).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )

    # Relational facts replicate as 100x ACTIVITY of the SAME
    # customer/part/supplier base: orderkeys offset per replica so the
    # orders↔lineitem join key stays consistent, foreign keys into the
    # dimensions unchanged, dims copied verbatim. This is the realistic
    # fact-growth axis (dims grow ~log of facts in TPC-H's own scaling)
    # and keeps every dim broadcastable, which is the plan shape the
    # engine claims at 100 TB.
    orders = spark.read.parquet(os.path.join(BASE_SF, "orders.parquet"))
    orders.select("*", rep).select(
        (F.col("o_orderkey") + F.col("r") * 10_000_000).alias("o_orderkey"),
        *[c for c in orders.columns if c != "o_orderkey"],
    ).select(*orders.columns).write.mode("overwrite").parquet(
        os.path.join(out_dir, "orders.parquet")
    )
    li = spark.read.parquet(os.path.join(BASE_SF, "lineitem.parquet"))
    li.select("*", rep).select(
        (F.col("l_orderkey") + F.col("r") * 10_000_000).alias("l_orderkey"),
        *[c for c in li.columns if c != "l_orderkey"],
    ).select(*li.columns).write.mode("overwrite").parquet(
        os.path.join(out_dir, "lineitem.parquet")
    )
    import shutil

    for dim in ("region", "nation", "customer", "supplier", "part"):
        src = os.path.join(BASE_SF, f"{dim}.parquet")
        dst = os.path.join(out_dir, f"{dim}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copyfile(src, dst)

    with open(marker_path, "w") as fh:
        fh.write(marker)
    return out_dir


def cold_min(fn, spark, sf_dir: str, engine: bool = False) -> float:
    """Cold cost, min of two timed runs after an untimed warm-up
    (codegen + footer cache). EVERY in-session cache is cleared before
    each run, so a query whose cost is memoized per (session, corpus)
    is priced with its iterative compute (training / convergence /
    pair mining), not just the cached extract.

    ``engine`` drains the plan into Spark's JVM noop sink instead of
    collect(): the executors do ALL the plan's work and zero rows
    cross to the driver. total − engine is therefore the harness's own
    materialization cost (serialize + ship + build Row objects), which
    a production job writing to parquet never pays. This separates
    "the operator scales" from "collecting a corpus-proportional
    result to one process scales", measured instead of attributed."""
    def action():
        df = fn(spark, sf_dir)
        if engine:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()

    clear_session_caches()
    action()
    best = float("inf")
    for _ in range(2):
        clear_session_caches()
        t0 = time.perf_counter()
        action()
        best = min(best, time.perf_counter() - t0)
    return best


PROBE_MD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PROBE.md"
)

_MD_HEADER = """# Cold 10x scaling probe (generated — do not hand-edit)

Generated by `python tools/scaling_probe.py` (no arguments). Method:
the bench corpus (`documents`/`events`/`embeddings` at
$SPARK_GRAFT_SF_DIR, default sf0.1) is replicated 10x — documents get
per-replica filler tokens so replicas are NEAR-dups, events replicate
by user (per-user stream structure preserved), embeddings replicate
with offset ids — and every probed query is timed COLD at 1x and 10x:
all in-session artifact caches (pair graphs, postings, trained
models, replay streams, IVF/k-means/PageRank memos) are cleared
before each timed run, so the numbers INCLUDE the artifact builds the
steady-state bench (`BENCH_QUERIES.json`, key `memoized`) amortizes.
min of two timed runs, untimed warm-up first, local[32].

The engine columns re-run the identical cold protocol draining into
Spark's JVM noop sink instead of collect(): executors do all the
plan's work, zero rows reach the driver. The gap between the collect
and engine columns is the probe harness's own driver-side
materialization of corpus-proportional output — a cost a production
job writing to a distributed sink never pays — MEASURED per row
rather than attributed in prose (same protocol as the 100x spot
table below).

Reading the growth columns: ~1-3x = scan/partial-agg bound; larger
growth is either output volume (visible as collect-growth >>
engine-growth, or stated in the why column) or data-inherent pair
volume (dedup on a 10x-replicated corpus has ~x1000 true pairs by
construction).

| Query | 1x | 10x | Growth | 1x engine | 10x engine | Engine growth | Why |
|---|---|---|---|---|---|---|---|
"""


def _row(name: str, one: float, big: float, eone: float | None = None,
         ebig: float | None = None) -> str:
    if eone is not None:
        # spot-table shape: engine-side (noop sink) columns measured
        # alongside the harness-inclusive collect() columns.
        return (
            f"| {name} | {one:.2f} s | {big:.2f} s | {big / one:.1f}x "
            f"| {eone:.2f} s | {ebig:.2f} s | {ebig / eone:.1f}x "
            f"| {WHY.get(name, '')} |\n"
        )
    return (
        f"| {name} | {one:.2f} s | {big:.2f} s "
        f"| {big / one:.1f}x | {WHY.get(name, '')} |\n"
    )


def _spot_header(factor: int) -> str:
    return f"""
## Cold {factor}x spot probe (generated — do not hand-edit)

`python tools/scaling_probe.py --factor {factor}`: the same cold
protocol (caches cleared, untimed warm-up, min of two timed runs) on
a {factor}x corpus built by single-pass explode replication with the
same replica recipe, over one representative query per scale axis.
Pair-mining dedups are excluded by design: a replica corpus's
true-pair volume grows ~quadratically in the factor, which measures
the generator, not the operator (dedup_embedding's capped band
buckets represent the family). The relational rows run on orders/
lineitem replicated as 100x ACTIVITY of the same dimension base
(orderkeys offset per replica, foreign keys unchanged, dims copied
verbatim) — facts grow, dims stay broadcastable, TPC-H's own scaling
shape. Near-linear growth on fixed local[32]
hardware is the single-node analogue of the fleet-level claim:
per-core work stays flat as data and cores scale together.

The engine columns re-run the identical cold protocol draining into
Spark's JVM noop sink instead of collect(): executors do all the
plan's work, zero rows reach the driver. The gap between the collect
and engine columns is the probe harness's own driver-side
materialization of corpus-proportional output — a cost a production
job writing to a distributed sink never pays — MEASURED per row
rather than attributed in prose.

| Query | 1x | {factor}x | Growth | 1x engine | {factor}x engine | Engine growth | Why |
|---|---|---|---|---|---|---|---|
"""


def _split_sections(lines: list[str]) -> tuple[list[str], list[str]]:
    """PROBE.md = [10x table] + optional [spot section]; split so each
    writer rewrites its own section and preserves the other."""
    for i, ln in enumerate(lines):
        if ln.startswith("## Cold ") and "spot probe" in ln:
            j = i - 1 if i > 0 and not lines[i - 1].strip() else i
            return lines[:j], lines[j:]
    return lines, []


def _splice_rows(lines: list[str], header: str, rows) -> list[str]:
    """Replace matching `| name |` rows in one section, append the
    rest — a selective probe must never silently discard its
    measurements. Missing section bootstraps from the header."""
    fresh = {r[0]: _row(*r) for r in rows}
    if not lines:
        lines = header.splitlines(keepends=True)
    replaced: set[str] = set()
    updated = []
    for ln in lines:
        key = ln.split("|")[1].strip() if ln.startswith("| ") else None
        if key in fresh:
            updated.append(fresh[key])
            replaced.add(key)
        else:
            updated.append(ln)
    updated.extend(fresh[r[0]] for r in rows if r[0] not in replaced)
    return updated


def main() -> None:
    argv = sys.argv[1:]
    factor = 10
    if "--factor" in argv:
        i = argv.index("--factor")
        factor = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    spot = factor != 10
    names = argv or list(SPOT_QUERIES if spot else DEFAULT_QUERIES)
    selective = bool(argv)
    spark = get_spark("scaling-probe")
    if spot:
        probe_dir = build_spot_corpus(spark, factor)
    else:
        build_probe_corpus(spark)
        probe_dir = PROBE_DIR
    queries, _ = collect()
    print(f"{'query':32s} {'1x':>7s} {factor:>6d}x {'growth':>7s}")
    rows = []
    for name in names:
        # Both tables carry measured engine-side (noop sink) twins, so
        # neither table mixes harness collect cost into its growth
        # column.
        fn = queries[name]
        one = cold_min(fn, spark, BASE_SF)
        big = cold_min(fn, spark, probe_dir)
        eone = cold_min(fn, spark, BASE_SF, engine=True)
        ebig = cold_min(fn, spark, probe_dir, engine=True)
        print(
            f"{name:32s} {one:6.2f}s {big:6.2f}s {big / one:6.1f}x "
            f"eng {eone:6.2f}s {ebig:6.2f}s {ebig / eone:6.1f}x",
            flush=True,
        )
        rows.append((name, one, big, eone, ebig))

    if os.path.exists(PROBE_MD):
        with open(PROBE_MD) as fh:
            main_sec, spot_sec = _split_sections(fh.readlines())
    else:
        main_sec, spot_sec = [], []
    if spot:
        if selective:
            spot_sec = _splice_rows(spot_sec, _spot_header(factor), rows)
        else:
            spot_sec = _spot_header(factor).splitlines(keepends=True) + [
                _row(*r) for r in rows
            ]
        main_sec = main_sec or _MD_HEADER.splitlines(keepends=True)
    elif selective:
        main_sec = _splice_rows(main_sec, _MD_HEADER, rows)
    else:
        main_sec = _MD_HEADER.splitlines(keepends=True) + [
            _row(*r) for r in rows
        ]
    with open(PROBE_MD, "w") as fh:
        fh.writelines(main_sec + spot_sec)
    print(f"wrote {PROBE_MD} ({'spot' if spot else '10x'} section)")
    spark.stop()


if __name__ == "__main__":
    main()
