"""Registry rotation: the driver verifies ~50 queries per round in
registration order, so collect() must order least-recently-verified
first or the registry tail never earns a driver row."""

from __future__ import annotations

import ast
import glob
import os
from collections import Counter

from hadoop_and_spark_spark.registry import collect, last_green_round


def test_collect_orders_least_recently_verified_first():
    queries, oracles = collect()
    green = last_green_round(has_oracle=set(oracles))
    rounds = [green.get(n, -1) for n in queries]
    assert rounds == sorted(rounds), (
        "collect() must be ascending in last-green-round "
        "(never-verified queries first)"
    )


def test_oracle_upgrade_reenters_window(tmp_path, monkeypatch):
    """A query verified rows-only that NOW carries an oracle has zero
    driver evidence for the stronger claim — it must sort as
    never-verified so the upgrade lands in the next driver window
    (this is how the round-7 PageRank oracle conversion gets its
    hash-green row in round 7, not round 9)."""
    import hadoop_and_spark_spark.registry as reg

    (tmp_path / "CORRECTNESS_r06.json").write_text(
        '{"upgraded": {"hash_match": null, "err": "no_oracle", "spark_rows": 9},'
        ' "still_rows_only": {"hash_match": null, "err": "no_oracle", "spark_rows": 9}}'
    )
    monkeypatch.setattr(reg, "_repo_root", lambda: str(tmp_path))
    green = reg.last_green_round(has_oracle={"upgraded"})
    assert "upgraded" not in green
    assert green["still_rows_only"] == 6


def test_every_query_name_is_registered_once_and_oracle_keys_subset():
    queries, oracles = collect()
    # collect() raises on duplicates; here we pin oracle keys refer to
    # real queries (a typo'd oracle name silently skips verification).
    stray = set(oracles) - set(queries)
    assert not stray, f"oracle entries without a registered query: {stray}"


def test_registry_fits_two_driver_windows():
    """Freshness cap, stated honestly: the driver verifies ~50 queries
    per round, least-recently-verified first, so 100 queries fit the
    strict every-query-within-2-rounds invariant and each query past
    100 stretches its own horizon to 3 rounds. The cap admits a grace
    of 7 such queries (the registry sits at exactly 107 — raised from
    105 in round 12 for the two judge-directed additions, the
    portable Count-Min twin and the capstone pipeline composition);
    growing further must retire a query or consciously rewrite this
    pin."""
    queries, _ = collect()
    window = 50  # driver rows per CORRECTNESS_r{N}.json, observed r1–r6
    strict_two_round_max = 2 * window  # 100
    grace = 7  # queries tolerated at a 3-round staleness horizon
    assert len(queries) <= strict_two_round_max + grace, (
        f"{len(queries)} registered queries exceed the two-window "
        f"freshness cap ({strict_two_round_max}) plus the {grace}-query "
        "grace; retire queries or rewrite this pin deliberately"
    )


def test_red_rows_do_not_count_as_verified(tmp_path, monkeypatch):
    import hadoop_and_spark_spark.registry as reg

    art = tmp_path / "CORRECTNESS_r09.json"
    art.write_text(
        '{"good": {"hash_match": true, "err": null, "spark_rows": 3},'
        ' "red": {"hash_match": false, "err": null, "spark_rows": 3},'
        ' "rows_only": {"hash_match": null, "err": "no_oracle", "spark_rows": 5},'
        ' "errored": {"hash_match": null, "err": "boom", "spark_rows": null}}'
    )
    monkeypatch.setattr(reg, "_repo_root", lambda: str(tmp_path))
    green = reg.last_green_round()
    assert green == {"good": 9, "rows_only": 9}


def test_later_red_row_supersedes_earlier_green(tmp_path, monkeypatch):
    """A query green in round 3 but red in round 5 must sort as
    NEVER-verified (-1), not at position 3: its most recent driver
    evidence is a regression, so it must re-enter the ~50-row driver
    window immediately."""
    import hadoop_and_spark_spark.registry as reg

    (tmp_path / "CORRECTNESS_r03.json").write_text(
        '{"regressed": {"hash_match": true, "err": null, "spark_rows": 3},'
        ' "stable": {"hash_match": true, "err": null, "spark_rows": 3}}'
    )
    (tmp_path / "CORRECTNESS_r05.json").write_text(
        '{"regressed": {"hash_match": false, "err": null, "spark_rows": 3},'
        ' "stable": {"hash_match": true, "err": null, "spark_rows": 3}}'
    )
    monkeypatch.setattr(reg, "_repo_root", lambda: str(tmp_path))
    green = reg.last_green_round()
    assert "regressed" not in green, (
        "a query whose LATEST driver row is red must be treated as "
        "never-verified so it re-enters the verification window"
    )
    assert green["stable"] == 5


# Package definitions that no registered query, tool, bench.py or
# perfbench reaches, each kept for the stated reason. Anything else the
# package defines must be reached from outside tests/, or move under
# tests/, or go.
TEST_ONLY_ALLOWED = {
    # reference forms a test diffs the registered code against
    "q9_percentiles_builtin": "builtin-percentile form of q9",
    "_kmeans_model_sql": "oracle model rows for the k-means recovery test",
    "_pca_model_sql": "oracle model rows for the PCA parity tests",
    "winnow_fp_expr": "expression form of the winnowing Arrow kernel",
    "_minhash_sig": "expression form of the MinHash Arrow kernel",
    "_band_keys": "expression form of the banding kernels",
    "_simhash_bits": "expression form of the SimHash Arrow kernel",
    "_docs_with_shingles": "expression form of the shingle Arrow kernel",
    "purchase_click_pairs_batch": "batch twin of the stream-stream join",
    "trending_stream": "stateful twin of trending_lagged_counts",
    # capabilities a SURVEY row names and no query registers
    "read_tbl": "SURVEY S1 text scan",
    "write_text_table": "SURVEY K1 text sink",
    "read_jsonl": "SURVEY X39 JSONL source",
    "write_jsonl": "SURVEY X39 JSONL sink",
    "compact_parquet": "SURVEY X34 compaction",
    "parse_adjacency": "SURVEY G1 adjacency-text parser",
    "score_with_model": "SURVEY M3 float-model scoring",
    "with_batch_counter": "SURVEY A14 streaming batch counter",
    "read_taxi_csv_stream": "a7 taxi CSV feed as a stream",
    "_decode_batches_real": "SURVEY X12 real header decode",
    # test hooks onto module-private state
    "evict_version": "evicts one artifact family from the session memo",
    "compare": "the tests' oracle-compare harness",
}


def _used_names(tree: ast.AST) -> Counter:
    """Names a tree uses: identifiers, attribute names and imported
    names."""
    used: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used[node.id] += 1
        elif isinstance(node, ast.Attribute):
            used[node.attr] += 1
        elif isinstance(node, ast.alias):
            used[node.name.rsplit(".", 1)[-1]] += 1
    return used


def unreached_definitions(
    package: dict[str, str], users: list[str]
) -> dict[str, str]:
    """Top-level def/class name -> module path, for every definition in
    the ``package`` sources (path -> source) that neither the package,
    outside the definition's own body, nor any of the ``users`` sources
    names. A def decorated with ``register`` (atexit) counts as used."""
    defs: dict[str, str] = {}
    used: Counter = Counter()
    for path, source in package.items():
        tree = ast.parse(source)
        used += _used_names(tree)
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or any(
                isinstance(d, ast.Attribute) and d.attr == "register"
                for d in node.decorator_list
            ):
                continue
            defs[node.name] = path
            # a def's own body (recursion) does not reach it
            used[node.name] -= _used_names(node)[node.name]
    for source in users:
        used += _used_names(ast.parse(source))
    return {name: path for name, path in defs.items() if used[name] <= 0}


def _sources(*rel: str) -> dict[str, str]:
    """Repo-relative path -> source of the files the globs match."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = {}
    for pattern in rel:
        for path in sorted(glob.glob(os.path.join(root, pattern), recursive=True)):
            with open(path) as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_package_defines_nothing_only_tests_reach():
    """Every top-level package definition serves a registered query, a
    tool, bench.py or perfbench — or is allowlisted with its reason.
    Test helpers live under tests/; dead code is deleted."""
    package = _sources("hadoop_and_spark_spark/**/*.py")
    users = _sources(
        "bench.py", "__spark_entry__.py", "tools/**/*.py", "perfbench/**/*.py"
    )
    unreached = unreached_definitions(package, list(users.values()))
    unexplained = {n: p for n, p in unreached.items() if n not in TEST_ONLY_ALLOWED}
    assert not unexplained, (
        "package definitions reached only from tests/ (or from nothing): "
        f"{unexplained} — move test helpers under tests/, delete dead "
        "code, or allowlist a reference form / SURVEY capability / test "
        "hook with its reason"
    )
    stale = set(TEST_ONLY_ALLOWED) - set(unreached)
    assert not stale, f"allowlisted but reached (or gone): {stale}"


def test_unreached_scan_flags_a_synthetic_test_only_def():
    """The scan goes red on a module whose defs only tests would call,
    and does not count a def's own recursion or an atexit hook."""
    module = (
        "import atexit\n"
        "def used():\n    return 1\n"
        "def only_tests():\n    return used()\n"
        "def recursive(n):\n    return recursive(n - 1) if n else 0\n"
        "@atexit.register\n"
        "def _hook():\n    pass\n"
        "class Helper:\n    pass\n"
    )
    found = unreached_definitions({"pkg/mod.py": module}, ["from pkg.mod import used"])
    assert found == {
        "only_tests": "pkg/mod.py",
        "recursive": "pkg/mod.py",
        "Helper": "pkg/mod.py",
    }
