"""Timing-harness logic: bench.py session-death resilience and memo
detection, the tools/qtime.py A/B equality gate, and the session's
generated-code cache that keeps warm passes from recompiling.

A lost JVM gateway makes every later py4j call raise [Errno 111]; the
harness must not record those as per-query failures or turn the final
spark.stop() into rc 1. These tests pin that decision logic WITHOUT a
dying JVM: the death classifier walks exception chains correctly, and
timed_run revives + retries exactly once per death, caps total
rebuilds, and never treats a query-level failure as a session death.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import bench  # noqa: E402
import qtime  # noqa: E402


def _chain(outer: Exception, inner: Exception) -> Exception:
    """exc raised `from inner` — the py4j wrapping shape."""
    outer.__cause__ = inner
    return outer


class TestSessionDied:
    def test_direct_connection_refused(self):
        assert bench._session_died(ConnectionRefusedError(111, "refused"))

    def test_py4j_network_error(self):
        from py4j.protocol import Py4JNetworkError

        assert bench._session_died(Py4JNetworkError("Answer from Java side is empty"))

    def test_wrapped_cause_chain(self):
        # Py4JError wrapping a socket death two levels down.
        from py4j.protocol import Py4JError

        inner = ConnectionResetError(104, "reset by peer")
        mid = _chain(Py4JError("error while sending"), inner)
        outer = _chain(RuntimeError("query x failed"), mid)
        assert bench._session_died(outer)

    def test_context_chain(self):
        # Implicit chaining (raised during handling of the socket error).
        outer = ValueError("post-processing failed")
        outer.__context__ = BrokenPipeError(32, "broken pipe")
        assert bench._session_died(outer)

    def test_query_level_failures_are_not_deaths(self):
        from py4j.protocol import Py4JJavaError

        assert not bench._session_died(ValueError("bad literal"))
        assert not bench._session_died(RuntimeError("AnalysisException: x"))
        # A Py4JJavaError with a healthy gateway is a QUERY failure.
        exc = Exception.__new__(Py4JJavaError)  # skip ctor's gateway call
        exc.args = ("java.lang.ArithmeticException: / by zero",)
        assert not bench._session_died(exc)

    def test_cyclic_chain_terminates(self):
        a = ValueError("a")
        b = RuntimeError("b")
        a.__context__ = b
        b.__context__ = a  # cycle
        assert not bench._session_died(a)


class TestTimedRun:
    def _state(self, revive_log: list) -> dict:
        def revive(old):
            revive_log.append(old)
            return f"session-{len(revive_log)}"

        return {"spark": "session-0", "revive": revive, "rebuilds": 0}

    def test_healthy_run_times_without_revive(self):
        log: list = []
        state = self._state(log)
        dt = bench.timed_run(state, lambda s: None)
        assert dt >= 0 and log == [] and state["rebuilds"] == 0

    def test_death_revives_and_retries_once(self):
        log: list = []
        state = self._state(log)
        calls: list = []

        def run(s):
            calls.append(s)
            if len(calls) == 1:
                raise ConnectionRefusedError(111, "refused")

        dt = bench.timed_run(state, run)
        assert dt >= 0
        assert calls == ["session-0", "session-1"]  # retried on the NEW session
        assert state["spark"] == "session-1" and state["rebuilds"] == 1

    def test_query_failure_propagates_without_revive(self):
        log: list = []
        state = self._state(log)

        def run(s):
            raise ValueError("query bug")

        with pytest.raises(ValueError):
            bench.timed_run(state, run)
        assert log == [] and state["rebuilds"] == 0

    def test_rebuild_cap(self):
        log: list = []
        state = self._state(log)
        state["rebuilds"] = bench.N_REBUILD_MAX  # cap already consumed

        def run(s):
            raise ConnectionRefusedError(111, "refused")

        with pytest.raises(ConnectionRefusedError):
            bench.timed_run(state, run)
        # past the cap: no revive attempted, the death propagates
        assert log == [] and state["rebuilds"] == bench.N_REBUILD_MAX + 1

    def test_second_death_in_retry_propagates(self):
        # timed_run retries ONCE per call; a fresh session that dies
        # immediately must surface, not loop.
        log: list = []
        state = self._state(log)

        def run(s):
            raise ConnectionRefusedError(111, "refused")

        with pytest.raises(ConnectionRefusedError):
            bench.timed_run(state, run)
        assert len(log) == 1 and state["rebuilds"] == 1


class TestQtimeEqualityGate:
    """qtime.mismatch decides whether a NAME=module:function variant
    may be timed; anything but exact equality must stop the A/B."""

    @pytest.fixture(scope="class")
    def q9(self, spark, sf_dir):
        from hadoop_and_spark_spark.registry import collect

        queries, _ = collect()
        df = queries["q9_price_percentiles"](spark, sf_dir)
        return df, df.collect()

    def test_registered_query_matches_itself(self, spark, sf_dir, q9):
        from hadoop_and_spark_spark.registry import collect

        queries, _ = collect()
        again = queries["q9_price_percentiles"](spark, sf_dir)
        assert qtime.mismatch(q9[0], again) == []

    def test_one_changed_value_fails(self, spark, q9):
        df, rows = q9
        first = rows[0].asDict()
        first["cnt"] += 1
        changed = [tuple(first.values())] + [tuple(r) for r in rows[1:]]
        diff = qtime.mismatch(df, spark.createDataFrame(changed, df.schema))
        assert diff and any(line.startswith("  + ") for line in diff)

    def test_dropped_row_fails(self, spark, q9):
        df, rows = q9
        assert len(rows) > 1
        diff = qtime.mismatch(df, spark.createDataFrame(rows[1:], df.schema))
        assert diff and any(line.startswith("  - ") for line in diff)

    def test_renamed_column_fails(self, q9):
        df, _ = q9
        assert qtime.mismatch(df, df.withColumnRenamed("cnt", "n"))

    @pytest.mark.parametrize(
        "ref, got, equal",
        [
            (0.0, -0.0, False),  # repr tells the zeros apart; == does not
            (float("nan"), float("nan"), True),  # NaN-safe
            (0.1 + 0.2, 0.3, False),  # no float rounding
        ],
    )
    def test_float_exactness(self, spark, ref, got, equal):
        def frame(v):
            return spark.createDataFrame([(v,)], "x double")

        assert (qtime.mismatch(frame(ref), frame(got)) == []) is equal


class TestPrivateInternals:
    """bench._revive resets these PySpark private singletons by name.
    Assigning a missing class attribute just creates it and leaves the
    real singleton pointing at the dead JVM, so a PySpark upgrade that
    renames one must fail here, not silently in a dying-JVM retry."""

    @pytest.mark.parametrize(
        "owner, attr",
        [
            ("pyspark.SparkContext", "_lock"),
            ("pyspark.SparkContext", "_gateway"),
            ("pyspark.SparkContext", "_jvm"),
            ("pyspark.SparkContext", "_active_spark_context"),
            ("pyspark.sql.SparkSession", "_instantiatedSession"),
            ("pyspark.sql.SparkSession", "_activeSession"),
            ("pyspark.sql.context.SQLContext", "_instantiatedContext"),
        ],
    )
    def test_attribute_exists(self, owner, attr):
        module, _, cls = owner.rpartition(".")
        assert hasattr(getattr(importlib.import_module(module), cls), attr)


class TestWorkerDaemonInternals:
    """hadoop_and_spark_spark/worker_daemon.py relies on these PySpark
    internals; a PySpark upgrade that changes one must fail here."""

    def test_daemon_manager_exists(self):
        import pyspark.daemon

        assert callable(pyspark.daemon.manager)

    def test_every_task_invalidates_import_caches(self):
        """worker_daemon.py exists because every task's
        setup_spark_files calls importlib.invalidate_caches(); if that
        call goes, so does the daemon's reason to exist."""
        import inspect

        import pyspark.worker_util

        source = inspect.getsource(pyspark.worker_util.setup_spark_files)
        assert "importlib.invalidate_caches()" in source


class TestCodegenCache:
    """session.get_spark sizes Spark's generated-code cache so that a
    repeated query shape reuses its compiled classes. At Spark's
    default (100 entries) the relational_warm workload's ~180 classes
    evict each other and every pass recompiles all of them."""

    def test_second_pass_compiles_nothing(self, spark, sf_dir):
        from hadoop_and_spark_spark.registry import collect

        spec = importlib.util.spec_from_file_location(
            "perfbench_run", os.path.join(ROOT, "perfbench", "run.py")
        )
        perfbench_run = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(perfbench_run)
        _, names = perfbench_run.WORKLOADS["relational_warm"]
        queries, _ = collect()

        def compiles_in_one_pass() -> int:
            before = qtime.codegen_counters(spark)["janino_compiles"]
            for name in names:
                queries[name](spark, sf_dir).collect()
            return qtime.codegen_counters(spark)["janino_compiles"] - before

        compiles_in_one_pass()
        assert compiles_in_one_pass() == 0


class TestReapedChildCpu:
    """qtime.reaped_child_cpu_s reads the CPU a process's waited-for
    children used, which is how qtime prices the JVM's shell-outs."""

    def test_counts_a_reaped_child_under_an_odd_command_name(self, tmp_path):
        import subprocess

        # the command name holds ") (", which a naive split of
        # /proc/<pid>/stat on spaces or the first ")" misreads
        odd = tmp_path / "py) (x"
        odd.symlink_to(sys.executable)
        burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
        probe = (
            "import os, subprocess, sys\n"
            f"sys.path.insert(0, {os.path.join(ROOT, 'tools')!r})\n"
            "from qtime import reaped_child_cpu_s\n"
            "before = reaped_child_cpu_s(os.getpid())\n"
            f"subprocess.run([sys.executable, '-c', {burn!r}], check=True)\n"
            "print(open('/proc/self/comm').read().strip())\n"
            "print(reaped_child_cpu_s(os.getpid()) - before)\n"
        )
        out = subprocess.run(
            [str(odd), "-c", probe], capture_output=True, text=True, check=True
        ).stdout.split("\n")
        assert out[0] == "py) (x"
        assert 0.4 <= float(out[1]) < 5.0


class TestMemoDetection:
    """bench.py tags a query as memo-served when its call advances
    maintenance.MEMO_TOUCHES, and re-times it cold after
    clear_session_caches. Every in-session model cache is the session
    memo, so the counter finds these queries with no hand-kept list,
    and the clear really drops their artifacts."""

    @pytest.mark.parametrize(
        "name",
        [
            "knn_ivf",
            "knn_ivf_persisted",
            "kmeans_centroids",
            "knn_ivf_kmeans",
            "personalized_pagerank",
            "pagerank_top_nodes",
        ],
    )
    def test_query_touches_session_memo(self, spark, sf_dir, name):
        from hadoop_and_spark_spark.registry import collect
        from hadoop_and_spark_spark.sources import maintenance

        queries, _ = collect()
        before = maintenance.MEMO_TOUCHES
        queries[name](spark, sf_dir)
        assert maintenance.MEMO_TOUCHES > before

    def test_clear_drops_converged_ranks(self, spark, sf_dir):
        from hadoop_and_spark_spark.operators.graph import converged_lineitem_ranks
        from hadoop_and_spark_spark.sources import maintenance

        first = converged_lineitem_ranks(spark, sf_dir)
        assert converged_lineitem_ranks(spark, sf_dir) is first
        maintenance.clear_session_caches()
        assert converged_lineitem_ranks(spark, sf_dir) is not first


class TestDescendantCpu:
    """qtime.descendant_cpu_s reads the CPU of a process's live
    descendants with their reaped children, which is how qtime prices
    the JVM's Python worker daemon and workers."""

    def test_counts_live_grandchild_and_its_reaped_child(self):
        import subprocess

        burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
        # B burns 0.3 s in a child it reaps and 0.3 s itself, then
        # stays alive until its stdin closes
        grandchild = (
            "import subprocess, sys, time\n"
            f"subprocess.run([sys.executable, '-c', {burn!r}], check=True)\n"
            "t = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass\n"
            "print('ready', flush=True)\n"
            "sys.stdin.read()\n"
        )
        child = (
            "import subprocess, sys\n"
            f"subprocess.run([sys.executable, '-c', {grandchild!r}], check=True)\n"
        )
        proc = subprocess.Popen(
            [sys.executable, "-c", child],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        try:
            assert proc.stdout.readline().strip() == "ready"
            assert 0.5 <= qtime.descendant_cpu_s(proc.pid) < 5.0
        finally:
            proc.stdin.close()
            proc.wait(timeout=30)
