"""Per-layer tracing for the benchmark's traced run.

Everything is observed from outside the package: spans around the
calls the benchmark makes (query function, ``collect``), wrappers
installed over the public ``sources.maintenance`` entry points
(``session_memo``, ``build_once``), and Spark's own status APIs read
after each query (job group, status store, storage info, executed
plan SQL metrics, a streaming listener, the GC MXBeans). Package code
is never edited; ``uninstall`` restores the wrapped attributes.

Every ``session_memo`` / ``build_once`` call site imports the function
inside its body, so replacing the module attribute before the first
query reaches all of them. ``artifact_checkpoint`` is bound at import
time in several operator modules, so checkpoints are read from Spark
job names and storage info instead of a wrapper.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# name -> (unit, better); the order is the report order.
LAYER_METRICS = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "trace.pass_s": ("s", "lower"),
    "plan.build_s": ("s", "lower"),
    "exec.collect_s": ("s", "lower"),
    "exec.engine_s": ("s", "lower"),
    "driver.transfer_s": ("s", "lower"),
    "driver.rows_out": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.skipped_stages": ("count", "higher"),
    "spark.run_s": ("s", "lower"),
    "spark.cpu_s": ("s", "lower"),
    "spark.core_util": ("ratio", "higher"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "memo.calls": ("count", "lower"),
    "memo.builds": ("count", "lower"),
    "memo.build_s": ("s", "lower"),
    "memo.hit_ratio": ("ratio", "higher"),
    "build_once.builds": ("count", "lower"),
    "build_once.s": ("s", "lower"),
    "checkpoint.jobs": ("count", "lower"),
    "checkpoint.run_s": ("s", "lower"),
    "checkpoint.bytes": ("bytes", "lower"),
    "python.total_s": ("s", "lower"),
    "python.boot_s": ("s", "lower"),
    "python.init_s": ("s", "lower"),
    "python.bytes_sent": ("bytes", "lower"),
    "python.rows_received": ("count", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.trigger_s": ("s", "lower"),
    "stream.commit_s": ("s", "lower"),
    "stream.state_rows": ("count", "lower"),
}

# Which end-to-end metric each layer should move, and on which
# workload, written down before measuring. Checked-in BENCHMARK.json
# has a fixed schema, so the map lives here and in every traced result.
# pass_s, query_p50_s and query_tail_s are reported, not gated; a layer
# that moves pass_s by doing less work moves the gated pass_cpu_s too.
LAYER_MOVES = {
    "session.": "setup_s on every workload",
    "plan.build_s": "pass_s on pipeline_cold (eager memo builds); query_p50_s on retrieval_warm",
    "exec.": "pass_s on pipeline_cold; ~0 transfer on relational_warm",
    "driver.": "pass_s on pipeline_cold; ~0 on relational_warm",
    "spark.": "query_p50_s, query_tail_s (reported only) and pass_s on relational_warm "
    "and retrieval_warm",
    "jvm.gc_s": "query_tail_s (reported only) on every workload",
    "memo.": "pass_s on pipeline_cold; builds = 0 on the warm workloads' timed passes",
    "build_once.": "setup_s on the warm workloads; pass_s on pipeline_cold",
    "checkpoint.": "pass_s on pipeline_cold; 0 on relational_warm",
    "python.": "pass_s on pipeline_cold; ~0 on relational_warm",
    "stream.": "pass_s on pipeline_cold",
    "trace.pass_s": "none: traced pass_s minus untraced pass_s is the tracing overhead",
}

# Per-query counters summed per pass (ratios and session metrics are
# derived separately).
SUMMED = [
    m
    for m in LAYER_METRICS
    if not m.startswith("session.")
    and m not in ("trace.pass_s", "spark.core_util", "memo.hit_ratio")
]

# PySpark SQL metric name -> (layer metric, scale to report unit).
_PYTHON_SQL_METRICS = {
    "pythonTotalTime": ("python.total_s", 1e-3),
    "pythonBootTime": ("python.boot_s", 1e-3),
    "pythonInitTime": ("python.init_s", 1e-3),
    "pythonDataSent": ("python.bytes_sent", 1),
    "pythonNumRowsReceived": ("python.rows_received", 1),
}

# Module-local model caches that sit beside session_memo; a new entry
# is a memo build.
_MODULE_CACHES = (
    ("hadoop_and_spark_spark.operators.similarity", "_IVF_CACHE"),
    ("hadoop_and_spark_spark.operators.similarity", "_KMEANS_CACHE"),
    ("hadoop_and_spark_spark.operators.similarity", "_PERSISTED_CENT_CACHE"),
    ("hadoop_and_spark_spark.operators.graph", "_RANKS_CACHE"),
)

_GROUP_PREFIX = "perfbench-"


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        self.tracer._stream_event(started=1)

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        self.tracer._stream_event(
            batches=1,
            trigger_s=d.get("triggerExecution", 0) / 1e3,
            commit_s=(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            state_rows=sum(op.numRowsTotal for op in p.stateOperators),
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.tracer._stream_event(terminated=1)


class Tracer:
    """Spans and per-query layer counters for one benchmark process.

    ``state`` is the benchmark's session holder (``state['spark']``),
    which ``bench.timed_run`` may replace after a JVM death; every
    Spark handle is therefore fetched from it when needed."""

    def __init__(self, state: dict):
        self.state = state
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._cur: dict | None = None
        self._exec = 0
        self._seen_rdds: set[int] = set()
        self._streams = {"started": 0, "terminated": 0}
        self._listener_on = None
        self._orig: dict[str, object] = {}

    # -- install / uninstall -------------------------------------------

    def install(self) -> None:
        from hadoop_and_spark_spark.sources import maintenance

        self._orig = {
            "session_memo": maintenance.session_memo,
            "build_once": maintenance.build_once,
        }
        maintenance.session_memo = self._wrap_session_memo(self._orig["session_memo"])
        maintenance.build_once = self._wrap_build_once(self._orig["build_once"])
        self._ensure_listener()
        self._seen_rdds |= self._rdd_sizes().keys()

    def uninstall(self) -> None:
        from hadoop_and_spark_spark.sources import maintenance

        for name, fn in self._orig.items():
            setattr(maintenance, name, fn)

    def _ensure_listener(self) -> None:
        spark = self.state["spark"]
        if self._listener_on is not spark:
            spark.streams.addListener(_StreamListener(self))
            self._listener_on = spark

    # -- spans -----------------------------------------------------------

    def _open(self, name: str) -> dict | None:
        """Open a span of the running query execution; outside one
        (e.g. the noop-sink twin) nothing is recorded."""
        with self._lock:
            if self._cur is None:
                return None
            span = {
                "id": len(self.spans),
                "exec": self._exec,
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time(),
                "end": None,
            }
            self.spans.append(span)
            self._stack.append(span["id"])
        return span

    def _close(self, span: dict | None) -> None:
        if span is None:
            return
        with self._lock:
            span["end"] = time.time()
            self._stack.remove(span["id"])

    @contextmanager
    def span(self, name: str):
        s = self._open(name)
        try:
            yield s
        finally:
            self._close(s)

    def _add_closed_span(self, name: str, start: float, end: float, root: dict) -> None:
        """A span observed after the fact (a Spark job): its parent is
        the innermost open-at-the-time span of this execution."""
        parent = root["id"]
        for s in self.spans[root["id"] :]:
            if s["exec"] == root["exec"] and s["start"] <= start and (s["end"] or end) >= end:
                parent = s["id"]
        self.spans.append(
            {
                "id": len(self.spans),
                "exec": root["exec"],
                "name": name,
                "parent": parent,
                "start": start,
                "end": end,
            }
        )

    # -- maintenance wrappers ------------------------------------------

    def _count(self, metric: str, value: float = 1) -> None:
        rec = self._cur
        if rec is not None:
            rec[metric] += value

    def _wrap_session_memo(self, orig):
        def session_memo(spark, sf_dir, table, version, build):
            self._count("memo.calls")

            def traced_build():
                t0 = time.perf_counter()
                with self.span("memo.build"):
                    value = build()
                self._count("memo.builds")
                self._count("memo.build_s", time.perf_counter() - t0)
                return value

            return orig(spark, sf_dir, table, version, traced_build)

        return session_memo

    def _wrap_build_once(self, orig):
        def build_once(out_path, marker, build):
            def traced_build():
                t0 = time.perf_counter()
                with self.span("build_once"):
                    build()
                self._count("build_once.builds")
                self._count("build_once.s", time.perf_counter() - t0)

            return orig(out_path, marker, traced_build)

        return build_once

    def _stream_event(self, started=0, terminated=0, batches=0, trigger_s=0.0,
                      commit_s=0.0, state_rows=0) -> None:
        with self._lock:
            self._streams["started"] += started
            self._streams["terminated"] += terminated
            rec = self._cur
            if rec is not None and batches:
                rec["stream.batches"] += batches
                rec["stream.trigger_s"] += trigger_s
                rec["stream.commit_s"] += commit_s
                rec["stream.state_rows"] = max(rec["stream.state_rows"], state_rows)

    # -- Spark readers -------------------------------------------------

    def _jsc(self):
        return self.state["spark"].sparkContext._jsc.sc()

    def _gc_ms(self) -> int:
        jvm = self.state["spark"].sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def _rdd_sizes(self) -> dict[int, int]:
        return {
            r.id(): r.memSize() + r.diskSize() for r in self._jsc().getRDDStorageInfo()
        }

    @staticmethod
    def _module_cache_entries() -> int:
        import importlib

        return sum(
            len(getattr(importlib.import_module(mod), attr))
            for mod, attr in _MODULE_CACHES
        )

    def _read_jobs(self, group: str, rec: dict, root: dict) -> None:
        sc = self.state["spark"].sparkContext
        store = self._jsc().statusStore()
        stages: set[int] = set()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            rec["spark.jobs"] += 1
            rec["spark.skipped_stages"] += job.numSkippedStages()
            info = sc.statusTracker().getJobInfo(jid)
            stages.update(info.stageIds if info else [])
            if job.name().startswith("localCheckpoint"):
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    t0, t1 = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                    rec["checkpoint.jobs"] += 1
                    rec["checkpoint.run_s"] += t1 - t0
                    self._add_closed_span("checkpoint", t0, t1, root)
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            rec["spark.stages"] += 1
            rec["spark.tasks"] += sd.numCompleteTasks()
            rec["spark.run_s"] += sd.executorRunTime() / 1e3
            rec["spark.cpu_s"] += sd.executorCpuTime() / 1e9
            rec["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            rec["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            rec["spark.spill_bytes"] += sd.diskBytesSpilled()
            rec["spark.input_bytes"] += sd.inputBytes()

    @staticmethod
    def _read_python_metrics(df, rec: dict) -> None:
        """Sum the Python-worker SQL metrics over the executed plan,
        descending through adaptive query stages and subqueries."""

        def walk(plan):
            it = plan.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                hit = _PYTHON_SQL_METRICS.get(kv._1())
                if hit:
                    rec[hit[0]] += kv._2().value() * hit[1]
            cls = plan.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                return walk(plan.executedPlan())
            if cls.endswith("QueryStageExec"):
                return walk(plan.plan())
            for seq in (plan.children(), plan.subqueries()):
                it = seq.iterator()
                while it.hasNext():
                    walk(it.next())

        walk(df._jdf.queryExecution().executedPlan())

    def _wait_streams(self, timeout_s: float = 10.0) -> None:
        """Progress events arrive on the listener bus asynchronously;
        wait until every started stream has reported termination."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self._streams["terminated"] >= self._streams["started"]:
                    return
            time.sleep(0.01)

    # -- per-query protocol --------------------------------------------

    def begin(self, query: str, pass_idx: int) -> None:
        self._ensure_listener()
        self._exec += 1
        rec = {m: 0 for m in SUMMED}
        rec.update(query=query, pass_idx=pass_idx, exec=self._exec)
        rec["_gc0"] = self._gc_ms()
        rec["_cache0"] = self._module_cache_entries()
        with self._lock:
            self._cur = rec
        rec["_root"] = self._open("query")
        self.state["spark"].sparkContext.setJobGroup(
            f"{_GROUP_PREFIX}{self._exec}", query
        )

    def action(self, fn, data_dir: str, holder: dict):
        """The timed action, split into a query-function span and a
        ``collect`` span; ``holder`` receives the rows and the frame."""

        def run(spark):
            t0 = time.perf_counter()
            with self.span("plan.build"):
                df = fn(spark, data_dir)
            t1 = time.perf_counter()
            with self.span("exec.collect"):
                holder["rows"] = df.collect()
            holder["df"] = df
            holder["plan_s"] = t1 - t0
            holder["collect_s"] = time.perf_counter() - t1

        return run

    def end(self, holder: dict) -> dict:
        rec = self._cur
        self._close(rec["_root"])
        self._wait_streams()
        with self._lock:
            self._cur = None
        sc = self.state["spark"].sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec["plan.build_s"] = holder.get("plan_s", 0.0)
        rec["exec.collect_s"] = holder.get("collect_s", 0.0)
        rec["driver.rows_out"] = len(holder.get("rows") or [])
        rec["jvm.gc_s"] = (self._gc_ms() - rec.pop("_gc0")) / 1e3
        rec["_module_builds"] = max(0, self._module_cache_entries() - rec.pop("_cache0"))
        rec["memo.builds"] += rec["_module_builds"]
        self._read_jobs(f"{_GROUP_PREFIX}{rec['exec']}", rec, rec.pop("_root"))
        for rid, size in self._rdd_sizes().items():
            if rid not in self._seen_rdds:
                self._seen_rdds.add(rid)
                rec["checkpoint.bytes"] += size
        if "df" in holder:
            self._read_python_metrics(holder.pop("df"), rec)
        self.records.append(rec)
        return rec

    def engine_time(self, fn, data_dir: str) -> float:
        """The same frame drained into the ``noop`` sink: engine time
        without the driver-side row transfer of ``collect``."""
        sc = self.state["spark"].sparkContext
        sc.setJobGroup(f"{_GROUP_PREFIX}engine", "noop twin")
        try:
            df = fn(self.state["spark"], data_dir)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._wait_streams()
            self._seen_rdds |= self._rdd_sizes().keys()


def pass_values(records: list[dict], cores: int) -> dict[str, float]:
    """One pass's layer metrics from its per-query records."""
    out = {m: sum(r[m] for r in records) for m in SUMMED}
    # Over the whole timed action, not collect alone: eager memo builds
    # run their jobs inside the query function.
    wall = (out["plan.build_s"] + out["exec.collect_s"]) * cores
    out["spark.core_util"] = out["spark.cpu_s"] / wall if wall > 0 else 0.0
    # A module-cache build is a call that did not route through
    # session_memo, so it counts as a call as well as a build.
    module = sum(r["_module_builds"] for r in records)
    calls = out["memo.calls"] + module
    hits = calls - out["memo.builds"]
    out["memo.hit_ratio"] = hits / calls if calls else 1.0
    return out
