"""Isolated per-query timing and equality-gated A/B (guide §1):
bench.warm_up, then N interleaved timed passes over the named
queries, min per query — bench.py's protocol scoped to a few queries
for optimization work.

Usage: python tools/qtime.py [-n PASSES] [--noop] ARG [ARG ...]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.

Each ARG is a registered query name, or NAME=module:function for a
candidate variant of the registered query NAME (the function takes
(spark, sf_dir) like a registered query; its module must be
importable, e.g. via PYTHONPATH). A variant is timed beside NAME in
the same interleaved passes, but first both are collected once — which
doubles as their warm-up — and compared exactly (see mismatch); on any
difference qtime prints the first differing rows and exits 1 before
timing anything, so a faster-but-different variant is never timed.

Times .collect() (the bench action) so numbers are comparable with
BENCH_QUERIES.json rows; pass --noop to time a noop-sink write
instead (computes every column, excludes driver row transfer).
Prints {label: min seconds}, a variant's label being module:function.
After the timed passes one stderr line prices the codegen layer over
them (see codegen_counters): Janino compiles and generated classes
(both 0 when the generated-code cache holds every shape), JIT ms, the
CPU seconds of the JVM's reaped child processes (the shell-outs of
Hadoop's local filesystem), the CPU seconds of its live descendants
(the Python worker daemon and its workers) and Metaspace MB — all
read outside the timed calls.
"""

from __future__ import annotations

import gc
import importlib
import json
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warm_up
from hadoop_and_spark_spark.registry import collect
from hadoop_and_spark_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_SHOWN = 3  # differing rows printed per side on a mismatch


def mismatch(ref_df, got_df) -> list[str]:
    """Exact equality gate between two DataFrames: the column lists,
    then the multisets of rows as sorted ``repr(tuple(row))`` strings.
    repr is exact where ``==`` is not — no float rounding, -0.0 is not
    0.0, and NaN equals NaN. Collects both sides. Returns [] when
    equal, else lines naming the first differences."""
    if ref_df.columns != got_df.columns:
        return [f"columns differ: {ref_df.columns} vs {got_df.columns}"]
    ref = Counter(repr(tuple(r)) for r in ref_df.collect())
    got = Counter(repr(tuple(r)) for r in got_df.collect())
    if ref == got:
        return []
    only_ref = sorted((ref - got).elements())
    only_got = sorted((got - ref).elements())
    return (
        [f"rows only in the registered query: {len(only_ref)}"]
        + [f"  - {r}" for r in only_ref[:N_SHOWN]]
        + [f"rows only in the variant: {len(only_got)}"]
        + [f"  + {r}" for r in only_got[:N_SHOWN]]
    )


def _stat_fields(pid: int | str) -> list[str]:
    """Fields 3 onward of /proc/<pid>/stat (proc(5)): fields[0] is
    field 3 (state), so field N is fields[N - 3]. The command name in
    field 2 may hold spaces and parentheses, so fields count from its
    closing parenthesis."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rpartition(")")[2].split()


def reaped_child_cpu_s(pid: int) -> float:
    """``cutime + cstime`` of ``pid`` in seconds: the CPU its waited-for
    child processes used, cumulative since it started (proc(5)
    fields 16 and 17)."""
    fields = _stat_fields(pid)
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def descendant_cpu_s(pid: int) -> float:
    """User + system CPU seconds of every live descendant of ``pid``,
    each with the children it has reaped (proc(5) fields 14-17). For
    the JVM these are the Python worker daemon and its workers: a
    worker the daemon reaps moves from its own count to the daemon's,
    so the sum only grows. ``pid`` itself is not counted."""
    procs: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            fields = _stat_fields(entry)
        except OSError:  # exited while we looked
            continue
        procs[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for child, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(child)
    ticks, todo = 0, list(children.get(pid, ()))
    while todo:
        child = todo.pop()
        ticks += procs[child][1]
        todo.extend(children.get(child, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def codegen_counters(spark) -> dict[str, float]:
    """JVM-wide codegen readings. Janino compiles and generated-class
    count (Spark's CodegenMetrics histograms), HotSpot JIT compile ms,
    the CPU of the JVM's reaped children (``reaped_child_cpu_s``:
    every process the JVM forks, e.g. Hadoop's local-filesystem
    ``chmod``/``readlink`` shell-outs) and of its live descendants
    (``descendant_cpu_s``: the Python worker daemon and its workers,
    which the JVM never reaps while the session lives) are cumulative,
    so difference two reads to price a span; Metaspace used MB (where
    generated classes live) is a level."""
    jvm = spark.sparkContext._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    mgmt = jvm.java.lang.management.ManagementFactory
    metaspace = next(
        p for p in mgmt.getMemoryPoolMXBeans() if p.getName() == "Metaspace"
    )
    return {
        "janino_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
        "generated_classes": (
            codegen.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount()
        ),
        "jit_ms": mgmt.getCompilationMXBean().getTotalCompilationTime(),
        "jvm_child_cpu_s": reaped_child_cpu_s(jvm_pid),
        "py_worker_cpu_s": descendant_cpu_s(jvm_pid),
        "metaspace_mb": round(metaspace.getUsage().getUsed() / (1 << 20), 1),
    }


def _variant(spec: str):
    module, _, fn = spec.partition(":")
    return getattr(importlib.import_module(module), fn)


def main() -> int:
    args = sys.argv[1:]
    n_passes = 3
    noop = False
    if "-n" in args:
        i = args.index("-n")
        n_passes = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    if "--noop" in args:
        noop = True
        args.remove("--noop")
    queries, _ = collect()
    fns = {}
    pairs = []  # (registered name, variant label)
    for arg in args:
        name, _, spec = arg.partition("=")
        fns[name] = queries[name]
        if spec:
            fns[spec] = _variant(spec)
            pairs.append((name, spec))
    spark = get_spark("qtime")

    def run(label: str) -> float:
        gc.collect()
        spark.sparkContext.setJobDescription(f"qtime: {label}")
        t0 = time.perf_counter()
        df = fns[label](spark, SF_DIR)
        if noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()
        return time.perf_counter() - t0

    warm_up(spark, SF_DIR)
    for name, spec in pairs:
        diff = mismatch(fns[name](spark, SF_DIR), fns[spec](spark, SF_DIR))
        print(f"equal[{spec} vs {name}]: {not diff}", flush=True)
        if diff:
            print("\n".join(diff), flush=True)
            spark.stop()
            return 1
    gated = {label for pair in pairs for label in pair}
    for label in fns:
        if label not in gated:
            run(label)
    before = codegen_counters(spark)
    passes = [{label: run(label) for label in fns} for _ in range(n_passes)]
    after = codegen_counters(spark)
    out = {label: round(min(p[label] for p in passes), 3) for label in fns}
    print(json.dumps(out, indent=1))
    spent = " ".join(
        f"{k}={round(after[k] - before[k], 2)}"
        for k in (
            "janino_compiles",
            "generated_classes",
            "jit_ms",
            "jvm_child_cpu_s",
            "py_worker_cpu_s",
        )
    )
    print(
        f"# qtime codegen over {n_passes} timed passes: {spent} "
        f"metaspace_mb={after['metaspace_mb']}",
        file=sys.stderr,
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
