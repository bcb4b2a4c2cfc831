"""Bounded-memory (spill) probe: heavy pipelines under a small heap.

At 100 TB an executor never holds its partition's working set fully
in memory — operators must degrade to disk spill, not OOM. The bench
host (local[32], 16 GiB driver heap) never pressures memory at bench
scale, so the claim "sort/hash operators spill instead of failing"
was unevidenced. This probe:

1. builds (or reuses) the 100x spot corpus (~30M events, ~600k
   near-dup documents — see tools/scaling_probe.py:build_spot_corpus);
2. computes a reference (row count, order-independent xxhash64 sum)
   for each probed query in the normal full-memory session;
3. re-runs the same queries in a FRESH subprocess JVM with a 2 GiB
   heap and 8 shuffle partitions (multi-million-row reduce partitions
   whose sort/hash working sets cannot fit 2 GiB across 16 concurrent
   tasks), and checks completion + answer equality;
4. reports per-query wall time and the JVM-wide shuffle/sort spill
   bytes (from the status store) as evidence the memory manager
   actually degraded to disk rather than never being pressured.

Usage: python tools/memory_probe.py [--factor N] [query ...]
Prints one markdown table (pasted into README's measured sections).
``--factor`` (default 100) sizes the spot corpus — used when a
query's SPILL VOLUME, not its memory, exceeds the host (the 100x
ngram-jaccard candidate stream spills ~100 GB, past this host's
disk; 30x fits and still spills far past the 2 GiB heap).

The probed set is the heaviest shuffle/sort/agg pipelines over the
spot corpus's three tables: session-window aggregation (sort-heavy
state), corpus hash-dedup (wide string rows through a hash agg),
wordcount (token explosion -> hash agg fallback to sort), and the
as-of window (full event sort per user partition).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = ("user_sessions", "dedup_exact", "wordcount", "asof_attribution")
CHILD_HEAP = os.environ.get("SPARK_GRAFT_MEMPROBE_HEAP", "2g")
# Task concurrency is part of the memory shape under probe: the light
# aggregation pipelines survive 16 concurrent tasks on the 2 GiB heap
# (128 MB/task), but the candidate-join family needs the ~512 MB/task
# a production 2 GiB executor would actually be sized for (2-4 cores
# per 2 GiB); 16 tasks there thrashes GC regardless of spill behavior.
# Override per run; the README table records the shape per row.
CHILD_CPUS = os.environ.get("SPARK_GRAFT_MEMPROBE_CPUS", "16")
CHILD_SHUFFLE = "8"

# Child script: runs in its own JVM (small heap), prints one JSON line
# per query. Checksum is an order-independent SUM of row hashes, so it
# is partitioning- and spill-independent. It runs with the repo root
# as cwd, which `python -c` puts on sys.path for the package import.
_CHILD = r"""
import json, sys, time
from pyspark.sql import functions as F
from hadoop_and_spark_spark.registry import collect
from hadoop_and_spark_spark.session import get_spark

spark = get_spark("memory-probe-child")
queries, _ = collect()
corpus = sys.argv[1]
for name in sys.argv[2:]:
    t0 = time.perf_counter()
    df = queries[name](spark, corpus)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    dt = time.perf_counter() - t0
    spilled = -1
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        empty = sc._jvm.java.util.ArrayList()
        quant = sc._gateway.new_array(sc._jvm.double, 0)
        stages = store.stageList(empty, False, False, quant, empty)
        spilled = sum(
            stages.apply(i).diskBytesSpilled() for i in range(stages.size())
        )
    except Exception:
        pass
    print(json.dumps({
        "query": name, "n": row.n, "h": str(row.h), "sec": round(dt, 2),
        "cum_spilled_mb": round(spilled / 1e6, 1) if spilled >= 0 else None,
    }), flush=True)
spark.stop()
"""


def main() -> None:
    argv = sys.argv[1:]
    factor = 100
    if "--factor" in argv:
        i = argv.index("--factor")
        factor = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    names = argv or list(DEFAULT)

    from pyspark.sql import functions as F

    from hadoop_and_spark_spark.registry import collect
    from hadoop_and_spark_spark.session import get_spark
    from scaling_probe import build_spot_corpus

    spark = get_spark("memory-probe-ref")
    corpus = build_spot_corpus(spark, factor)
    queries, _ = collect()
    ref = {}
    for name in names:
        df = queries[name](spark, corpus)
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        ).first()
        ref[name] = (row.n, str(row.h))
        print(f"# ref {name}: n={row.n} h={row.h}", file=sys.stderr)

    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM=CHILD_HEAP,
        SPARK_GRAFT_CPUS=CHILD_CPUS,
        SPARK_GRAFT_SHUFFLE=CHILD_SHUFFLE,
    )
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, corpus, *names],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    if proc.returncode != 0:
        print(proc.stderr[-4000:], file=sys.stderr)
        raise SystemExit(f"child JVM failed (rc={proc.returncode}) — "
                         f"an OOM here is exactly the failure this probe exists to catch")

    print(f"\n| Query | {CHILD_HEAP} heap, {CHILD_SHUFFLE} shuffle parts | "
          "Matches 16g session | Cumulative spill |")
    print("|---|---|---|---|")
    prev_spill = 0.0
    for line in proc.stdout.splitlines():
        if not line.startswith("{"):
            continue
        r = json.loads(line)
        n, h = ref[r["query"]]
        ok = (r["n"], r["h"]) == (n, h)
        spill = r["cum_spilled_mb"]
        delta = (
            f"{spill - prev_spill:.0f} MB" if spill is not None else "n/a"
        )
        prev_spill = spill if spill is not None else prev_spill
        print(
            f"| {r['query']} | {r['sec']:.1f} s | "
            f"{'EQUAL' if ok else 'MISMATCH'} ({r['n']} rows) | {delta} |"
        )
        if not ok:
            raise SystemExit(f"checksum mismatch for {r['query']}")
    print(f"\n# child wall total {time.perf_counter() - t0:.1f} s")
    spark.stop()


if __name__ == "__main__":
    main()
