"""Central query registry.

Aggregates every operator module's ``QUERIES`` (name -> callable
(spark, sf_dir) -> DataFrame) and ``ORACLE_SQL`` (name -> DuckDB SQL
string) into the driver contract exposed by ``__spark_entry__.py``.

Modules register lazily so a bug in one family never hides the rest.

Ordering: the driver's correctness check records at most ~50 rows per
round, taken in registration order — with 80+ queries a static order
starves the tail of the registry of driver evidence forever. So
``collect()`` returns the dict in LEAST-RECENTLY-VERIFIED order: a
query that has never had a green driver row (or whose last driver row
was red) sorts first, then ascending by the round of its most recent
green row, module order breaking ties. Every query therefore rotates
through the driver's verification window across rounds, and brand-new
or regressed queries always land inside it.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_OPERATOR_MODULES = (
    "hadoop_and_spark_spark.operators.relational",
    "hadoop_and_spark_spark.operators.text",
    "hadoop_and_spark_spark.operators.index",
    "hadoop_and_spark_spark.operators.graph",
    "hadoop_and_spark_spark.operators.ml",
    "hadoop_and_spark_spark.operators.dedup",
    "hadoop_and_spark_spark.operators.similarity",
    "hadoop_and_spark_spark.operators.textstats",
    "hadoop_and_spark_spark.operators.temporal",
    "hadoop_and_spark_spark.operators.skew",
    "hadoop_and_spark_spark.operators.layout",
    "hadoop_and_spark_spark.operators.multimodal",
    "hadoop_and_spark_spark.operators.pipeline",
    "hadoop_and_spark_spark.streaming.windows",
    "hadoop_and_spark_spark.streaming.trending",
    "hadoop_and_spark_spark.streaming.dedup",
    "hadoop_and_spark_spark.streaming.cdc",
    "hadoop_and_spark_spark.streaming.joins",
    "hadoop_and_spark_spark.sources.taxi",
)


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_green_round(has_oracle: set[str] | None = None) -> dict[str, int]:
    """query name -> round of its most recent committed driver row,
    but ONLY if that most-recent row is GREEN (hash green, or the
    rows-only ``no_oracle`` form with a recorded row count). A query
    whose LATEST row is red/errored is omitted — it sorts as
    never-verified (-1) and re-enters the driver window immediately,
    even if some earlier round had a green row.

    ``has_oracle``: names that NOW carry a DuckDB oracle. For those, a
    rows-only driver row no longer counts as green — it verified a
    weaker claim than the query now makes (a query upgraded from
    rows-only to oracle-gated has zero driver evidence for the oracle
    match), so the upgrade re-enters the window immediately."""
    latest: dict[str, tuple[int, bool]] = {}  # name -> (round, green?)
    for path in glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and name not in (has_oracle or ())
            )
            if name not in latest or rnd > latest[name][0]:
                latest[name] = (rnd, green)
    return {name: rnd for name, (rnd, green) in latest.items() if green}


def collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for modname in _OPERATOR_MODULES:
        try:
            mod = importlib.import_module(modname)
        except ImportError:
            continue
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name {name!r} from {modname}")
            queries[name] = fn
        oracles.update(getattr(mod, "ORACLE_SQL", {}))
    green = last_green_round(has_oracle=set(oracles))
    reg_pos = {name: i for i, name in enumerate(queries)}
    order = sorted(queries, key=lambda n: (green.get(n, -1), reg_pos[n]))
    return {n: queries[n] for n in order}, oracles
