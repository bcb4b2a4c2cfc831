"""Seeded input tables for the benchmark.

The inputs are the repository's sf0.01 test tables, copied verbatim
into ``testdata/sf0.01`` (the tables the DuckDB-oracle correctness
tier runs on). A workload seed only reorders each table's rows; the
rows themselves, the schema (parquet logical types included), the
file names and the row-group and compression layout stay as in the
copy. So every seed runs the same rows, and a query whose answer
depends on input order shows up as an oracle mismatch on some seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE = os.path.join(HERE, "testdata", "sf0.01")
SF = 0.01
VERSION = 2
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _fingerprint(source: str) -> str:
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(source, f"{name}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def write_reordered(source: str, out: str, seed: int) -> None:
    """Every table of ``source`` written to ``out`` with its rows in a
    ``seed``-determined order."""
    for i, name in enumerate(TABLES):
        src = os.path.join(source, f"{name}.parquet")
        table = pq.read_table(src)
        meta = pq.ParquetFile(src).metadata
        order = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(
            table.take(order),
            os.path.join(out, f"{name}.parquet"),
            compression=meta.row_group(0).column(0).compression.lower(),
            row_group_size=max(1, -(-table.num_rows // meta.num_row_groups)),
        )


def ensure(cache_root: str, seed: int, source: str = SOURCE) -> str:
    """Directory of the seed's tables, written once and reused while
    its marker matches (version, source contents, seed)."""
    out = os.path.join(cache_root, f"sf{SF}-seed{seed}")
    marker = json.dumps({"version": VERSION, "source": _fingerprint(source), "seed": seed})
    mpath = os.path.join(out, "_MARKER")
    try:
        with open(mpath) as fh:
            if fh.read() == marker:
                return out
    except OSError:
        pass
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write_reordered(source, tmp, seed)
    with open(os.path.join(tmp, "_MARKER"), "w") as fh:
        fh.write(marker)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
