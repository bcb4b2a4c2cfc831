"""Tests of the benchmark's own logic (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

import datagen
from measure import digest, self_times, tail

HERE = os.path.dirname(os.path.abspath(__file__))


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    samples = [float(x) for x in range(1, 33)]  # 32 samples, shuffled below
    samples = samples[::2] + samples[1::2]
    value, pct = tail(samples)
    assert value == 22.0  # ten samples (23..32) lie beyond it
    assert pct == pytest.approx(100 * 22 / 32)
    assert sum(s > value for s in samples) == 10
    assert tail([1.0] * 11)[1] == pytest.approx(100 / 11)
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # clipped at 10
        {"id": 4, "parent": 2, "start": 2.5, "end": 3.5},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 1))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_digest_ignores_row_order_but_catches_a_changed_value():
    from hadoop_and_spark_spark.oracle import _normalize

    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25), (3, -0.0)]
    d = digest(_normalize(rows, cols))
    assert digest(_normalize(rows[::-1], cols)) == d
    assert digest(_normalize([(1, 0.5), (2, 1.26), (3, -0.0)], cols)) != d
    assert digest(_normalize([(1, 0.5), (2, 1.25), (3, 0.0)], cols)) != d
    assert digest(_normalize(rows[:2], cols)) != d


def _read(d: str, name: str) -> list[dict]:
    return pq.read_table(os.path.join(d, f"{name}.parquet")).to_pylist()


def test_seeded_generator_same_seed_same_files_other_seed_reordered(tmp_path):
    a = datagen.ensure(str(tmp_path / "a"), 7)
    b = datagen.ensure(str(tmp_path / "b"), 7)
    c = datagen.ensure(str(tmp_path / "c"), 8)
    key = lambda r: repr(sorted(r.items()))  # noqa: E731
    for name in datagen.TABLES:
        fa, fb = (os.path.join(d, f"{name}.parquet") for d in (a, b))
        with open(fa, "rb") as x, open(fb, "rb") as y:
            assert x.read() == y.read(), name
        src, ra, rc = _read(datagen.SOURCE, name), _read(a, name), _read(c, name)
        assert sorted(ra, key=key) == sorted(src, key=key), name
        assert sorted(rc, key=key) == sorted(src, key=key), name
        if len(ra) > 5:
            assert ra != rc, f"{name}: seed did not change the row order"


def test_generator_keeps_the_testdata_schema_and_layout(tmp_path):
    d = datagen.ensure(str(tmp_path), 7)
    for name in datagen.TABLES:
        src = pq.ParquetFile(os.path.join(datagen.SOURCE, f"{name}.parquet"))
        out = pq.ParquetFile(os.path.join(d, f"{name}.parquet"))
        assert out.schema.equals(src.schema), name  # parquet logical types
        assert out.schema_arrow.equals(src.schema_arrow, check_metadata=True), name
        assert out.metadata.num_row_groups == src.metadata.num_row_groups, name
        assert out.metadata.row_group(0).column(0).compression == (
            src.metadata.row_group(0).column(0).compression
        ), name


def test_generator_reuses_cached_tables(tmp_path):
    d = datagen.ensure(str(tmp_path), 3)
    before = os.stat(os.path.join(d, "lineitem.parquet")).st_mtime_ns
    assert datagen.ensure(str(tmp_path), 3) == d
    assert os.stat(os.path.join(d, "lineitem.parquet")).st_mtime_ns == before


def test_benchmark_json_matches_the_code():
    import layers
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == (
        layers.LAYER_METRICS
    )
    from hadoop_and_spark_spark.registry import collect

    _queries, oracles = collect()
    for _cold, names in run.WORKLOADS.values():
        assert len(names) * run.TIMED_PASSES > run.TAIL_BEYOND
        assert set(names) <= set(oracles), "every timed query is oracle-checked"
