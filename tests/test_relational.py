"""Differential tests: relational queries vs DuckDB oracle (SURVEY §5.2)."""

from __future__ import annotations

import pytest

from hadoop_and_spark_spark.operators import relational
from hadoop_and_spark_spark.oracle import compare


@pytest.mark.parametrize("name", sorted(relational.QUERIES))
def test_relational_vs_oracle(spark, sf_dir, name):
    if name not in relational.ORACLE_SQL:
        # rows-only at the driver (q9b: sketches aren't cross-engine
        # hashable); its correctness pin is
        # test_approx_percentile_tracks_exact
        assert relational.QUERIES[name](spark, sf_dir).count() >= 1
        return
    ok, msg = compare(
        spark, sf_dir, relational.QUERIES[name], relational.ORACLE_SQL[name]
    )
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)


def test_sql_surface_over_registered_views(spark, sf_dir):
    """The engine is usable as literal SQL: a catalog table registered
    as a temp view + a spark.sql() rendering of the Q6 pricing summary
    must match the DataFrame query exactly (same Catalyst plan space,
    a5's SQL-vs-DataFrame duality)."""
    from hadoop_and_spark_spark.catalog import load_table
    from hadoop_and_spark_spark.operators.relational import (
        Q6_CUTOFF,
        q6_pricing_summary,
    )

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    got = spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                         AS sum_qty,
               round(sum(l_extendedprice), 2)                    AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                                                                 AS sum_charge,
               round(avg(l_quantity), 4)                         AS avg_qty,
               round(avg(l_extendedprice), 4)                    AS avg_price,
               round(avg(l_discount), 4)                         AS avg_disc,
               count(*)                                          AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '{Q6_CUTOFF}'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """).collect()
    want = q6_pricing_summary(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def _lineitem_with_nulls(out_dir) -> str:
    """A lineitem directory whose prices and flags hold NULLs: a flag
    with some NULL prices, a NULL-flag group, and a flag whose prices
    are all NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        ("A", 10.5), ("A", None), ("A", 99.25), ("A", 10.5), ("A", 7000.0),
        ("N", None), ("N", None),
        (None, 12.0), (None, None), (None, 500.0),
        ("R", 64.0), ("R", 63.99), ("R", 128.0), ("R", None),
    ]
    pq.write_table(
        pa.table({
            "l_returnflag": pa.array([f for f, _ in rows], pa.string()),
            "l_extendedprice": pa.array([p for _, p in rows], pa.float64()),
        }),
        out_dir / "lineitem.parquet",
    )
    return str(out_dir)


def test_q9_histogram_matches_builtin_percentile_bitwise(spark, sf_dir, tmp_path):
    """The registered domain-bounded histogram plan must reproduce the
    builtin exact ``percentile`` aggregate BIT-FOR-BIT (same
    Percentile.getPercentile interpolation arithmetic), not merely
    within tolerance — that identity is what lets the scale-safe plan
    keep q9's hash-green DuckDB oracle. Run on the testdata and on a
    lineitem with NULL prices and flags: a NULL flag is its own
    group, percentiles skip NULL prices, and cnt counts every row,
    as in the builtin and the oracle."""
    from hadoop_and_spark_spark.operators.relational import (
        q9_percentiles_builtin,
        q9_price_percentiles,
    )

    nulls_dir = _lineitem_with_nulls(tmp_path)
    for src in (sf_dir, nulls_dir):
        got = [tuple(r) for r in q9_price_percentiles(spark, src).collect()]
        want = [tuple(r) for r in q9_percentiles_builtin(spark, src).collect()]
        assert got == want, src
    assert [r[0] for r in want] == [None, "A", "N", "R"]
    ok, msg = compare(
        spark,
        nulls_dir,
        q9_price_percentiles,
        relational.ORACLE_SQL["q9_price_percentiles"],
    )
    assert ok, msg


def test_approx_percentile_tracks_exact(spark, sf_dir):
    """The registered 100 TB percentile plan (q9b's bounded-memory
    sketch) must land within 2% relative error of the exact
    interpolated percentiles (oracle-green q9) it replaces — this pin
    IS q9b's correctness story (sketches aren't cross-engine
    hashable, so the driver row is rows-only)."""
    from hadoop_and_spark_spark.operators.relational import (
        q9_price_percentiles,
        q9b_price_percentiles_approx,
    )

    exact = {r.l_returnflag: r for r in q9_price_percentiles(spark, sf_dir).collect()}
    approx = {
        r.l_returnflag: r
        for r in q9b_price_percentiles_approx(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        assert exact[k].cnt == approx[k].cnt
        for col in ("p50", "p90", "p99"):
            e, a = getattr(exact[k], col), getattr(approx[k], col)
            assert abs(a - e) / e < 0.02, (k, col, e, a)


def test_balance_quartiles_by_value_semantics(spark, sf_dir):
    """Quartile assignment is monotone in balance within a segment,
    uses all four buckets on real data, and matches a direct
    recomputation from the exact boundaries."""
    from hadoop_and_spark_spark.operators.relational import balance_quartiles

    rows = balance_quartiles(spark, sf_dir).collect()
    assert rows and {r.quartile for r in rows} == {1, 2, 3, 4}
    by_seg: dict[str, list] = {}
    for r in rows:
        by_seg.setdefault(r.c_mktsegment, []).append(r)
    for rs in by_seg.values():
        rs.sort(key=lambda r: r.c_acctbal)
        quarts = [r.quartile for r in rs]
        assert quarts == sorted(quarts)  # monotone in balance
        # by-value split: each bucket holds ~25% (interpolated
        # boundaries guarantee no bucket exceeds half the segment)
        n = len(rs)
        for q in (1, 2, 3, 4):
            assert quarts.count(q) <= n * 0.5 + 1
