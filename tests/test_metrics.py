"""Measured-metrics assertions (ocdb_server_spark/metrics.py): the
quantitative counterpart of tests/test_plans.py — not "the plan HAS a
partial aggregate" but "the shuffle actually carried 3 orders of
magnitude fewer records than the scan read".
"""

from __future__ import annotations

from ocdb_server_spark.metrics import profile
from ocdb_server_spark.registry import load_all

OPS = load_all()


def test_profile_reads_scan_and_shuffle(spark, sf_dir):
    p = profile(OPS["op17_agg_groupby"].fn(spark, sf_dir))
    assert p.scan_rows == 6000  # sf0.001 lineitem
    assert p.num_exchanges >= 1
    assert p.output_rows > 0
    assert "scan 6000 rows" in p.summary()


def test_partial_agg_shrinks_shuffle_measurably(spark, sf_dir):
    """op17: 6000 scanned rows, 6 groups → the exchange must carry
    ~groups×maps records, not the table. This is the measured form of
    'map-side combine', the property that keeps the op viable at
    100 TB."""
    p = profile(OPS["op17_agg_groupby"].fn(spark, sf_dir))
    assert p.shuffle_records_written <= 64, p.summary()
    assert p.shuffle_records_written < p.scan_rows / 50


def test_unpivot_is_measured_shuffle_free(spark, sf_dir):
    p = profile(OPS["op101_unpivot"].fn(spark, sf_dir))
    assert p.num_exchanges == 0, p.summary()
    assert p.shuffle_bytes_written == 0


def test_star_join_shuffles_only_aggregates(spark, sf_dir):
    """op39: with every dimension broadcast, the only exchange is the
    final aggregation's — records shuffled ≈ nations × map tasks, a
    sliver of the lineitem rows scanned."""
    p = profile(OPS["op39_join_multiway_star"].fn(spark, sf_dir))
    assert p.scan_rows > 5000  # lineitem + dims at sf0.001
    assert p.shuffle_records_written < 200, p.summary()


def test_pivot_single_measured_exchange(spark, sf_dir):
    """op100: the conditional-agg pivot executes exactly ONE exchange
    carrying ≤ statuses×maps partial rows — the measured counterpart
    of the plan-shape test in test_plans.py.

    (op79's shuffles are NOT measurable this way: they run inside the
    persisted band-table's cache-build execution, a separate query —
    its scale properties are asserted on plan shape instead.)"""
    p = profile(OPS["op100_pivot"].fn(spark, sf_dir))
    assert p.num_exchanges == 1, p.summary()
    assert 0 < p.shuffle_records_written <= 3 * 32, p.summary()
    assert p.output_rows == 3  # orderstatus ∈ {F, O, P}


def test_reused_exchange_not_double_counted(spark):
    """_walk must not follow ReusedExchange into the original's
    subtree: that would double exchanges/shuffle bytes/scan rows in a
    tool whose purpose is the plan's arithmetic. A self-join that
    reuses one shuffle must profile ONE exchange's movement."""
    from pyspark.sql import functions as F

    df = spark.range(1000).toDF("id").groupBy((F.col("id") % 10).alias("k")).count()
    joined = df.alias("a").join(df.alias("b"), "k")
    prof = profile(joined)
    names = [n.name for n in prof.nodes]
    if not any(n.startswith("ReusedExchange") or n == "ReusedExchange" for n in names):
        import pytest

        pytest.skip("planner did not reuse the exchange on this version")
    # the reused side contributes a marker, not a second subtree:
    # exchanges counted = distinct real Exchange nodes only
    real = [n for n in prof.nodes if n.name == "Exchange"]
    assert prof.num_exchanges == len(real)
    # and the original subtree's scan is not walked twice
    scans = [n for n in prof.nodes if n.name.startswith("Scan") or n.name == "Range"]
    assert len(scans) == len({id(n) for n in scans})  # sanity: one entry per walked node


def test_output_rows_sums_union_branches(spark):
    """output_rows counts the rows collect() returned: every Union
    branch, not only the first."""
    from ocdb_server_spark.metrics import profile

    a = spark.range(10)
    b = spark.range(7)
    prof = profile(a.union(b))
    assert prof.output_rows == 17
