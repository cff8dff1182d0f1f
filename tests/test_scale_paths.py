"""Scale-path tests: partition pruning on a date-partitioned layout
(SURVEY.md §7.2) and skew-proof top-k (functions/skew.py) — behaviors
the flat single-file testdata can't exercise on its own."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.functions.skew import salted_topk_per_key
from ocdb_server_spark.io import load_table


@pytest.fixture(scope="module")
def partitioned_orders(spark, sf_dir, tmp_path_factory):
    """orders re-written partitioned by month — the derived layout a
    100 TB serving table would use."""
    path = str(tmp_path_factory.mktemp("po") / "orders_by_month")
    (
        load_table(spark, sf_dir, "orders")
        .withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.partitionBy("month")
        .parquet(path)
    )
    return path


def test_partition_pruning_hits_scan(spark, partitioned_orders):
    """A month filter must prune at the directory level: the scan's
    PartitionFilters carries it and the other months are never read."""
    df = spark.read.parquet(partitioned_orders).filter(F.col("month") == "1995-03")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters:" in plan
    pf = plan.split("PartitionFilters:")[1][:200]
    assert "month" in pf
    # and the answer is right
    expected = (
        spark.read.parquet(partitioned_orders)
        .withColumn("m", F.date_format("o_orderdate", "yyyy-MM"))
        .filter(F.col("m") == "1995-03")
        .count()
    )
    assert df.count() == expected


def test_partitioned_roundtrip_preserves_rows(spark, sf_dir, partitioned_orders):
    orig = load_table(spark, sf_dir, "orders").count()
    assert spark.read.parquet(partitioned_orders).count() == orig


def test_salted_topk_matches_direct_window(spark, sf_dir):
    """The two-phase skew-proof top-k must equal the direct single
    window top-3 per customer row-for-row (op42's semantics)."""
    o = load_table(spark, sf_dir, "orders")
    order_by = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    salted = salted_topk_per_key(o, ["o_custkey"], order_by, k=3, n_salts=8)
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy(*order_by)
    direct = o.withColumn("rn", F.row_number().over(w)).filter("rn <= 3").drop("rn")

    cols = ["o_custkey", "o_orderkey"]
    s = sorted(map(tuple, salted.select(*cols).collect()))
    d = sorted(map(tuple, direct.select(*cols).collect()))
    assert s == d


def test_salted_topk_skewed_key(spark):
    """With one key owning 90% of rows, the salted variant still
    returns exactly its top-k."""
    rows = [(0, i, float(i)) for i in range(9000)] + [
        (k, 100_000 + k * 10 + j, float(j)) for k in range(1, 11) for j in range(100)
    ]
    df = spark.createDataFrame(rows, "key int, id long, v double").repartition(16)
    out = salted_topk_per_key(
        df, ["key"], [F.col("v").desc(), F.col("id")], k=5, n_salts=8
    )
    got = {r["key"]: sorted((x["v"], x["id"]) for x in out.collect() if x["key"] == r["key"]) for r in out.select("key").distinct().collect()}
    hot = sorted(((r["v"], r["id"]) for r in out.collect() if r["key"] == 0))
    assert len(hot) == 5
    assert [v for v, _ in hot] == [8995.0, 8996.0, 8997.0, 8998.0, 8999.0]
    assert all(len(v) == 5 for v in got.values())


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """SURVEY §7.2's co-location claim, proven: orders and lineitem
    written bucketed on the join key join WITHOUT an Exchange on either
    side — at 100 TB that shuffle is the star join's dominant cost."""
    import uuid

    from ocdb_server_spark.io import load_table

    db = f"bkt_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/wh'")
    try:
        (
            load_table(spark, sf_dir, "orders")
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(f"{db}.orders_b")
        )
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice")
            .write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable(f"{db}.lineitem_b")
        )
        # hint('merge'): at test scale Catalyst would broadcast these
        # tiny tables; at 100 TB both sides are large and SMJ is the
        # natural plan — the hint recreates that shape so the
        # no-Exchange property of bucketing is what's under test
        j = spark.table(f"{db}.lineitem_b").hint("merge").join(
            spark.table(f"{db}.orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # and the co-located join is still correct
        expected = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert j.count() == expected
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")
