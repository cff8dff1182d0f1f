"""op267 — GeoJSON serving-shape certification (round-13 verdict's
"Next round" item 5: the one uncovered user-visible surface).

The DuckDB hash gate (tests/test_oracle.py + the driver sweep) proves
the RESULT bytes; the tests here pin the semantics and the plan shape
the docstring claims.
"""

from __future__ import annotations

import json

import pytest

from ocdb_server_spark.registry import load_all

OPS = load_all()


@pytest.fixture(scope="module")
def page(spark, sf_dir):
    return OPS["op267_find_datasets_geojson"].fn(spark, sf_dir).collect()


def test_geojson_is_valid_point_of_the_row_coords(page):
    """Every hit's geojson parses as a GeoJSON Point whose coordinates
    are exactly the row's own (x, y) — the serialization never drifts
    from the columns it claims to encode."""
    assert page, "empty page — fixture bbox/expr matches nothing"
    for r in page:
        g = json.loads(r.geojson)
        assert g == {"type": "Point", "coordinates": [r.x, r.y]}


def test_envelope_total_count_is_the_full_hit_count(page, duck):
    """total_count is the WHOLE query's hit count (the page merely
    windows it): constant across rows and equal to an independent
    DuckDB count of the same predicate. Reuses the module fixture:
    each op267 build runs a count job, and collecting the page runs
    another."""
    rows = page
    totals = {r.total_count for r in rows}
    assert len(totals) == 1
    expected = duck.execute(
        """
        SELECT COUNT(*) FROM (
          SELECT c_custkey % 360 - 180 AS x,
                 (c_custkey * 7) % 180 - 90 AS y
          FROM customer WHERE c_mktsegment = 'BUILDING'
        ) WHERE x BETWEEN -120 AND 120 AND y BETWEEN -60 AND 60
        """
    ).fetchone()[0]
    assert totals == {expected}
    # the page is the ORDERED PREFIX of the hits, capped at count
    assert len(rows) == min(expected, 50)
    keys = [r.c_custkey for r in rows]
    assert keys == sorted(keys)


def test_geojson_composes_with_keyset_cursor(spark, sf_dir, page):
    """The docstring's deep-pagination claim, proven: walking the same
    query with the keyset cursor (q.after) yields exactly the
    offset-page's rows — same keys, same geojson bytes — in two
    non-overlapping cursor pages."""
    from pyspark.sql import functions as F

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.search import (
        DatasetQuery,
        SearchColumns,
        find_datasets,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_custkey") % 360 - 180).alias("x"),
        ((F.col("c_custkey") * 7) % 180 - 90).alias("y"),
    )
    cols = SearchColumns(x="x", y="y", order_key="c_custkey")
    base = dict(
        expr="c_mktsegment:BUILDING",
        region=(-120, -60, 120, 60),
        geojson=True,
    )
    half = max(1, len(page) // 2)
    p1 = find_datasets(
        c, DatasetQuery(count=half, **base), cols
    ).datasets.collect()
    cursor = (p1[-1].c_custkey,)
    p2 = find_datasets(
        c, DatasetQuery(count=len(page) - half, after=cursor, **base), cols
    ).datasets.collect()
    walked = [(r.c_custkey, r.geojson) for r in p1 + p2]
    assert walked == [(r.c_custkey, r.geojson) for r in page]
    assert len({k for k, _ in walked}) == len(walked)  # no overlap


def test_plan_shape_pushdown_topk_no_shuffle_no_pyudf(spark, sf_dir):
    """The 100 TB claims, asserted: segment equality reaches the scan
    (PushedFilters), the scan reads ONLY the two needed columns
    (ReadSchema), the page plans as TakeOrderedAndProject (no global
    Sort), and the whole request runs with zero Exchanges and zero
    Python-eval nodes — geojson is built inside codegen."""
    df = OPS["op267_find_datasets_geojson"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "EqualTo(c_mktsegment,BUILDING)" in pushed, plan
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in rs and "c_mktsegment" in rs, rs
    assert "c_name" not in rs and "c_acctbal" not in rs, rs
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
