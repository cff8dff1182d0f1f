"""End-to-end tests of the find_datasets search façade (SURVEY.md §3.1
parity: expr + bbox + time + membership + pagination in one call),
bound to the driver's orders/part tables since the testdata has no geo
columns (same substitution op14 documents), and of op267, which serves
find_datasets' GeoJSON shape."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.io import load_table
from ocdb_server_spark.metrics import JobGroup
from ocdb_server_spark.registry import load_all
from ocdb_server_spark.search import (
    DatasetQuery,
    SearchColumns,
    find_datasets,
)

OPS = load_all()


PART_COLS = SearchColumns(
    x="p_size",
    y="p_retailprice",
    order_key="p_partkey",
    default_text_fields=("p_name", "p_type"),
)


@pytest.fixture(scope="module")
def part(spark, sf_dir):
    return load_table(spark, sf_dir, "part")


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


def test_expr_only(part):
    res = find_datasets(part, DatasetQuery(expr="p_size:[1 TO 10]"), PART_COLS)
    manual = part.filter(F.col("p_size").between(1, 10)).count()
    assert res.total_count == manual
    assert res.datasets.count() == min(manual, 100)


def test_bbox_matches_manual_filter(part):
    q = DatasetQuery(region=(5, 500.0, 20, 1200.0), count=10_000)
    res = find_datasets(part, q, PART_COLS)
    manual = part.filter(
        F.col("p_size").between(5, 20) & F.col("p_retailprice").between(500.0, 1200.0)
    ).count()
    assert res.total_count == manual
    assert res.datasets.count() == manual


def test_expr_and_bbox_compose(part):
    q = DatasetQuery(expr="p_brand:*Brand*", region=(1, 0.0, 25, 2000.0))
    res = find_datasets(part, q, PART_COLS)
    manual = part.filter(
        F.col("p_brand").like("%Brand%")
        & F.col("p_size").between(1, 25)
        & F.col("p_retailprice").between(0.0, 2000.0)
    ).count()
    assert res.total_count == manual


def test_time_overlap_and_membership(orders):
    cols = SearchColumns(
        t_start="o_orderdate",
        group="o_orderpriority",
        order_key="o_orderkey",
    )
    q = DatasetQuery(
        time=("1995-01-01", "1995-12-31"),
        pgroup=["1-URGENT", "2-HIGH"],
        count=50,
    )
    res = find_datasets(orders, q, cols)
    manual = orders.filter(
        (F.col("o_orderdate") <= "1995-12-31")
        & (F.col("o_orderdate") >= "1995-01-01")
        & F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH"])
    ).count()
    assert res.total_count == manual
    assert res.datasets.count() == min(manual, 50)


def test_pagination_is_deterministic_partition(part):
    q_all = DatasetQuery(expr="p_size:[1 TO 50]", count=10_000)
    total = find_datasets(part, q_all, PART_COLS).total_count
    seen = []
    off, size = 0, 57
    while off < total:
        page = find_datasets(
            part, DatasetQuery(expr="p_size:[1 TO 50]", offset=off, count=size), PART_COLS
        ).datasets.collect()
        seen.extend(r["p_partkey"] for r in page)
        off += size
    assert len(seen) == total
    assert len(set(seen)) == total
    assert seen == sorted(seen)


def test_result_echoes_query(part):
    q = DatasetQuery(expr="p_size:7")
    res = find_datasets(part, q, PART_COLS)
    assert res.query is q


def test_page_then_total_count_is_one_job(spark, part):
    """The count rides on the page query: fetching the page and then
    reading total_count runs exactly one Spark job (counted through the
    block's job group) and the count is exact."""
    q = DatasetQuery(expr="p_size:[1 TO 10]", count=7)
    with JobGroup(spark, "test_search") as g:
        res = find_datasets(part, q, PART_COLS)
        page = res.datasets.toArrow()
        total = res.total_count
    assert len(g.jobs) == 1
    assert total == part.filter(F.col("p_size").between(1, 10)).count()
    assert page.num_rows == min(total, 7)
    assert res.total_count == total  # memoized: no second read


def test_total_count_before_page(part):
    """Reading total_count before the page is fetched counts the hits
    with its own job; the page fetched afterwards is still right."""
    q = DatasetQuery(expr="p_size:[1 TO 10]", offset=3, count=5)
    res = find_datasets(part, q, PART_COLS)
    hits = part.filter(F.col("p_size").between(1, 10))
    assert res.total_count == hits.count()
    keys = sorted(r.p_partkey for r in hits.select("p_partkey").collect())
    assert [r.p_partkey for r in res.datasets.collect()] == keys[3:8]


def test_resolved_empty_group_runs_no_count_job(spark, orders):
    """A membership filter that resolves to no members matches nothing
    by construction: total_count is 0 without a job, read before or
    after the (empty) page."""
    cols = SearchColumns(
        group="o_orderpriority",
        order_key="o_orderkey",
        pgroup_map={"none": ()},
    )
    q = DatasetQuery(pgroup=["none"], count=10)
    with JobGroup(spark, "test_search") as g:
        assert find_datasets(orders, q, cols).total_count == 0
    assert len(g.jobs) == 0
    res = find_datasets(orders, q, cols)
    assert res.datasets.toArrow().num_rows == 0
    with JobGroup(spark, "test_search") as g:
        assert res.total_count == 0
    assert len(g.jobs) == 0


def test_missing_binding_raises(part):
    with pytest.raises(ValueError, match="region"):
        find_datasets(part, DatasetQuery(region=(0, 0, 1, 1)), SearchColumns(order_key="p_partkey"))


def _pushed_filters(df) -> set[str]:
    """The pushed filters of the one parquet scan in df's executed plan,
    read from the FileSourceScanExec node itself: the plan text cuts
    the list short with `...`."""
    stack, scans = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.inputPlan())
            continue
        if name == "FileSourceScanExec":
            scans.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    (scan,) = scans
    filters = scan.pushedDownFilters()
    return {filters.apply(i).toString() for i in range(filters.size())}


def test_search_predicate_pushes_down(part):
    """The whole composed query must reach the scan as pushed filters —
    the design point of compiling params into one Catalyst predicate:
    the text match and both bbox bounds on both columns."""
    q = DatasetQuery(expr="p_brand:*Brand*", region=(1, 0.0, 25, 2000.0))
    from ocdb_server_spark.search import _predicate

    pushed = _pushed_filters(part.filter(_predicate(q, PART_COLS)))
    assert {
        "StringContains(p_brand,Brand)",
        "GreaterThanOrEqual(p_size,1)",
        "LessThanOrEqual(p_size,25)",
        "GreaterThanOrEqual(p_retailprice,0.0)",
        "LessThanOrEqual(p_retailprice,2000.0)",
    } <= pushed, pushed


def test_pgroup_map_expansion(orders):
    """Reference semantics: pgroup names resolve through the
    product-group mapping (ocdb/res/product-groups.json [U]) into
    member names; pname unions in literal members; an unknown group
    contributes nothing when a mapping is configured."""
    cols = SearchColumns(
        group="o_orderpriority",
        order_key="o_orderkey",
        pgroup_map={"rush": ("1-URGENT", "2-HIGH"), "empty_group": ()},
    )
    manual = orders.filter(
        F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH", "5-LOW"])
    ).count()
    res = find_datasets(
        orders, DatasetQuery(pgroup=["rush"], pname=["5-LOW"], count=10), cols
    )
    assert res.total_count == manual
    # unknown group under a configured mapping matches nothing
    assert (
        find_datasets(orders, DatasetQuery(pgroup=["nope"], count=10), cols).total_count
        == 0
    )
    # duplicate members across pgroup and pname dedup cleanly
    res2 = find_datasets(
        orders,
        DatasetQuery(pgroup=["rush"], pname=["1-URGENT"], count=10),
        cols,
    )
    assert res2.total_count == orders.filter(
        F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH"])
    ).count()


def test_reference_param_surface(orders):
    """The remaining reference find_datasets params (mtype, wlmode,
    shallow, wdepth, status, pmode — SURVEY.md §1.2 row 3) compose into
    the same single predicate, bound to testdata columns: status →
    o_orderstatus, wdepth → o_totalprice range, mtype →
    o_orderpriority, plus derived wlmode/shallow columns."""
    df = orders.withColumn(
        "wl",
        F.when(F.col("o_orderkey") % 2 == 0, "multispectral").otherwise(
            "hyperspectral"
        ),
    ).withColumn("sh", F.col("o_orderkey") % 3 == 0)
    cols = SearchColumns(
        order_key="o_orderkey",
        group="o_orderpriority",
        mtype="o_orderpriority",
        wlmode="wl",
        shallow="sh",
        wdepth="o_totalprice",
        status="o_orderstatus",
    )
    q = DatasetQuery(
        mtype="1-URGENT",
        wlmode="multispectral",
        shallow="exclusively",
        wdepth=(1000.0, 100000.0),
        status="F",
        count=10_000,
    )
    manual = df.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("wl") == "multispectral")
        & F.col("sh")
        & F.col("o_totalprice").between(1000.0, 100000.0)
        & (F.col("o_orderstatus") == "F")
    ).count()
    res = find_datasets(df, q, cols)
    assert res.total_count == manual and manual > 0
    # shallow='no' (default) excludes flagged rows
    res_no = find_datasets(df, DatasetQuery(count=10_000), cols)
    assert res_no.total_count == df.filter(~F.col("sh")).count()
    # shallow='yes' disables the filter entirely
    res_yes = find_datasets(df, DatasetQuery(shallow="yes", count=10_000), cols)
    assert res_yes.total_count == df.count()
    # pmode='dont_apply' skips the membership filter but keeps others
    res_pm = find_datasets(
        df,
        DatasetQuery(pgroup=["1-URGENT"], pmode="dont_apply", shallow="yes", count=10_000),
        cols,
    )
    assert res_pm.total_count == df.count()
    # default 'contains' still applies it
    res_ct = find_datasets(
        df, DatasetQuery(pgroup=["1-URGENT"], shallow="yes", count=10_000), cols
    )
    assert res_ct.total_count == df.filter(F.col("o_orderpriority") == "1-URGENT").count()
    # validation: bad enum values and missing bindings raise
    with pytest.raises(ValueError, match="wlmode"):
        find_datasets(df, DatasetQuery(wlmode="nope"), cols)
    with pytest.raises(ValueError, match="shallow"):
        find_datasets(df, DatasetQuery(shallow="maybe"), cols)
    bare = SearchColumns(order_key="o_orderkey")
    with pytest.raises(ValueError, match="mtype"):
        find_datasets(df, DatasetQuery(mtype="x"), bare)
    with pytest.raises(ValueError, match="status"):
        find_datasets(df, DatasetQuery(status="F"), bare)
    with pytest.raises(ValueError, match="wdepth"):
        find_datasets(df, DatasetQuery(wdepth=(0.0, 1.0)), bare)
    # no shallow binding: default is a no-op, 'exclusively' is an error
    assert find_datasets(df, DatasetQuery(count=10), bare).total_count == df.count()
    with pytest.raises(ValueError, match="shallow"):
        find_datasets(df, DatasetQuery(shallow="exclusively"), bare)


def test_geojson_output(part):
    """geojson=True attaches a GeoJSON Point per hit (reference: the
    per-dataset location lists of §3.1 step 7)."""
    import json

    q = DatasetQuery(expr="p_size:[1 TO 5]", count=5, geojson=True)
    res = find_datasets(part, q, PART_COLS)
    rows = res.datasets.collect()
    assert rows and all("geojson" in r.asDict() for r in rows)
    g = json.loads(rows[0]["geojson"])
    assert g["type"] == "Point" and len(g["coordinates"]) == 2
    # bindings missing -> explicit error, not a silent omission
    import pytest as _pt

    with _pt.raises(ValueError):
        find_datasets(
            part,
            DatasetQuery(geojson=True),
            SearchColumns(order_key="p_partkey"),
        )


def test_keyset_cursor_walk_equals_offset_walk(orders):
    """Cursor-paged traversal (after=last sort tuple) must visit
    exactly the rows offset paging visits, in the same total order —
    no dups, no gaps — while each page is a pushed filter + top-k
    instead of a deep skip-scan."""
    cols = SearchColumns(
        order_key="o_orderkey", order_by=("o_orderdate", "o_orderkey")
    )
    q0 = DatasetQuery(expr="o_totalprice:[100000 TO 200000]", count=10_000)
    full = find_datasets(orders, q0, cols)
    expected = [
        (r["o_orderdate"], r["o_orderkey"]) for r in full.datasets.collect()
    ]
    assert full.total_count == len(expected)

    seen, after, size = [], None, 97
    while True:
        q = DatasetQuery(
            expr="o_totalprice:[100000 TO 200000]", count=size, after=after
        )
        res = find_datasets(orders, q, cols)
        rows = res.datasets.collect()
        if not rows:
            break
        seen.extend((r["o_orderdate"], r["o_orderkey"]) for r in rows)
        after = seen[-1]
        assert res.total_count == full.total_count  # total is query-wide
    assert seen == expected


def test_keyset_cursor_filters_above_observed_count(spark, orders):
    """With a keyset cursor the page plans as TakeOrderedAndProject
    over the cursor Filter, and the count's CollectMetrics node sits
    BELOW that Filter: fetching the page and then reading total_count
    runs one job, and the count is the whole query's, not the rest of
    the walk after the cursor."""
    import datetime

    cols = SearchColumns(
        order_key="o_orderkey", order_by=("o_orderdate", "o_orderkey")
    )
    q = DatasetQuery(
        expr="o_totalprice:[100000 TO 200000]",
        count=20,
        after=(datetime.datetime(1995, 6, 1), 42),
    )
    with JobGroup(spark, "test_search") as g:
        res = find_datasets(orders, q, cols)
        page = res.datasets.collect()
        total = res.total_count
    assert len(g.jobs) == 1
    assert total == orders.filter(F.col("o_totalprice").between(100000, 200000)).count()
    assert 0 < len(page) <= 20

    plan = res.datasets._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    lines = plan.splitlines()
    cursor = next(i for i, ln in enumerate(lines) if "Filter" in ln and "1995-06-01" in ln)
    metrics = next(i for i, ln in enumerate(lines) if "CollectMetrics" in ln)
    assert cursor < metrics, plan  # tree order: a parent prints first


def test_keyset_cursor_arity_mismatch_raises(orders):
    cols = SearchColumns(
        order_key="o_orderkey", order_by=("o_orderdate", "o_orderkey")
    )
    with pytest.raises(ValueError, match="cursor"):
        find_datasets(orders, DatasetQuery(after=(1,)), cols)


# --------------------------------------- randomized param differential


_EXPR_POOL = [
    (
        "o_orderstatus:F",
        lambda p: p["o_orderstatus"] == "F",
    ),
    (
        "o_orderpriority:*URGENT*",
        lambda p: p["o_orderpriority"].str.contains("URGENT", regex=False),
    ),
    (
        "o_totalprice:[10000 TO 150000]",
        lambda p: (p["o_totalprice"] >= 10000) & (p["o_totalprice"] <= 150000),
    ),
    (
        "o_orderpriority:?-LOW",
        lambda p: p["o_orderpriority"].str.match(r".-LOW$"),
    ),
    (
        "(o_orderstatus:F) OR (o_orderpriority:5-LOW)",
        lambda p: (p["o_orderstatus"] == "F")
        | (p["o_orderpriority"] == "5-LOW"),
    ),
    (
        "NOT o_orderstatus:O",
        lambda p: p["o_orderstatus"] != "O",
    ),
    (
        "URGENT",  # bare phrase over default_text_fields
        lambda p: p["o_orderstatus"].str.contains("URGENT", regex=False)
        | p["o_orderpriority"].str.contains("URGENT", regex=False),
    ),
]

_PGROUP_MAP = {
    "urgentish": ("1-URGENT", "2-HIGH"),
    "slow": ("5-LOW",),
    "ghost": (),  # resolves to no members
}


def _random_query(rng):
    import datetime

    kw = {}
    if rng.random() < 0.5:
        kw["expr"] = rng.randrange(len(_EXPR_POOL))  # index, resolved later
    if rng.random() < 0.3:
        lo = rng.uniform(1000, 400000)
        kw["region"] = (lo, rng.randrange(0, 100), lo + 150000, 149)
    if rng.random() < 0.3:
        d0 = datetime.date(1995, 1, 1) + datetime.timedelta(
            days=rng.randrange(0, 2200)
        )
        d1 = d0 + datetime.timedelta(days=rng.randrange(0, 400))
        kw["time"] = (str(d0), str(d1))
    if rng.random() < 0.25:
        kw["mtype"] = rng.choice(["1-URGENT", "3-MEDIUM"])
    if rng.random() < 0.3:
        kw["wlmode"] = rng.choice(["multispectral", "hyperspectral"])
    kw["shallow"] = rng.choice(["no", "yes", "exclusively"])
    if rng.random() < 0.25:
        lo = rng.uniform(1000, 300000)
        kw["wdepth"] = (lo, lo + rng.uniform(0, 200000))
    if rng.random() < 0.25:
        kw["status"] = rng.choice(["F", "O", "P"])
    if rng.random() < 0.35:
        kw["pgroup"] = rng.sample(sorted(_PGROUP_MAP), rng.randrange(1, 3))
        if rng.random() < 0.3:
            kw["pmode"] = "dont_apply"
    if rng.random() < 0.2:
        kw["pname"] = ["4-NOT SPECIFIED"]
    kw["offset"] = rng.choice([0, 0, rng.randrange(0, 1600)])
    kw["count"] = rng.randrange(1, 60)
    return kw


def _expected_mask(pdf, kw, expr_fn):
    import pandas as pd

    m = pd.Series(True, index=pdf.index)
    if expr_fn is not None:
        m &= expr_fn(pdf)
    if "region" in kw:
        x0, y0, x1, y1 = kw["region"]
        m &= pdf["o_totalprice"].between(x0, x1) & pdf["o_custkey"].between(
            y0, y1
        )
    if "time" in kw:
        start, end = (pd.Timestamp(t) for t in kw["time"])
        m &= (pdf["o_orderdate"] <= end) & (pdf["o_orderdate"] >= start)
    if kw.get("mtype", "all") != "all":
        m &= pdf["o_orderpriority"] == kw["mtype"]
    if kw.get("wlmode", "all") != "all":
        m &= pdf["wl"] == kw["wlmode"]
    if kw["shallow"] != "yes":
        m &= pdf["sh"] == (kw["shallow"] == "exclusively")
    if "wdepth" in kw:
        lo, hi = kw["wdepth"]
        m &= pdf["o_totalprice"].between(lo, hi)
    if kw.get("status") is not None:
        m &= pdf["o_orderstatus"] == kw["status"]
    members = list(kw.get("pname", []))
    for g in kw.get("pgroup", []):
        members.extend(_PGROUP_MAP.get(g, ()))
    if (kw.get("pgroup") or kw.get("pname")) and kw.get("pmode") != "dont_apply":
        m &= pdf["o_orderpriority"].isin(members) if members else False
    return m


def test_randomized_param_differential(orders):
    """25 seeded-random DatasetQuery param COMBINATIONS against an
    independent pandas re-implementation of the whole filter surface
    (expr pool hand-translated per entry, every other param re-derived
    from its documented semantics) — total_count AND the exact page id
    list must match, plus one keyset-cursor page-2 equivalence. The
    targeted tests above pin each param alone and a few compositions;
    this sweeps the interaction space (e.g. shallow='exclusively' +
    wdepth + expr + pgroup with a ghost group + deep offset)."""
    import random

    df = (
        orders.withColumn(
            "wl",
            F.when(F.col("o_orderkey") % 2 == 0, "multispectral").otherwise(
                "hyperspectral"
            ),
        )
        .withColumn("sh", F.col("o_orderkey") % 3 == 0)
    )
    cols = SearchColumns(
        x="o_totalprice",
        y="o_custkey",
        t_start="o_orderdate",
        group="o_orderpriority",
        mtype="o_orderpriority",
        wlmode="wl",
        shallow="sh",
        wdepth="o_totalprice",
        status="o_orderstatus",
        order_key="o_orderkey",
        default_text_fields=("o_orderstatus", "o_orderpriority"),
        pgroup_map=_PGROUP_MAP,
    )
    pdf = df.toPandas()

    rng = random.Random(1464)
    interesting = 0
    for i in range(25):
        kw = _random_query(rng)
        expr_fn = None
        if "expr" in kw:
            expr_str, expr_fn = _EXPR_POOL[kw["expr"]]
            kw["expr"] = expr_str
        q = DatasetQuery(**kw)
        res = find_datasets(df, q, cols)
        mask = _expected_mask(pdf, kw, expr_fn)
        exp_ids = sorted(pdf.loc[mask, "o_orderkey"])
        got_page = [
            r.o_orderkey
            for r in res.datasets.select("o_orderkey").collect()
        ]
        assert res.total_count == len(exp_ids), (i, kw)
        assert got_page == exp_ids[q.offset : q.offset + q.count], (i, kw)
        if 0 < len(exp_ids) < len(pdf):
            interesting += 1
    assert interesting >= 10, interesting  # generator health

    # keyset cursor: page 2 via `after` == page 2 via offset
    q1 = DatasetQuery(status="F", shallow="yes", count=20)
    p1 = [
        r.o_orderkey
        for r in find_datasets(df, q1, cols).datasets.select("o_orderkey").collect()
    ]
    via_after = DatasetQuery(status="F", shallow="yes", count=20, after=(p1[-1],))
    via_offset = DatasetQuery(status="F", shallow="yes", count=20, offset=20)
    ids_a = [
        r.o_orderkey
        for r in find_datasets(df, via_after, cols).datasets.select("o_orderkey").collect()
    ]
    ids_o = [
        r.o_orderkey
        for r in find_datasets(df, via_offset, cols).datasets.select("o_orderkey").collect()
    ]
    assert ids_a == ids_o and len(ids_a) == 20


def test_multicolumn_keyset_walk_covers_filtered_set(orders):
    """Randomized MULTI-COLUMN keyset pagination: _keyset_after's
    lexicographic row-value predicate is only exercised single-key by
    the op193 tests, but the contract is any order_by tuple whose
    last element is the unique key. For 6 seeded (filter, order_by,
    page-size) draws — including a non-unique leading column with
    heavy ties (o_orderstatus) and a DESC-unfriendly float column —
    walking pages via `after` must reproduce the offset-walk exactly:
    disjoint pages, in order, union = the whole filtered set."""
    import random

    rng = random.Random(5520)
    cols_pool = [
        ("o_orderstatus", "o_orderkey"),
        ("o_orderpriority", "o_custkey", "o_orderkey"),
        ("o_totalprice", "o_orderkey"),
    ]
    # reference-set page size = the whole table, NOT a fixed cap: a
    # hardcoded 10_000 would silently truncate `full` when the suite
    # runs against a larger SPARK_GRAFT_TEST_SF_DIR, which would fail
    # the walk==full assert on correct cursor code.
    table_rows = orders.count()
    for trial in range(6):
        order_by = rng.choice(cols_pool)
        count = rng.randrange(40, 120)  # enough pages to stress the
        # cursor without walking ~200 pages per trial (suite-time cap)
        status = rng.choice([None, "F", "O"])
        sc = SearchColumns(
            order_key="o_orderkey",
            order_by=order_by,
            status="o_orderstatus" if status else None,
        )
        q0 = DatasetQuery(status=status, count=count)
        full = [
            tuple(r[c] for c in order_by)
            for r in find_datasets(orders, DatasetQuery(status=status, count=table_rows), sc)
            .datasets.select(*order_by)
            .collect()
        ]
        walked, after, pages = [], None, 0
        while True:
            q = DatasetQuery(status=status, count=count, after=after)
            page = [
                tuple(r[c] for c in order_by)
                for r in find_datasets(orders, q, sc)
                .datasets.select(*order_by)
                .collect()
            ]
            if not page:
                break
            walked.extend(page)
            after = page[-1]
            pages += 1
            assert pages <= len(full) // count + 2, "cursor walk not advancing"
        assert walked == full, (trial, order_by, count, status)


def test_keyset_cursor_handles_null_sort_keys(spark):
    """A cursor tuple containing None must not make the whole keyset
    predicate NULL (every later page empty), and rows with NULL sort
    keys must be reachable by a cursor page.
    NULLs sort FIRST ascending, so the walk must start inside the
    null group and leave it exactly once — cursor-walk == offset-walk
    over a null-bearing column."""
    df = spark.createDataFrame(
        [(None, 1), (None, 2), (5, 3), (7, 4), (None, 0), (6, 5)],
        "ts int, id int",
    )
    cols = SearchColumns(order_key="id", order_by=("ts", "id"))
    expected = [
        (r.ts, r.id)
        for r in find_datasets(df, DatasetQuery(count=100), cols).datasets.collect()
    ]
    assert expected == [(None, 0), (None, 1), (None, 2), (5, 3), (6, 5), (7, 4)]
    seen, after = [], None
    while True:
        rows = find_datasets(
            df, DatasetQuery(count=2, after=after), cols
        ).datasets.collect()
        if not rows:
            break
        seen.extend((r.ts, r.id) for r in rows)
        after = seen[-1]
    assert seen == expected


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
