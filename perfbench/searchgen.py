"""Seeded ``GET /datasets`` traffic over lineitem, and its DuckDB rendering.

The searched frame is lineitem plus three derived columns: integer
``x``/``y`` coordinates computed from the keys (as op267 derives them
from customer keys) and a string ``sku`` for wildcard terms. Requests
vary every input ``find_datasets`` branches on: bbox size, time window,
expr form (field:value, range, wildcard, AND/OR/NOT), product group,
page size, shallow or deep offset, keyset cursor and geojson.
``REPEAT_SHARE`` of the requests repeat an earlier request exactly, as
an interactive session re-issues a query it has seen.

``render_sql`` restates a request as one DuckDB query returning the
page rows plus ``total_count``; the benchmark compares both with what
``find_datasets`` returns.
"""

from __future__ import annotations

import datetime as dt
import random

from ocdb_server_spark.plans.expr_compiler import (
    BinaryOpQuery,
    FieldRangeQuery,
    FieldValueQuery,
    FieldWildcardQuery,
    PhraseQuery,
    QueryParser,
    UnaryOpQuery,
    _auto,
    _like_pattern,
)
from ocdb_server_spark.search import DatasetQuery, SearchColumns

ORDER_BY = ("l_orderkey", "l_linenumber")
# "none" maps to no members: a filter that matches nothing
PGROUPS = {"returned": ("R",), "kept": ("A", "N"), "none": ()}
COLUMNS = SearchColumns(
    x="x",
    y="y",
    t_start="l_shipdate",
    group="l_returnflag",
    order_by=ORDER_BY,
    default_text_fields=("sku",),
    pgroup_map=PGROUPS,
)

# expr forms, filled per request: field:value, ranges (open, quoted
# bound), wildcards (field and fieldless) and AND/OR/NOT
_EXPRS = (
    "l_linestatus:{s}",
    "l_linenumber:{n}",
    "l_quantity:[{a} TO {b}]",
    "l_extendedprice:[* TO {p}]",
    'l_discount:[0.0{d} TO "0.09"]',
    "sku:P{k}*",
    "P{k}?",
    "l_linestatus:{s} AND NOT l_linenumber:{n}",
    "(l_quantity:[1 TO {a}] OR l_quantity:[{b} TO 50]) AND l_tax:[0 TO 0.0{d}]",
    "-l_returnflag:A l_linenumber:[{n} TO *]",
)
_BBOXES = ((20, 10), (90, 45), (300, 150))
_WINDOWS_DAYS = (30, 180, 900)


def _date(days_after_1995: int) -> str:
    return (dt.date(1995, 1, 1) + dt.timedelta(days=days_after_1995)).isoformat()


# Requests come in blocks of BLOCK. Each block holds one fresh request
# per slot of the plans below, each plan shuffled on its own, so every
# seed sends the same mix of paging kinds, filters and page sizes; the
# remaining slots repeat an earlier request. The shares in these plans
# are assumed, not taken from a record of ocdb-server traffic: they make
# every branch of find_datasets run in each block.
_PAGING = ("shallow", "shallow", "shallow", "shallow", "deep", "deep", "keyset", "keyset")
_BBOX = (None, None, None, 0, 1, 2, 0, 1)  # index into _BBOXES
_TIME = (None, None, None, None, 0, 1, 2, 0)  # index into _WINDOWS_DAYS
_GEOJSON = (False, False, False, False, False, True, True, True)
_PGROUP = (None, None, None, None, None, "returned", "kept", "none")
_COUNT = (10, 10, 10, 50, 50, 50, 100, 100)
BLOCK = 10
REPEAT_SHARE = (BLOCK - len(_PAGING)) / BLOCK


def _fresh(r: random.Random, n_orders: int, slot: dict, expr_kind: int) -> DatasetQuery:
    kw: dict = {"count": slot["count"], "geojson": slot["geojson"]}
    if slot["bbox"] is not None:
        w, h = _BBOXES[slot["bbox"]]
        x0 = r.randint(-180, 180 - w)
        y0 = r.randint(-90, 90 - h)
        kw["region"] = (x0, y0, x0 + w, y0 + h)
    if slot["time"] is not None:
        start = r.randint(0, 2300)
        kw["time"] = (_date(start), _date(start + _WINDOWS_DAYS[slot["time"]]))
    if expr_kind < len(_EXPRS):
        a = r.randint(2, 25)
        kw["expr"] = _EXPRS[expr_kind].format(
            s=r.choice("FO"),
            n=r.randint(1, 7),
            a=a,
            b=r.randint(a + 1, 49),
            p=r.randint(5, 100) * 1000,
            d=r.randint(1, 8),
            k=r.randint(1, 199),
        )
    if slot["pgroup"] is not None:
        kw["pgroup"] = [slot["pgroup"]]
    if slot["paging"] == "deep":
        kw["offset"] = r.randint(2_000, 20_000)
    elif slot["paging"] == "keyset":
        kw["after"] = (r.randint(0, n_orders - 1), r.randint(1, 7))
    else:
        kw["offset"] = r.choice((0, 10, 50, 100))
    return DatasetQuery(**kw)


def requests(seed: int, n: int, n_orders: int) -> list[DatasetQuery]:
    """``n`` requests for ``seed``, in blocks of ``BLOCK``: fresh requests
    built from the shuffled plans, then exact repeats of earlier
    requests, shuffled within the block. The expr forms (and no expr)
    take turns across fresh requests."""
    r = random.Random(seed)
    plans = {
        "paging": _PAGING, "bbox": _BBOX, "time": _TIME,
        "geojson": _GEOJSON, "pgroup": _PGROUP, "count": _COUNT,
    }
    out: list[DatasetQuery] = []
    n_fresh = 0
    while len(out) < n:
        cols = {k: r.sample(v, len(v)) for k, v in plans.items()}
        block = []
        for j in range(len(_PAGING)):
            slot = {k: v[j] for k, v in cols.items()}
            block.append(_fresh(r, n_orders, slot, n_fresh % (len(_EXPRS) + 1)))
            n_fresh += 1
        for _ in range(BLOCK - len(_PAGING)):
            block.append(r.choice(out + block))
        r.shuffle(block)
        out.extend(block)
    return out[:n]


def shape(q: DatasetQuery) -> str:
    """Short label of the request's paging/expr shape, for reports."""
    paging = "keyset" if q.after else ("deep" if q.offset >= 1000 else "shallow")
    return f"{paging}{'+geojson' if q.geojson else ''}"


# ------------------------------------------------------------ DuckDB side

BASE_SQL = (
    "SELECT *, l_orderkey % 360 - 180 AS x, (l_partkey * 7) % 180 - 90 AS y,"
    " 'P' || CAST(l_partkey AS VARCHAR) AS sku FROM lineitem"
)


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


class _SqlRenderer:
    """The expr AST as DuckDB SQL, with compile_expr's semantics:
    unquoted values coerce to numbers, NOT treats NULL as false,
    wildcards become LIKE."""

    def __init__(self, default_fields: tuple[str, ...]):
        self.default_fields = default_fields

    def render(self, q) -> str:
        if isinstance(q, PhraseQuery):
            if q.wildcard:
                pat = "%" + _like_pattern(q.text) + "%"
                conds = [f"{f} LIKE {_lit(pat)} ESCAPE '\\'" for f in self.default_fields]
            else:
                conds = [f"contains({f}, {_lit(q.text)})" for f in self.default_fields]
            return "(" + " OR ".join(conds) + ")"
        if isinstance(q, FieldValueQuery):
            v = q.value if q.quoted else _auto(q.value)
            return f"({q.field} = {_lit(v)})"
        if isinstance(q, FieldRangeQuery):
            conds = []
            if q.lo_quoted or q.lo != "*":
                conds.append(f"{q.field} >= {_lit(q.lo if q.lo_quoted else _auto(q.lo))}")
            if q.hi_quoted or q.hi != "*":
                conds.append(f"{q.field} <= {_lit(q.hi if q.hi_quoted else _auto(q.hi))}")
            return "(" + (" AND ".join(conds) or f"{q.field} IS NOT NULL") + ")"
        if isinstance(q, FieldWildcardQuery):
            return f"({q.field} LIKE {_lit(_like_pattern(q.pattern))} ESCAPE '\\')"
        if isinstance(q, UnaryOpQuery):
            child = self.render(q.child)
            return child if q.op == "+" else f"(NOT coalesce({child}, false))"
        if isinstance(q, BinaryOpQuery):
            return f"({self.render(q.left)} {q.op} {self.render(q.right)})"
        raise TypeError(f"unknown query node {q!r}")


def _where(q: DatasetQuery, cols: SearchColumns) -> str:
    conds = ["true"]
    if q.expr:
        conds.append(
            _SqlRenderer(cols.default_text_fields).render(QueryParser.parse(q.expr))
        )
    if q.region is not None:
        x0, y0, x1, y1 = q.region
        conds.append(f"{cols.x} BETWEEN {x0} AND {x1} AND {cols.y} BETWEEN {y0} AND {y1}")
    if q.time is not None:
        start, end = q.time
        conds.append(
            f"{cols.t_start} <= TIMESTAMP '{end}' AND {cols.t_start} >= TIMESTAMP '{start}'"
        )
    if q.pgroup or q.pname:
        members = list(q.pname)
        for g in q.pgroup:
            members.extend(cols.pgroup_map.get(g, ()))
        members = list(dict.fromkeys(members))
        conds.append(
            f"{cols.group} IN ({', '.join(_lit(m) for m in members)})" if members else "false"
        )
    return " AND ".join(conds)


def render_sql(q: DatasetQuery, cols: SearchColumns = COLUMNS) -> str:
    """DuckDB query for the request: the page's rows in page order
    (plus a ``geojson`` column when asked), each carrying the request's
    ``total_count``. An empty page still returns the count via a
    separate ``render_count_sql``."""
    order = ", ".join(cols.order_by)
    where = _where(q, cols)
    if q.after is not None:
        after = []
        eq = []
        for c, v in zip(cols.order_by, q.after):
            after.append("(" + " AND ".join(eq + [f"{c} > {_lit(v)}"]) + ")")
            eq.append(f"{c} = {_lit(v)}")
        page_where = f"{where} AND ({' OR '.join(after)})"
        tail = f"LIMIT {q.count}"
    else:
        page_where = where
        tail = f"LIMIT {q.count} OFFSET {q.offset}"
    geo = (
        ", CAST(json_object('type', 'Point', 'coordinates',"
        f" json_array({cols.x}, {cols.y})) AS VARCHAR) AS geojson"
        if q.geojson
        else ""
    )
    return (
        f"SELECT *{geo} FROM ({BASE_SQL}) WHERE {page_where} ORDER BY {order} {tail}"
    )


def render_count_sql(q: DatasetQuery, cols: SearchColumns = COLUMNS) -> str:
    return f"SELECT count(*) FROM ({BASE_SQL}) WHERE {_where(q, cols)}"
