"""The reference's flagship search path, re-expressed over DataFrames
(SURVEY.md §3.1: `GET /datasets` → RequestParams → DatasetQuery →
QueryParser → QueryConverter → Mongo find/skip/limit/count).

`DatasetQuery` mirrors the reference's typed param object
(`ocdb/core/models/dataset_query.py` [U]); `find_datasets` mirrors
`ocdb/ws/controllers/datasets.py::find_datasets` [U]. Stages 4–6 of
the reference pipeline (parse → compile → execute) collapse into one
Catalyst predicate: the expr compiles to a `Column`
(plans/expr_compiler.py), bbox/time/set filters AND onto it, and
execution is a parquet scan with every predicate pushed down — the
Spark analog of "compile the whole query into the Mongo filter so the
database does the work".

Scale notes: one request is one Spark job. The page query carries an
`Observation` that counts the filtered rows as they flow into the
page's sort, so `total_count` comes back with the page instead of from
a second scan. Pagination is ORDER BY a unique key + LIMIT/OFFSET,
which Spark plans as a partial top-(offset+count) per partition — no
global sort materializes. Deep paging (offset ≫) degrades the same way
it does in any engine; cursor-style paging (`DatasetQuery.after`) costs
the same for every page.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import Column, DataFrame, Observation, functions as F

from ocdb_server_spark.plans.expr_compiler import compile_expr


@dataclass(frozen=True)
class DatasetQuery:
    """Typed query params (reference: DatasetQuery [U]).

    expr     — Lucene-ish query string (field:value, ranges, wildcards,
               AND/OR/NOT), compiled by plans/expr_compiler.
    region   — (x_min, y_min, x_max, y_max) bbox over two numeric
               columns (the reference's lon/lat).
    time     — (start, end) closed interval; rows overlap if their own
               [t_start, t_end] intersects it.
    pgroup   — membership filter (reference: product groups → $in).
    offset/count — pagination (reference: skip/limit).
    """

    expr: str | None = None
    region: tuple[float, float, float, float] | None = None
    time: tuple[str, str] | None = None
    pgroup: list[str] = field(default_factory=list)
    pname: list[str] = field(default_factory=list)
    # Remaining reference params (find_datasets signature [U]) — each a
    # plain column predicate over a SearchColumns binding:
    # mtype    — measurement type; 'all' (default) disables the filter.
    # wlmode   — wavelength mode ('all' | 'multispectral' |
    #            'hyperspectral'); 'all' disables.
    # shallow  — tri-state over a boolean column: 'no' (default)
    #            excludes shallow rows, 'yes' includes them,
    #            'exclusively' returns only them.
    # wdepth   — (min, max) closed range over a numeric depth column.
    # status   — dataset status equality (reference: PUBLISHED etc.).
    # pmode    — product mode; 'contains' (default) applies the
    #            pgroup/pname membership filter, 'dont_apply' skips it
    #            (reference semantics: products not constrained).
    mtype: str = "all"
    wlmode: str = "all"
    shallow: str = "no"
    wdepth: tuple[float, float] | None = None
    status: str | None = None
    pmode: str = "contains"
    offset: int = 0
    count: int = 100
    geojson: bool = False
    # Keyset (seek) cursor — the scale-correct pager (op193's shape):
    # the previous page's LAST row's values for SearchColumns.order_by,
    # as a tuple of the same length. When set, `offset` is ignored and
    # the page is WHERE (order_by tuple) > after ORDER BY order_by
    # LIMIT count — a filter + TakeOrderedAndProject, instead of
    # offset's scan-and-discard (linear in page depth).
    after: tuple | None = None


@dataclass(frozen=True)
class SearchColumns:
    """Column bindings: which DataFrame columns play lon/lat/time/group
    (the reference hard-codes these; a general engine binds them)."""

    x: str | None = None
    y: str | None = None
    t_start: str | None = None
    t_end: str | None = None  # defaults to t_start (point events)
    group: str | None = None
    mtype: str | None = None
    wlmode: str | None = None
    shallow: str | None = None  # boolean column
    wdepth: str | None = None  # numeric depth column
    status: str | None = None
    order_key: str = "id"  # unique key for deterministic paging
    # Full page ordering; defaults to (order_key,). The LAST element
    # must be the unique key — that total order is what makes cursor
    # pages non-overlapping and gap-free under concurrent writes
    # outside the cursor range (op193's contract).
    order_by: tuple[str, ...] | None = None
    default_text_fields: tuple[str, ...] = ()
    # Product-group resolution (reference: ocdb/res/product-groups.json
    # [U] maps group name → field-name list; find_datasets expands
    # pgroup params through it before filtering). Keys are group names,
    # values the member names matched against `group`'s column.
    pgroup_map: dict[str, tuple[str, ...]] = field(default_factory=dict)


@dataclass(frozen=True)
class DatasetQueryResult:
    """Reference: DatasetQueryResult [U] — total hit count + one page,
    echoing the query.

    `total_count` is the whole query's hit count (a keyset cursor pages
    through the hits, it does not redefine them). It is read lazily
    from the count `_observation` attached below the page's sort and
    cursor filter, so fetching `datasets` yields the count at no extra
    job. Read before the page is fetched, or when Catalyst pruned the
    observed node, it costs one `count()` over `_hits`. `_observation`
    is None when the request matches nothing by construction (a
    membership filter whose groups resolve to no members): the count
    is 0 and no job runs."""

    datasets: DataFrame
    query: DatasetQuery
    _hits: DataFrame = field(repr=False, compare=False)
    _observation: Observation | None = field(repr=False, compare=False)

    @cached_property
    def total_count(self) -> int:
        if self._observation is None:
            return 0
        done = self._observation._jo.future().isCompleted
        if not done():
            # Spark completes observations from a QueryExecutionListener
            # after the action returns: drain the bus before deciding.
            sc = self._hits.sparkSession.sparkContext._jsc.sc()
            sc.listenerBus().waitUntilEmpty()
        if done():
            # an empty Row when Catalyst pruned the observed node
            row = self._observation._jo.getRow()
            if row.length() == 1:
                return row.getLong(0)
        return self._hits.count()


def _predicate(q: DatasetQuery, cols: SearchColumns) -> Column:
    pred = F.lit(True)
    if q.expr:
        pred = pred & compile_expr(q.expr, list(cols.default_text_fields))
    if q.region is not None:
        if cols.x is None or cols.y is None:
            raise ValueError("region filter needs SearchColumns.x/y bindings")
        x_min, y_min, x_max, y_max = q.region
        pred = (
            pred
            & F.col(cols.x).between(x_min, x_max)
            & F.col(cols.y).between(y_min, y_max)
        )
    if q.time is not None:
        if cols.t_start is None:
            raise ValueError("time filter needs SearchColumns.t_start binding")
        t_end = cols.t_end or cols.t_start
        start, end = q.time
        # interval overlap: row_start <= q_end AND row_end >= q_start
        pred = pred & (F.col(cols.t_start) <= F.lit(end)) & (
            F.col(t_end) >= F.lit(start)
        )
    if q.mtype != "all":
        if cols.mtype is None:
            raise ValueError("mtype filter needs SearchColumns.mtype binding")
        pred = pred & (F.col(cols.mtype) == q.mtype)
    if q.wlmode != "all":
        if q.wlmode not in ("multispectral", "hyperspectral"):
            raise ValueError(f"invalid wlmode {q.wlmode!r}")
        if cols.wlmode is None:
            raise ValueError("wlmode filter needs SearchColumns.wlmode binding")
        pred = pred & (F.col(cols.wlmode) == q.wlmode)
    if q.shallow != "yes":
        if q.shallow not in ("no", "exclusively"):
            raise ValueError(f"invalid shallow {q.shallow!r}")
        if cols.shallow is not None:
            # tri-state over the boolean binding; with no binding the
            # dataset has no shallow flag and the default is a no-op
            # (reference datasets without the flag are never shallow).
            want = q.shallow == "exclusively"
            pred = pred & (F.coalesce(F.col(cols.shallow), F.lit(False)) == want)
        elif q.shallow == "exclusively":
            raise ValueError("shallow='exclusively' needs SearchColumns.shallow binding")
    if q.wdepth is not None:
        if cols.wdepth is None:
            raise ValueError("wdepth filter needs SearchColumns.wdepth binding")
        lo, hi = q.wdepth
        pred = pred & F.col(cols.wdepth).between(lo, hi)
    if q.status is not None:
        if cols.status is None:
            raise ValueError("status filter needs SearchColumns.status binding")
        pred = pred & (F.col(cols.status) == q.status)
    members = _members(q, cols)
    if members is not None:
        if cols.group is None:
            raise ValueError("pgroup/pname filter needs SearchColumns.group binding")
        # A requested filter whose groups all resolved empty matches
        # NOTHING (not everything) — dropping the predicate would leak
        # the whole table to a typo'd group name.
        pred = pred & (F.col(cols.group).isin(members) if members else F.lit(False))
    return pred


def _members(q: DatasetQuery, cols: SearchColumns) -> list[str] | None:
    """The member names the pgroup/pname filter keeps, deduplicated in
    stable order (a deterministic IN-list in the pushed filter); None
    when the request applies no membership filter."""
    if q.pmode not in ("contains", "dont_apply"):
        # same loud-enum rule as wlmode/shallow: a typo like
        # 'dont-apply' must not silently apply the filter.
        raise ValueError(f"invalid pmode {q.pmode!r}")
    if not (q.pgroup or q.pname) or q.pmode == "dont_apply":
        return None
    members = list(q.pname)
    for g in q.pgroup:
        # Expand groups through the mapping (reference semantics:
        # unknown group → no members, contributes nothing); a group
        # named like a literal member still matches itself when no
        # mapping is configured.
        members.extend(cols.pgroup_map.get(g, () if cols.pgroup_map else (g,)))
    return list(dict.fromkeys(members))


def _keyset_after(order_by: tuple[str, ...], after: tuple) -> Column:
    """Lexicographic `(order_by columns) > after` as the OR-of-ANDs
    row-value predicate (op193's pushed-predicate shape: each leading-
    column strict comparison is a plain range filter Parquet scans can
    push; no row_number, no offset scan-and-discard)."""
    if len(after) != len(order_by):
        raise ValueError(
            f"cursor 'after' has {len(after)} values for {len(order_by)} "
            f"order_by columns {order_by!r}"
        )
    pred = F.lit(False)
    eq = F.lit(True)
    for c, v in zip(order_by, after):
        if v is None:
            # NULL cursor values (the page ended on a NULL sort key —
            # Spark's asc default sorts NULLS FIRST, so NULL is the
            # SMALLEST value in the walk order): 'col > NULL' must
            # mean 'any non-null', and the equality link must be a
            # null test — plain >/== evaluate to NULL and would make
            # every later page empty. With this, cursor-walk visits
            # exactly offset-walk's rows.
            gt = F.col(c).isNotNull()
            eqc = F.col(c).isNull()
        else:
            gt = F.col(c) > F.lit(v)
            eqc = F.col(c) == F.lit(v)
        pred = pred | (eq & gt)
        eq = eq & eqc
    return pred


def find_datasets(
    df: DataFrame, q: DatasetQuery, cols: SearchColumns
) -> DatasetQueryResult:
    """One call = the reference's whole request lifecycle: compile every
    param into a single Catalyst predicate and return the deterministic
    page with the hit count observed on it — one Spark job when the
    caller fetches the page and then reads `total_count`.

    Paging: `q.after` (keyset cursor) beats `q.offset` — the cursor
    tuple compiles into one more filter and the page plans as
    TakeOrderedAndProject, so page N costs the same as page 1.
    total_count is for the WHOLE query either way: the count is
    observed below the cursor filter, so the cursor pages through the
    hits without redefining them."""
    hits = df.filter(_predicate(q, cols))
    observation = None
    if _members(q, cols) != []:
        # The count rides on the page query: a CollectMetrics node over
        # the filtered rows, below the cursor filter and the top-k, so
        # the page's own scan yields it and nothing is persisted. A
        # membership filter that resolved to no members makes the
        # predicate a literal false: Catalyst prunes the scan and the
        # count is 0 by construction.
        observation = Observation()
        hits = hits.observe(observation, F.count(F.lit(1)))
    order_by = cols.order_by or (cols.order_key,)
    if q.after is not None:
        page = (
            hits.filter(_keyset_after(order_by, q.after))
            .orderBy(*order_by)
            .limit(q.count)
        )
    else:
        page = hits.orderBy(*order_by).offset(q.offset).limit(q.count)
    if q.geojson:
        # Reference parity: geojson=True adds each hit's location as a
        # GeoJSON Point (the reference attaches per-dataset lon/lat
        # point lists to the result — SURVEY.md §3.1 step 7). Built as
        # a JSON string column inside codegen; rows without the x/y
        # bindings' columns are a caller error surfaced here.
        if cols.x is None or cols.y is None:
            raise ValueError("geojson output needs SearchColumns.x/y bindings")
        page = page.withColumn(
            "geojson",
            F.to_json(
                F.struct(
                    F.lit("Point").alias("type"),
                    F.array(F.col(cols.x), F.col(cols.y)).alias("coordinates"),
                )
            ),
        )
    return DatasetQueryResult(page, q, _hits=hits, _observation=observation)
