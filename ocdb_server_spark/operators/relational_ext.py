"""Relational-completeness extensions — SURVEY.md §2.13 (op100–op113),
plus the relational analytics built from them.

Pivot/unpivot reshaping, correlated scalar subqueries, and arg-max
aggregation; then TPC-H-shaped reports, funnels and cohorts, rollups,
semi-structured extraction (from_json, VARIANT), salted, bloom-pruned
and binned range joins, keyset pagination, skyline, interval coverage
and attribution. The reference has no analog for any of these (MongoDB-era
search service — SURVEY.md §1.1); all rows are RC: a general engine a
reference user migrates onto needs them, and each maps to a built-in
Catalyst construct (no UDFs, no shuffles beyond the required agg/join
exchange).

100 TB notes per op are in the docstrings; the common theme: pivot and
arg-max stay one partial+final hash aggregate (one shuffle of one row
per group per partition); unpivot is a zero-shuffle per-row expansion;
the correlated subquery decorrelates into an aggregate + equi-join on
the correlation key rather than a per-row re-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ocdb_server_spark.io import load_table, load_tables
from ocdb_server_spark.operators._helpers import (
    SQL_REVENUE_DEC,
    dsum,
    isum,
    revenue_dec,
    sql_dsum,
    sql_isum,
)
from ocdb_server_spark.registry import register

_PRIORITIES = (
    ("1-URGENT", "p1_urgent"),
    ("2-HIGH", "p2_high"),
    ("3-MEDIUM", "p3_medium"),
    ("4-NOT SPECIFIED", "p4_notspec"),
    ("5-LOW", "p5_low"),
)


@register(
    "op100_pivot",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS p1_urgent,
           CAST(COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS p2_high,
           CAST(COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS p3_medium,
           CAST(COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS p4_notspec,
           CAST(COUNT(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS p5_low
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def op100_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per status × priority, priorities as columns.

    Lowered to conditional aggregation (one SUM(CASE) per pivot value)
    rather than `DataFrame.pivot`: even with an explicit value list,
    `.pivot()` plans TWO aggregates — groupBy(status, priority) count,
    exchange, then a `pivotfirst` re-aggregation with a second
    exchange (verified on the executed plan, Spark 4.1). The
    conditional form is one partial+final hash aggregate whose shuffle
    carries 5 counters per (status × input partition) — the plan shape
    the DuckDB `COUNT(*) FILTER` oracle uses, and the one you want at
    100 TB. Pivot values are EXPLICIT: inferring them would add a full
    distinct-collect pass over the table before planning.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        *[
            F.sum(F.when(F.col("o_orderpriority") == v, 1).otherwise(0))
            .cast("bigint")
            .alias(a)
            for v, a in _PRIORITIES
        ]
    )


@register(
    "op101_unpivot",
    oracle="""
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
    """,
)
def op101_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide part metrics → long (partkey, metric, value).

    `DataFrame.unpivot` is a zero-shuffle per-row expansion (an
    `Expand` node feeding the same scan) — at 100 TB it streams
    through whole-stage codegen with no exchange, unlike the UNION-ALL
    oracle formulation which would scan the table once per metric.
    Values are cast to a common DOUBLE up front (unpivot requires one
    value type; the oracle mirrors the cast).
    """
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        ).unpivot(
            ids=["p_partkey"],
            values=["size", "retailprice"],
            variableColumnName="metric",
            valueColumnName="value",
        )
    )


@register(
    "op102_subquery_correlated",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * 2 >
          (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def op102_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders worth more than half their
    customer's lifetime total.

    Expressed as SQL so Catalyst's subquery decorrelation does the
    rewrite: the per-row correlated SUM becomes one hash aggregate on
    the correlation key joined back on o_custkey — i.e. at 100 TB it
    costs one agg + one equi-join shuffle, not a re-scan per outer row
    (SURVEY.md §4.1 "subquery decorrelation — built-in"). Exact
    DECIMAL accumulation keeps the threshold comparison
    order-independent and bit-identical to DuckDB (_helpers.py).
    """
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders o
        WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * 2 >
              (SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
               FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "op103_agg_argmax",
    oracle=f"""
    SELECT c_mktsegment,
           arg_max(c_name, c_acctbal) AS top_customer,
           MAX(c_acctbal) AS top_acctbal,
           arg_min(c_name, c_acctbal) AS bottom_customer,
           {sql_dsum('c_acctbal')} AS seg_balance
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def op103_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max/arg-min: per-segment best/worst customer by balance in
    ONE aggregate (`max_by`/`min_by`), not a window + filter.

    The window formulation (rank per segment, keep rank 1) shuffles
    every row on the partition key and sorts each partition; `max_by`
    is a partial+final aggregate (Spark 4 plans it as SortAggregate —
    its accumulator isn't a fixed-width mutable buffer — but the
    partial phase still runs map-side), so the shuffle carries one
    candidate row per (segment × input partition). At 100 TB that is
    the difference between exchanging the whole table and exchanging
    kilobytes. Acctbal values are unique per segment in the testdata
    (verified at sf0.001/0.01/0.1), so arg-max is deterministic and
    hash-matches DuckDB's arg_max.
    """
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.max_by("c_name", "c_acctbal").alias("top_customer"),
        F.max("c_acctbal").alias("top_acctbal"),
        F.min_by("c_name", "c_acctbal").alias("bottom_customer"),
        dsum("c_acctbal").alias("seg_balance"),
    )


@register(
    "op108_regression_agg",
    oracle="""
    WITH s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(p_size AS DECIMAL(18,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(p_size AS DECIMAL(9,0)) * CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(p_size AS DECIMAL(9,0)) * CAST(p_size AS DECIMAL(9,0))) AS DOUBLE) AS sxx
      FROM part
    )
    SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept,
           CAST(n AS BIGINT) AS n_points
    FROM s
    """,
)
def op108_regression_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares regression of retailprice on size as ONE aggregate
    pass (the moments method: n, Σx, Σy, Σxy, Σx²), not Spark's
    `regr_slope`/`regr_intercept` — those accumulate doubles in
    partition order, which is nondeterministic across runs and engines.
    The moments are exact DECIMAL sums (order-independent, bit-stable —
    _helpers.py discipline); the slope/intercept arithmetic then runs
    in doubles on identical inputs in both engines. One map-side
    partial + one exchange of 5 numbers regardless of table size."""
    p = load_table(spark, sf_dir, "part")
    moments = p.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("p_size").cast("decimal(18,0)")).cast("double").alias("sx"),
        F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum(
            F.col("p_size").cast("decimal(9,0)")
            * F.col("p_retailprice").cast("decimal(12,2)")
        )
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("p_size").cast("decimal(9,0)") * F.col("p_size").cast("decimal(9,0)"))
        .cast("double")
        .alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return moments.select(
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        F.col("n").cast("bigint").alias("n_points"),
    )


@register(
    "op109_date_spine_gaps",
    oracle="""
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-06-30',
                                         INTERVAL 1 DAY)) AS DATE) AS d
    ),
    od AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
    SELECT spine.d AS missing_date
    FROM spine LEFT JOIN od ON spine.d = od.d
    WHERE od.d IS NULL
    """,
)
def op109_date_spine_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine generation + gap detection: materialize the calendar
    (sequence → explode, no source table) and anti-join the distinct
    order dates to find days with NO orders — the time-series
    completeness check every reporting pipeline runs.

    Scale shape: the spine is O(days) rows built driver-free from a
    one-row sequence; the distinct-dates side aggregates BEFORE the
    join, so the anti-join probes days × 1 — never the orders table.
    The spine side is tiny and broadcasts."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-06-30").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("missing_date")
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date").alias("d"))
        .distinct()
    )
    return spine.join(od, spine.missing_date == od.d, "left_anti")


@register(
    "op110_histogram_bins",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def op110_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (bin = floor(x/width)).

    The binning expression is per-row arithmetic fused into the scan;
    the aggregate shuffles one row per (bin × partition) — a histogram
    over 100 TB costs one scan + a kilobyte exchange. Bin ids from
    floor-division are bit-stable across engines (same IEEE divide and
    floor on identical doubles), unlike width_bucket variants whose
    edge handling differs by dialect."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("bin")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@register(
    "op111_gaps_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
      FROM orders
    ),
    g AS (
      SELECT o_custkey, d,
             CAST(d - (row_number() OVER (PARTITION BY o_custkey ORDER BY d))::INT AS DATE) AS grp
      FROM d
    )
    SELECT o_custkey,
           CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_islands,
           CAST(MAX(cnt) AS BIGINT) AS longest_streak_days
    FROM (SELECT o_custkey, grp, COUNT(*) AS cnt FROM g GROUP BY o_custkey, grp)
    GROUP BY o_custkey
    """,
)
def op111_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per customer, the number of runs of
    CONSECUTIVE order days and the longest streak — the classic
    "consecutive activity" analysis (row_number-difference grouping).

    Scale shape: one window partitioned by customer (independent sorts
    of small per-key slices, never global), then two hash aggregates;
    everything after the distinct is keyed by customer so the three
    shuffles all hash-partition on the same key and AQE/exchange reuse
    collapses them on a cluster. Batch counterpart of the session
    windows in op71 (30-min gap sessionization of events)."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    ).distinct()
    w = W.partitionBy("o_custkey").orderBy("d")
    g = d.select(
        "o_custkey",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp"),
    )
    runs = g.groupBy("o_custkey", "grp").agg(F.count("*").alias("cnt"))
    return runs.groupBy("o_custkey").agg(
        F.countDistinct("grp").cast("bigint").alias("n_islands"),
        F.max("cnt").cast("bigint").alias("longest_streak_days"),
    )


@register(
    "op112_salted_topk",
    oracle="""
    SELECT user_id, event_id, value
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rn
      FROM events
    )
    WHERE rn <= 3
    """,
)
def op112_salted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof top-3 events per user via the two-phase salted window
    (functions/skew.py): phase 1 ranks within (user, partition-salt) so
    a hot key's rows split across up to 16 tasks; phase 2 re-ranks the
    ≤ 3×16 survivors. Row-identical to the direct single-window top-k
    (the oracle) — but at 100 TB no task ever sorts a whole hot key's
    rows. events.user_id is uniform in the testdata; the op exists to
    keep the skew path exercised and hash-checked, not because this
    data needs it (SURVEY.md §4.2.2)."""
    from ocdb_server_spark.functions.skew import salted_topk_per_key

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    return salted_topk_per_key(
        ev,
        keys=["user_id"],
        order_by=[F.col("value").desc(), F.col("event_id")],
        k=3,
    )


@register(
    "op113_bool_aggs",
    oracle="""
    SELECT c_mktsegment,
           bool_and(c_acctbal > 0) AS all_positive,
           bool_or(c_acctbal > 9000) AS any_rich,
           CAST(COUNT(*) FILTER (c_acctbal < 0) AS BIGINT) AS n_negative,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def op113_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates: universal/existential quantifiers and a
    filtered count per group (`bool_and`/`bool_or`/`count_if`) — the
    assertion-style aggregations data-quality checks run (op84's rule
    semantics folded to one row per group). Single partial+final hash
    aggregate; the shuffle carries 2 booleans + 2 counters per group
    per partition."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.bool_and(F.col("c_acctbal") > 0).alias("all_positive"),
        F.bool_or(F.col("c_acctbal") > 9000).alias("any_rich"),
        F.count_if(F.col("c_acctbal") < 0).cast("bigint").alias("n_negative"),
        F.count("*").cast("bigint").alias("n"),
    )


# --------------------------------------------------------------------------
# op114: TPC-H Q3 shape — the BASELINE.md "Q3-style join+agg+top-10"
# yardstick (54.9 ms DuckDB at sf0.1) previously had no operator.
# --------------------------------------------------------------------------

_OP114_SQL = f"""
SELECT l_orderkey,
       CAST(SUM({SQL_REVENUE_DEC}) AS DOUBLE) AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("op114_join_topk_revenue", oracle=_OP114_SQL)
def op114_join_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: segment-filtered customer ⋈ orders ⋈ lineitem,
    revenue per order, top-10. (The testdata's orders table has no
    o_shippriority column, so the grouping is (l_orderkey,
    o_orderdate).) Plan shape at scale: both joins shuffle on the
    order key after the segment/date filters push to the scans; the
    top-10 is TakeOrderedAndProject (per-partition heap + driver merge
    of 10-row heads, never a global sort). Revenue aggregates in exact
    decimal (order-independent) and surfaces as double; the orderkey
    tiebreak makes the returned SET deterministic."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue_dec()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# op121: sessionized event funnel
# --------------------------------------------------------------------------

_SESSION_GAP_SEC = 24 * 3600

_OP121_SQL = f"""
WITH s AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       > {_SESSION_GAP_SEC * 1_000_000}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM s),
f AS (
  SELECT user_id, sid,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
  FROM sess GROUP BY user_id, sid)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) FILTER (t_view IS NOT NULL) AS BIGINT) AS n_view,
       CAST(COUNT(*) FILTER (t_click > t_view) AS BIGINT) AS n_view_click,
       CAST(COUNT(*) FILTER (t_buy > t_click AND t_click > t_view) AS BIGINT)
         AS n_full_funnel
FROM f
"""


@register("op121_session_funnel", oracle=_OP121_SQL)
def op121_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize the event stream by inactivity gap (24 h — the
    testdata's users act on a daily cadence) and report the
    view → click → purchase conversion funnel over first-touch
    timestamps per session. Session assignment is the gaps-and-islands
    cumsum (op111's pattern) partitioned by user — all three windows
    and the session aggregate share ONE shuffle on user_id (Catalyst
    reuses the partitioning), then a single-row global rollup. The
    batch twin of op71's streaming session windows; at 100 TB this is
    the canonical "shuffle once by entity, window within" shape."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # µs-precision gap on both engines (a seconds cast would truncate
    # and flip strict > comparisons that land within 1 s of the gap).
    gap_ok = (
        F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        > _SESSION_GAP_SEC * 1_000_000
    )
    new_s = F.when(
        F.lag("ts").over(w).isNull() | gap_ok, F.lit(1)
    ).otherwise(F.lit(0))
    cum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sess = e.withColumn("new_s", new_s).withColumn("sid", F.sum("new_s").over(cum))

    def first_ts(etype, name):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts"))).alias(name)

    f = sess.groupBy("user_id", "sid").agg(
        first_ts("view", "t_view"),
        first_ts("click", "t_click"),
        first_ts("purchase", "t_buy"),
    )
    return f.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.count(F.when(F.col("t_view").isNotNull(), 1))
        .cast("bigint")
        .alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1))
        .cast("bigint")
        .alias("n_view_click"),
        F.count(
            F.when(
                (F.col("t_buy") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        )
        .cast("bigint")
        .alias("n_full_funnel"),
    )


# --------------------------------------------------------------------------
# op125: cohort retention
# --------------------------------------------------------------------------

_OP125_SQL = """
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
  FROM events)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.act_week) / 7 AS BIGINT)
         AS week_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN first_seen f ON a.user_id = f.user_id
GROUP BY f.cohort_week, week_offset
"""


@register("op125_cohort_retention", oracle=_OP125_SQL)
def op125_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, and
    for each later week the count still active — the standard product
    retention triangle. Both date_trunc('week') (Monday start in Spark
    and DuckDB) and the week offset (integer day arithmetic / 7) are
    exact. Shape: two aggregates over ONE user_id-partitioned pass
    (first-seen min + distinct active weeks) joined on user_id, then a
    small cohort×offset rollup; nothing touches raw event rows after
    the first aggregation, so the retention triangle costs O(users ×
    active-weeks), not O(events), downstream."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("act_week")
    ).distinct()
    j = activity.join(first_seen, "user_id")
    offset = (
        F.datediff(F.col("act_week"), F.col("cohort_week")) / 7
    ).cast("bigint")
    return (
        j.select("cohort_week", offset.alias("week_offset"), "user_id")
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


# --------------------------------------------------------------------------
# op126: count-distinct rollup (pre-aggregated distinct pairs)
# --------------------------------------------------------------------------

_OP126_SQL = """
WITH pairs AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events),
daily AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS daily_users
  FROM pairs GROUP BY event_type, day)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(d.daily_users) AS BIGINT) AS sum_daily_distinct,
       t.total_users
FROM daily d
JOIN (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS total_users
      FROM events GROUP BY event_type) t
  ON d.event_type = t.event_type
GROUP BY d.event_type, t.total_users
"""


@register("op126_distinct_rollup", oracle=_OP126_SQL)
def op126_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-distinct re-aggregation pattern: daily distinct users
    per event type, rolled up alongside the true month-level distinct
    (which is NOT the sum of dailies — the output shows both, the
    classic dashboard trap). Scale shape: ONE distinct pre-aggregation
    on (type, day, user) — a map-side-combinable group-by — feeds the
    daily counts, so raw events are touched once; the exact total
    distinct reuses the same exchange. This is the exact-arithmetic
    baseline op20's HLL sketch approximates at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    pairs = e.select(
        "event_type", F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    daily = pairs.groupBy("event_type", "day").agg(
        F.count("*").cast("bigint").alias("daily_users")
    )
    total = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("total_users")
    )
    return (
        daily.join(total, "event_type")
        .groupBy("event_type", "total_users")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum("daily_users").cast("bigint").alias("sum_daily_distinct"),
        )
        .select("event_type", "n_days", "sum_daily_distinct", "total_users")
    )


# --------------------------------------------------------------------------
# op129: month-over-month growth
# --------------------------------------------------------------------------

_OP129_SQL = """
WITH m AS (
  SELECT n_name,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name, month)
SELECT n_name, month, revenue,
       lag(revenue) OVER (PARTITION BY n_name ORDER BY month) AS prev_revenue,
       (revenue - lag(revenue) OVER (PARTITION BY n_name ORDER BY month))
         / lag(revenue) OVER (PARTITION BY n_name ORDER BY month) AS mom_pct
FROM m
"""


@register("op129_mom_growth", oracle=_OP129_SQL)
def op129_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per nation — the standard
    trend-report shape. Monthly revenue aggregates in exact decimal
    and surfaces as double, so the lag and the growth ratio are single
    IEEE ops on identical inputs in both engines (first month per
    nation is NULL). Scale shape: one shuffled agg down to
    nation×month grain, then a window over that tiny frame — the
    window never sees order rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )
    w = W.partitionBy("n_name").orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "n_name",
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("mom_pct"),
    )


# --------------------------------------------------------------------------
# op134: TPC-H Q14 shape — promo revenue share per ship month
# --------------------------------------------------------------------------

_OP134_SQL = f"""
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN {SQL_REVENUE_DEC}
                     ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE) AS promo_revenue,
       CAST(SUM({SQL_REVENUE_DEC}) AS DOUBLE) AS total_revenue,
       CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN {SQL_REVENUE_DEC}
                     ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
         / CAST(SUM({SQL_REVENUE_DEC}) AS DOUBLE) AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY ship_month
"""


@register("op134_promo_revenue", oracle=_OP134_SQL)
def op134_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: promo-part revenue share per ship month.

    Plan at scale: part is the small dim → broadcast, so lineitem never
    shuffles for the join; the month agg is partial+final hash agg on
    ~84 month keys. Revenue accumulates in exact decimal (order-
    independent); the share is one double divide of two exact sums —
    bit-identical both engines, no rounding guard needed."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", revenue_dec()).otherwise(
        F.lit(0).cast("decimal(17,4)")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(revenue_dec()).cast("double").alias("total_revenue"),
        )
        .select(
            "ship_month",
            "promo_revenue",
            "total_revenue",
            (F.col("promo_revenue") / F.col("total_revenue")).alias("promo_share"),
        )
    )


# --------------------------------------------------------------------------
# op138: TPC-H Q18 shape — large-quantity orders and their customers
# --------------------------------------------------------------------------

_Q18_QTY = 200

_OP138_SQL = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > {_Q18_QTY})
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


@register("op138_large_orders", oracle=_OP138_SQL)
def op138_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: orders whose total quantity exceeds the
    threshold, joined back to orders+customer, top-20 by price.

    Plan at scale: the lineitem agg shuffles once on l_orderkey and the
    HAVING prunes ~97% of groups BEFORE the joins, so the orders join
    sees only the big-order keys; customer joins via broadcast-sized
    key set after AQE. Top-20 is TakeOrderedAndProject with o_orderkey
    tiebreak (deterministic set, never a global sort). Quantity sums
    in exact decimal."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qdec"))
        .filter(F.col("qdec") > _Q18_QTY)
        .select("l_orderkey", F.col("qdec").cast("double").alias("sum_qty"))
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# op140: TPC-H Q10 shape — revenue lost to returns, per customer
# --------------------------------------------------------------------------

_OP140_SQL = f"""
SELECT c_custkey, c_name, n_name,
       CAST(SUM({SQL_REVENUE_DEC}) AS DOUBLE) AS lost_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""


@register("op140_returned_items", oracle=_OP140_SQL)
def op140_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: revenue lost to returned items ('R' flag) per
    customer with nation name, top-20.

    Plan at scale: the returnflag filter pushes to the lineitem scan
    (~1/3 survives), lineitem⋈orders shuffles on the order key,
    customer and nation broadcast; top-20 is TakeOrderedAndProject
    with c_custkey tiebreak. Revenue in exact decimal."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue_dec()).cast("double").alias("lost_revenue"))
        .orderBy(F.col("lost_revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# op149: rolling 7-day distinct users (explode, not range-join)
# --------------------------------------------------------------------------

_OP149_SQL = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
bounds AS (SELECT MAX(day) AS max_day FROM du),
contrib AS (
  SELECT du.day + CAST(o.o AS INTEGER) AS spine_day, du.user_id
  FROM du, UNNEST(range(0, 7)) AS o(o))
SELECT spine_day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS rolling_users
FROM contrib, bounds
WHERE spine_day <= max_day
GROUP BY spine_day
"""


@register("op149_rolling_distinct_users", oracle=_OP149_SQL)
def op149_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling distinct users per day — the DAU/WAU
    engagement series, and the classic op a sliding window CANNOT
    express (count distinct isn't windowable).

    Scale shape: a range join (day BETWEEN s-6 AND s) would plan as a
    nested-loop at any scale; instead each distinct (day, user) pair
    EXPLODES into the ≤7 spine days it contributes to, turning the
    range join into an equi-groupBy. Shuffles carry (day,user) pairs
    (pre-deduped map-side), never raw events. The max-day bound
    broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    bounds = du.agg(F.max("day").alias("max_day"))
    contrib = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"), "day", "user_id"
    ).select(F.date_add("day", F.col("o")).alias("spine_day"), "user_id")
    return (
        contrib.join(F.broadcast(bounds))
        .filter(F.col("spine_day") <= F.col("max_day"))
        .groupBy("spine_day")
        .agg(F.count_distinct("user_id").alias("rolling_users"))
    )


# --------------------------------------------------------------------------
# op150: schema-on-read JSON struct parse (from_json, not per-path extract)
# --------------------------------------------------------------------------

_OP150_SQL = """
SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
WHERE json_valid(props)
GROUP BY k
"""


@register("op150_json_struct_parse", oracle=_OP150_SQL)
def op150_json_struct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON: parse the props column ONCE into a typed
    struct with `from_json` and aggregate on the parsed field — the
    production path when several fields are consumed (op65's
    get_json_object re-parses the string per extracted path; from_json
    amortizes one parse across the struct).

    min/max on doubles are exact comparisons (no sum-order risk).
    Zero shuffle before the k-grain agg."""
    ev = load_table(spark, sf_dir, "events")
    # from_json in PERMISSIVE mode returns a non-null struct with null
    # fields for malformed JSON, so p.isNotNull() would NOT mirror the
    # oracle's json_valid(props): invalid rows would land in the k=NULL
    # group on Spark but be excluded by DuckDB. try_parse_json proves
    # the whole document parsed (NULL for invalid JSON).
    parsed = ev.select(
        F.from_json("props", "k INT").alias("p"), "value"
    ).filter(F.expr("try_parse_json(props) IS NOT NULL"))
    return parsed.groupBy(F.col("p.k").alias("k")).agg(
        F.count("*").alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# --------------------------------------------------------------------------
# op153: VariantType shredding (Spark 4 semi-structured native type)
# --------------------------------------------------------------------------

_OP153_SQL = """
SELECT CAST(CAST(json_extract(props, '$.k') AS BIGINT) // 25 AS BIGINT) AS k_quartile,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
FROM events
GROUP BY k_quartile
"""


@register("op153_variant_shred", oracle=_OP153_SQL)
def op153_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: parse_json
    ONCE into the binary variant encoding, then typed variant_get
    extraction — the engine-native path for open-schema JSON (vs
    op65's per-path string extract and op150's fixed-schema from_json;
    variant keeps fields the schema didn't anticipate queryable).

    The variant column itself never leaves the plan (binary type would
    trip the gate canonicalizer) — only typed scalars surface."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(F.parse_json("props").alias("v"))
    k = F.expr("cast(variant_get(v, '$.k', 'bigint') as bigint)")
    return (
        v.select(k.alias("k"))
        .groupBy(F.floor(F.col("k") / 25).cast("bigint").alias("k_quartile"))
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


# --------------------------------------------------------------------------
# op167: salted skewed join — same answer, no hot partition
# --------------------------------------------------------------------------

_SALT = 8

_OP167_SQL = f"""
SELECT c.c_mktsegment AS mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_isum("o.o_totalprice")} AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
"""


@register("op167_salted_join", oracle=_OP167_SQL)
def op167_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-neutralized fact⋈dim join: each orders row picks a
    deterministic salt in [0,8); the customer side is exploded 8× (one
    replica per salt); the join key becomes (custkey, salt), so a hot
    customer's rows spread across 8 reducers instead of one. The
    oracle is the PLAIN join — proving salting changes the physical
    distribution and nothing else.

    When to use at 100 TB: the dim is too big to broadcast and one key
    owns a large share of the fact (AQE's skew-join split handles sort-
    merge skew, but not a skewed SHUFFLED hash join or pre-Spark-3
    engines; explicit salting always works). Cost: dim×8 replication —
    cheap when |dim| ≪ |fact|, which is the skew regime anyway.
    Cf. op112, which salts a global aggregation instead."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(_SALT)).cast("int")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.explode(F.expr(f"sequence(0, {_SALT - 1})")).alias("salt"),
        )
        .withColumn("salt", F.col("salt").cast("int"))
    )
    # shuffle_hash hint: at test scale Catalyst would broadcast the
    # 8×-replicated dim, which is the case where you would NOT salt at
    # all — the hint pins the shuffled-join physical shape the pattern
    # exists for (dim too big to broadcast), like op41's hint demo.
    return (
        o.join(c.hint("shuffle_hash"), (o.o_custkey == c.c_custkey) & (o.salt == c.salt))
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            isum("o_totalprice").alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# op171: algebraic rollup merge — re-aggregate from partials, not raws
# --------------------------------------------------------------------------

_OP171_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         COUNT(*) AS cnt,
         SUM(CAST(FLOOR(value * 1000.0 + 0.5) AS BIGINT)) AS sum_mv,
         MIN(value) AS min_v, MAX(value) AS max_v
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(cnt) AS BIGINT) AS n_events,
       CAST(SUM(sum_mv) AS DOUBLE) / (1000 * SUM(cnt)) AS avg_value,
       MIN(min_v) AS min_value, MAX(max_v) AS max_value
FROM daily GROUP BY user_id
"""


@register("op171_rollup_merge", oracle=_OP171_SQL)
def op171_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level algebraic re-aggregation: daily per-user partials
    (count / scaled-int sum / min / max) merged into per-user totals
    using ONLY the partials — sum-of-sums, min-of-mins, count-of-
    counts, avg recomputed from merged sum and count. The discipline
    that makes incremental 100 TB pipelines possible: store daily
    partials once, answer weekly/monthly/all-time from them, never
    re-scan raw events (op166 is the sketch flavor; this is the exact
    algebraic flavor — note AVG itself is NOT mergeable, which is why
    the partial carries sum+count instead).

    Scale: both levels are hash aggs with map-side partials; level 2's
    input is |users × days| rows, already tiny relative to events."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum(F.expr("cast(floor(value * 1000.0D + 0.5D) as bigint)")).alias("sum_mv"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    return daily.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("cnt").cast("bigint").alias("n_events"),
        (F.sum("sum_mv").cast("double") / (F.sum("cnt") * 1000)).alias("avg_value"),
        F.min("min_v").alias("min_value"),
        F.max("max_v").alias("max_value"),
    )


# --------------------------------------------------------------------------
# op173: referential-integrity audit — anti-join orphan counts
# --------------------------------------------------------------------------

_OP173_SQL = """
SELECT 'lineitem_without_order' AS violation,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'order_without_customer' AS violation,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem_without_part' AS violation,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem l ANTI JOIN part p ON l.l_partkey = p.p_partkey
"""


@register("op173_ri_audit", oracle=_OP173_SQL)
def op173_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: count
    orphaned fact rows (lineitems without an order / orders without a
    customer / lineitems without a part) via LEFT ANTI joins — the
    data-quality gate every warehouse load runs before publishing a
    snapshot (op12 covers null semantics; this covers cross-table
    consistency). Expected all-zeros on the synthetic data — the
    audit's value is the plan, and zero IS the assertion.

    Scale: each anti join broadcasts nothing here by hint-freedom —
    Catalyst picks broadcast for the key-only dim projections
    (orders/customer/part key columns prune to single-column scans);
    counts are map-side-partial aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")

    def orphans(fact, dim, cond, name):
        return fact.join(dim, cond, "left_anti").agg(
            F.lit(name).alias("violation"),
            F.count("*").cast("bigint").alias("n_rows"),
        )

    return (
        orphans(li, o, li.l_orderkey == o.o_orderkey, "lineitem_without_order")
        .unionAll(orphans(o, c, o.o_custkey == c.c_custkey, "order_without_customer"))
        .unionAll(orphans(li, p, li.l_partkey == p.p_partkey, "lineitem_without_part"))
    )


# --------------------------------------------------------------------------
# op177: LATERAL correlated subquery — per-row dependent top-k
# --------------------------------------------------------------------------

_OP177_SQL = """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
"""


@register("op177_lateral_topk", oracle=_OP177_SQL)
def op177_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: each BUILDING-segment customer's
    top-2 orders by value — the per-row dependent-subquery surface
    (SQL:1999 LATERAL, Spark 3.2+/DuckDB native). op102 proves scalar
    correlation; this proves TABLE correlation with ORDER BY + LIMIT
    inside the lateral body, the shape analysts write naturally
    instead of the row_number idiom (op42 is the window twin).

    Identical SQL text runs on both engines. Scale: Catalyst
    decorrelates the lateral into a join + per-key WindowGroupLimit
    (NOT a re-scan of orders per customer row), so at 100 TB it costs
    one shuffle on the correlation key — same plan family as op42;
    the point is the surface comes for free."""
    from ocdb_server_spark.io import load_tables

    load_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_OP177_SQL)


# --------------------------------------------------------------------------
# op182: runtime bloom-filter join pruning
# --------------------------------------------------------------------------

_OP182_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
"""


@register("op182_bloom_join_prune", oracle=_OP182_SQL)
def op182_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim join where a runtime BLOOM FILTER built from the
    selective dim side pre-filters the fact scan — Spark's
    InjectRuntimeFilter rule (JVM-side: bloom_filter_agg on the
    creation side, might_contain on the application side), the design
    the round-3/4 notes asked for instead of the driver-side
    df.stat.bloomFilter. At 100 TB this is the shuffle-join
    counterpart of op172's DPP: the fact side drops ~4/5 of its rows
    BEFORE the exchange, paying one xxhash64+bitset probe per row.

    Two runtime confs are pinned while THIS plan optimizes, then
    restored: the app-side scan-size threshold drops to 0 (upstream
    requires ≥10 GB on the probe side — trivially true at production
    scale, never at test scale) and auto-broadcast is disabled (the
    rule correctly skips broadcastable builds, and at test scale
    everything is broadcastable — at 100 TB a season's orders are
    not). The optimized+physical plans are forced eagerly inside the
    conf scope (QueryExecution caches them), so the returned frame
    keeps its bloom filter wherever it executes;
    tests/test_relational_ext.py asserts might_contain + bloom_filter_agg
    in the plan and that the confs are restored."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderstatus")
    )
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_items"),
                F.expr(
                    "cast(sum(cast(l_quantity as decimal(18,2))) as double)"
                ).alias("sum_qty"),
            )
        )
        # force optimization + physical planning NOW, inside the conf
        # scope — QueryExecution caches both, so later actions reuse them
        out._jdf.queryExecution().executedPlan()
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    return out


# --------------------------------------------------------------------------
# op184: binned range join — overlapping intervals without a theta join
# --------------------------------------------------------------------------

_BIN_SEC = 21_600          # 6h bins
_WIN_SEC = 43_200          # 12h windows, sliding every 6h (2 bins each)

_OP184_SQL = """
WITH w AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                TIMESTAMP '2024-01-31 00:00:00',
                                INTERVAL 6 HOUR)) AS ws
),
j AS (
  SELECT w.ws, e.value
  FROM w JOIN (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events) e
    ON e.ts >= w.ws AND e.ts < w.ws + INTERVAL 12 HOUR
)
SELECT ws AS window_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM j GROUP BY ws
"""


@register("op184_range_join_binned", oracle=_OP184_SQL)
def op184_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join of events against OVERLAPPING 12h windows (sliding
    every 6h), executed as an EQUI-join on arithmetic bins — the
    bucketized range-join pattern op36's docstring promises for the
    case where neither side broadcasts. Each window spans exactly two
    6h bins; exploding the window side into its bin keys turns the
    interval predicate into `event.bin = window.bin` plus a residual
    range check, so Catalyst plans a hash/merge join on the bin — no
    BroadcastNestedLoopJoin, no per-row interval comparison against
    every window. (For these aligned windows the residual prunes
    nothing — bins nest exactly; for arbitrary intervals the same
    plan works and the residual does the trimming. The bin width is
    the classic tuning knob: ≈ the median interval length.)

    Scale: the shuffle key is the bin; window-side rows are
    2 × #windows (metadata-sized). The oracle states the same join
    as the naive range predicate — same rows, quadratic plan — which
    doubles as the semantic proof that binning loses nothing."""
    from ocdb_server_spark.operators.streaming_batch import _events
    from ocdb_server_spark.operators._helpers import dsum

    ev = _events(spark, sf_dir).select(
        "ts",
        "value",
        (F.unix_timestamp("ts").cast("bigint") / _BIN_SEC)
        .cast("bigint")
        .alias("bin"),
    )
    windows = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit("2024-01-01 00:00:00").cast("timestamp"),
                    F.lit("2024-01-31 00:00:00").cast("timestamp"),
                    F.expr("INTERVAL 6 HOURS"),
                )
            ).alias("ws")
        )
        .select(
            "ws",
            F.explode(
                F.array(
                    (F.unix_timestamp("ws").cast("bigint") / _BIN_SEC).cast(
                        "bigint"
                    ),
                    (F.unix_timestamp("ws").cast("bigint") / _BIN_SEC).cast(
                        "bigint"
                    )
                    + 1,
                )
            ).alias("bin"),
        )
    )
    j = ev.join(windows, "bin").filter(
        (F.col("ts") >= F.col("ws"))
        & (F.col("ts") < F.col("ws") + F.expr(f"INTERVAL {_WIN_SEC} SECONDS"))
    )
    return j.groupBy(F.col("ws").alias("window_start")).agg(
        F.count("*").alias("n"), dsum("value", 18, 6).alias("sum_value")
    )


# --------------------------------------------------------------------------
# op193: keyset (seek) pagination — the scale-correct page fetch
# --------------------------------------------------------------------------

# cursor = last (o_orderdate, o_orderkey) of the previous page — the
# values a real API echoes back as its page token.
_KS_CURSOR_DATE = "1995-06-01 00:00:00"
_KS_CURSOR_KEY = 42
_KS_PAGE = 20

_OP193_SQL = f"""
SELECT o_orderkey, o_orderdate, o_totalprice
FROM orders
WHERE (o_orderdate > TIMESTAMP '{_KS_CURSOR_DATE}')
   OR (o_orderdate = TIMESTAMP '{_KS_CURSOR_DATE}' AND o_orderkey > {_KS_CURSOR_KEY})
ORDER BY o_orderdate, o_orderkey
LIMIT {_KS_PAGE}
"""


@register("op193_keyset_pagination", oracle=_OP193_SQL)
def op193_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-based) pagination: fetch the page AFTER a cursor
    row by filtering on the sort key instead of skipping rows — the
    scale-correct twin of op52's LIMIT/OFFSET (offset N scans and
    discards N rows on every page, so page latency grows linearly
    into deep result sets; the reference's dataset-search pagination
    has exactly this failure mode at depth). The cursor tuple
    predicate pushes to the parquet scan (o_orderdate range lands in
    PushedFilters), and the page plans as TakeOrderedAndProject —
    per-partition top-20 then merge, NEVER a global sort or a
    skip-scan. Same row-order contract as op52 (total order via the
    unique key tiebreak), so pages never duplicate or drop rows
    between requests even under concurrent inserts outside the
    cursor range."""
    o = load_table(spark, sf_dir, "orders")
    cur_d = F.lit(_KS_CURSOR_DATE).cast("timestamp")
    after = (F.col("o_orderdate") > cur_d) | (
        (F.col("o_orderdate") == cur_d)
        & (F.col("o_orderkey") > _KS_CURSOR_KEY)
    )
    return (
        o.filter(after)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(_KS_PAGE)
    )


# --------------------------------------------------------------------------
# op223: 2-D skyline (Pareto frontier) — partial skylines + merge
# --------------------------------------------------------------------------

_OP223_SQL = """
SELECT a.o_orderkey, a.o_totalprice, a.o_orderdate
FROM orders a
WHERE NOT EXISTS (
  SELECT 1 FROM orders b
  WHERE b.o_totalprice >= a.o_totalprice
    AND b.o_orderdate >= a.o_orderdate
    AND (b.o_totalprice > a.o_totalprice OR b.o_orderdate > a.o_orderdate)
)
"""


def _skyline_kernel(it):
    """Vectorized 2-D skyline of (price, date), both maximized: sort
    by price desc / date desc; a row survives iff its date equals its
    price-group's max AND strictly exceeds the best date seen in any
    strictly-higher price group. Equal (price, date) ties all survive
    (neither strictly dominates)."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        if len(pdf) == 0:
            continue
        price = pdf["o_totalprice"].to_numpy()
        date = pdf["o_orderdate"].to_numpy().astype("datetime64[us]").astype(np.int64)
        order = np.lexsort((-date, -price))
        p, d = price[order], date[order]
        new_group = np.concatenate(([True], p[1:] != p[:-1]))
        grp_id = np.cumsum(new_group) - 1
        cm = np.maximum.accumulate(d)
        last_of_group = np.where(np.concatenate((new_group[1:], [True])))[0]
        best_before_group = np.concatenate(
            ([np.iinfo(np.int64).min], cm[last_of_group[:-1]])
        )
        best_before = best_before_group[grp_id]
        group_max = d[np.where(new_group)[0]][grp_id]
        survive = (d == group_max) & (d > best_before)
        keep = order[survive]
        yield pdf.iloc[keep][["o_orderkey", "o_totalprice", "o_orderdate"]]


@register("op223_skyline", oracle=_OP223_SQL)
def op223_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier) of orders maximizing
    (o_totalprice, o_orderdate) — the multi-criteria "best trade-off"
    query (Börzsönyi 2001), a relational surface neither engine has a
    native operator for.

    Distributed algorithm: the skyline is MERGEABLE — phase 1 computes
    each partition's partial skyline with a fully vectorized
    sort + strict-prefix-cummax numpy kernel (O(n log n), no Python
    row loop), phase 2 re-runs the SAME kernel over the union of
    partials in one task. Correct because every dominator of a
    non-skyline point can be chosen from the global skyline, and
    global skyline points survive any partition's partial pass — so
    dominated points cannot sneak through and skyline points cannot
    be lost. At 100 TB the shuffle carries only partial-skyline rows
    (typically O(distinct prices per partition) — tiny vs the scan);
    the final pass is one task over frontier candidates.

    Certified against the oracle's QUADRATIC NOT-EXISTS restatement —
    the naive semantics, independently evaluated, must equal the
    two-phase algorithm exactly (dominance ties included: equal
    (price, date) rows all survive, neither strictly dominates).
    Comparisons only — no arithmetic — so doubles/timestamps need no
    quantization."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    schema = "o_orderkey long, o_totalprice double, o_orderdate timestamp"
    partials = o.mapInPandas(_skyline_kernel, schema)
    return partials.repartition(1).mapInPandas(_skyline_kernel, schema)


# --------------------------------------------------------------------------
# op233: interval coverage — merge overlapping spans, exact covered time
# --------------------------------------------------------------------------

_COV_SPAN_US = 300_000_000  # each event covers [ts, ts + 5 min)

_OP233_SQL = f"""
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + {_COV_SPAN_US} AS e
  FROM events),
m AS (
  SELECT user_id, event_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS max_e_before
  FROM iv),
g AS (
  -- grp window MUST order by the same total key (s, event_id) as the
  -- max_e_before window: every span has e = s + span, so (s, e) ties
  -- whenever (s) ties, and a ROWS frame over a nondeterministic tie
  -- order could place a flagged row after its tied peer, assigning the
  -- peer to the PREVIOUS merged span (round-6 ADVICE item).
  SELECT user_id, s, e,
         SUM(CASE WHEN max_e_before IS NULL OR s > max_e_before
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS UNBOUNDED PRECEDING) AS grp
  FROM m),
merged AS (
  SELECT user_id, grp, MIN(s) AS s, MAX(e) AS e
  FROM g GROUP BY user_id, grp)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(e - s) AS BIGINT) AS covered_us,
       CAST(MIN(s) AS BIGINT) AS first_s,
       CAST(MAX(e) AS BIGINT) AS last_e
FROM merged GROUP BY user_id
"""


@register("op233_interval_coverage", oracle=_OP233_SQL)
def op233_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL COVERAGE (union of overlapping spans): each event
    covers [ts, ts+5 min); per user, overlapping spans merge and the
    op reports merged-span count + exact covered microseconds — the
    uptime/SLA/presence measurement (and op111's continuous-time
    sibling: gaps-and-islands over real intervals, not discrete
    days).

    The sweep is one pass: per-user window orders spans and compares
    each start against the running MAX END of everything before it
    (not the previous row's end — an earlier long span can swallow
    later short ones; using lag(e) is the classic wrong answer,
    which the oracle's identical max-before formulation would catch
    if either side regressed to it). All int64 microseconds — exact.
    Scale: one keyed window + two keyed aggs, shuffle carries
    (user_id, s, e) triples; at 10^12 events this is one
    sort-within-user pass, the same shape as sessionization."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    iv = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("s"),
        (F.expr("unix_micros(ts)") + _COV_SPAN_US).alias("e"),
    )
    w_before = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.withColumn("max_e_before", F.max("e").over(w_before))
    # Ordered by (s, event_id) — the SAME total order as w_before. e is
    # always s + _COV_SPAN_US, so (s, e) ties exactly when (s) ties, and
    # a ROWS running sum over an under-specified tie order could sort a
    # flagged row after its tied peer, double-counting coverage
    # (round-6 ADVICE item; oracle's g CTE mirrors this key).
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g = m.withColumn(
        "grp",
        F.sum(
            F.when(
                F.col("max_e_before").isNull()
                | (F.col("s") > F.col("max_e_before")),
                1,
            ).otherwise(0)
        ).over(w_run),
    )
    merged = g.groupBy("user_id", "grp").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).cast("bigint").alias("covered_us"),
        F.min("s").cast("bigint").alias("first_s"),
        F.max("e").cast("bigint").alias("last_e"),
    )


# --------------------------------------------------------------------------
# op243: last-touch attribution — IGNORE NULLS window carry-forward
# --------------------------------------------------------------------------

_ATTR_WINDOW_US = 3_600_000_000  # attribute within 1 hour


_OP243_SQL = f"""
WITH o AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
         LAST_VALUE(CASE WHEN event_type <> 'purchase'
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_type,
         LAST_VALUE(CASE WHEN event_type <> 'purchase'
                         THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_us
  FROM events)
SELECT COALESCE(CASE WHEN us - touch_us <= {_ATTR_WINDOW_US}
                     THEN touch_type END, 'direct') AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(event_id) AS BIGINT) AS checksum
FROM o
WHERE event_type = 'purchase'
GROUP BY channel
"""


@register("op243_last_touch_attribution", oracle=_OP243_SQL)
def op243_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH ATTRIBUTION: each purchase credits the user's most
    recent NON-purchase event within 1 hour, else 'direct' — the
    marketing-attribution query, and the op that pins Spark and
    DuckDB's `IGNORE NULLS` window carry-forward semantics against
    each other (Spark: last(col, ignorenulls) over rows-preceding;
    DuckDB: LAST_VALUE ... IGNORE NULLS) — a forward-fill over a
    conditional column, the same primitive as op131's resample-ffill
    but predicate-driven.

    One per-user ordered window carrying (type, ts) of the last
    touch + one aggregate; integers end to end (µs timestamps)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_type = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    touch_us = F.last(
        F.when(F.col("event_type") != "purchase", F.col("us")),
        ignorenulls=True,
    ).over(w)
    o = ev.select(
        "event_type",
        "event_id",
        "us",
        touch_type.alias("touch_type"),
        touch_us.alias("touch_us"),
    )
    return (
        o.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(
                    F.col("us") - F.col("touch_us") <= _ATTR_WINDOW_US,
                    F.col("touch_type"),
                ),
                F.lit("direct"),
            ).alias("channel"),
            "event_id",
        )
        .groupBy("channel")
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.sum("event_id").cast("bigint").alias("checksum"),
        )
    )
