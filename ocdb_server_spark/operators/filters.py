"""Projection / filter / predicates — SURVEY.md §2.2 (op06–op15), and
the full `find_datasets` search surface with GeoJSON output (op267).

These re-express the reference's query language: the Lucene-like AST
(`ocdb/core/query/query.py` [U]: PhraseQuery, FieldValueQuery,
FieldRangeQuery, FieldWildcardQuery, UnaryOpQuery, BinaryOpQuery)
compiled by `QueryConverter` into MongoDB filters
(`ocdb/db/mongo_db_driver.py` [U]), plus the bbox / time-interval /
membership parameters of `DatasetQuery`
(`ocdb/ws/controllers/datasets.py::find_datasets` [U]).

On Spark each predicate is a Catalyst `Column` expression — pushdown
into the parquet scan is automatic, which at 100 TB replaces the
reference's reliance on MongoDB indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocdb_server_spark.io import load_table
from ocdb_server_spark.plans.expr_compiler import compile_expr
from ocdb_server_spark.registry import register
from ocdb_server_spark.search import (
    DatasetQuery,
    SearchColumns,
    _keyset_after,
    _predicate,
    find_datasets,
)


@register(
    "op06_project_rename_cast",
    oracle="""
    SELECT l_orderkey AS order_key,
           l_linenumber AS line_no,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS price_dec
    FROM lineitem
    """,
)
def op06_project_rename_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select + alias + cast to exact decimal money type.

    The decimal value is surfaced as its canonical scale-2 string
    ('63058.35') rather than a raw DECIMAL column: round-1's gate
    showed Decimal objects crossing pandas hash differently from
    DuckDB's representation even when every value matches logically
    (CORRECTNESS_r01 op06: rows+schema green, hash red, multiset
    equal). Both engines print scale-2 decimals identically, same
    canonicalization op67 already uses."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_extendedprice").cast("decimal(12,2)").cast("string").alias("price_dec"),
    )


@register(
    "op07_filter_eq",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def op07_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FieldValueQuery equality (`field:value` term)."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_name")


@register(
    "op08_filter_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
    """,
)
def op08_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FieldRangeQuery `[a TO b]` closed range → $gte/$lte analog."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity").between(10, 20)).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "op09_filter_wildcard",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_name LIKE '%ring%' OR regexp_matches(p_name, '^.ed .*')
    """,
)
def op09_filter_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FieldWildcardQuery `*`/`?` → LIKE / regex (ref: wildcard→$regex
    translation in QueryConverter [U])."""
    p = load_table(spark, sf_dir, "part")
    cond = F.col("p_name").like("%ring%") | F.col("p_name").rlike("^.ed .*")
    return p.filter(cond).select("p_partkey", "p_name")


@register(
    "op10_filter_bool_combinators",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE (o_orderstatus = 'F' AND o_totalprice > 100000.0)
       OR NOT (o_orderpriority IN ('1-URGENT', '2-HIGH'))
    """,
)
def op10_filter_bool_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND / OR / NOT composition (ref: BinaryOpQuery / UnaryOpQuery)."""
    o = load_table(spark, sf_dir, "orders")
    cond = ((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000.0)) | ~(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return o.filter(cond).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )


@register(
    "op11_filter_in_set",
    oracle="""
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def op11_filter_in_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership filter (ref: pgroup/pname → $in in find_datasets [U])."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        "o_orderkey", "o_orderpriority"
    )


@register(
    "op12_filter_null_semantics",
    oracle="""
    WITH t AS (SELECT NULLIF(l_returnflag, 'N') AS rf FROM lineitem)
    SELECT CAST(COUNT(CASE WHEN rf IS NULL THEN 1 END) AS BIGINT) AS n_null,
           CAST(COUNT(CASE WHEN rf IS NOT NULL THEN 1 END) AS BIGINT) AS n_not_null,
           CAST(COUNT(CASE WHEN rf IS NOT DISTINCT FROM 'A' THEN 1 END) AS BIGINT) AS n_nullsafe_a
    FROM t
    """,
)
def op12_filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL / IS NOT NULL / null-safe equality over a derived
    nullable column (ref: `/missing=` token → None records in
    SbFileReader [U])."""
    li = load_table(spark, sf_dir, "lineitem")
    rf = F.nullif(F.col("l_returnflag"), F.lit("N"))
    t = li.select(rf.alias("rf"))
    return t.agg(
        F.count(F.when(F.col("rf").isNull(), 1)).alias("n_null"),
        F.count(F.when(F.col("rf").isNotNull(), 1)).alias("n_not_null"),
        F.count(F.when(F.col("rf").eqNullSafe("A"), 1)).alias("n_nullsafe_a"),
    )


@register(
    "op13_filter_phrase_text",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE text LIKE '%select%'
    """,
)
def op13_filter_phrase_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase/substring free-text search (ref: PhraseQuery)."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("text").contains("select")).select("doc_id", "lang")


@register(
    "op14_filter_bbox",
    oracle="""
    SELECT p_partkey, p_size, p_retailprice
    FROM part
    WHERE p_size BETWEEN 10 AND 30
      AND p_retailprice BETWEEN 1000.0 AND 1500.0
    """,
)
def op14_filter_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D range predicate — the geo bounding-box filter shape (ref:
    `region` lon/lat $gte/$lte in find_datasets [U]), expressed over
    (p_size, p_retailprice) since the testdata has no geo columns."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 30) & F.col("p_retailprice").between(1000.0, 1500.0)
    ).select("p_partkey", "p_size", "p_retailprice")


@register(
    "op15_filter_time_overlap",
    oracle="""
    SELECT o_orderkey, o_orderdate
    FROM orders
    WHERE o_orderdate <= TIMESTAMP '1996-03-31 00:00:00'
      AND o_orderdate + INTERVAL 30 DAY >= TIMESTAMP '1996-01-01 00:00:00'
    """,
)
def op15_filter_time_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap filter: orders whose [orderdate, orderdate+30d]
    overlaps a constant window (ref: `time=[start,end]` overlap [U])."""
    o = load_table(spark, sf_dir, "orders")
    cond = (F.col("o_orderdate") <= F.lit("1996-03-31 00:00:00").cast("timestamp")) & (
        F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    return o.filter(cond).select("o_orderkey", "o_orderdate")


_OP267_SQL = """
WITH c AS (
  SELECT c_custkey,
         c_mktsegment,
         c_custkey % 360 - 180 AS x,
         (c_custkey * 7) % 180 - 90 AS y
  FROM customer
),
hits AS (
  SELECT * FROM c
  WHERE c_mktsegment = 'BUILDING'
    AND x BETWEEN -120 AND 120
    AND y BETWEEN -60 AND 60
)
SELECT c_custkey, c_mktsegment, x, y,
       CAST(json_object('type', 'Point',
                        'coordinates', json_array(x, y)) AS VARCHAR)
         AS geojson,
       CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS total_count
FROM hits
ORDER BY c_custkey
LIMIT 50
"""


@register(
    "op267_find_datasets_geojson",
    oracle=_OP267_SQL,
    # the registered plan IS the serving surface: the request compiler,
    # the predicate composer, the cursor builder and the page+geojson
    # assembly all live in search.py / plans.expr_compiler — a rewrite
    # there must re-front this op exactly like an oracle edit.
    deps=(find_datasets, _predicate, _keyset_after, compile_expr),
)
def op267_find_datasets_geojson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /datasets?geojson=true, end to end (ref: find_datasets [U]
    attaching per-dataset lon/lat points — SURVEY.md §3.1 step 7):
    customer rows with derived integer lon/lat, queried through the
    REAL serving entry point — a Lucene-ish expr (exact segment
    equality), a bbox region, deterministic order_key paging — with
    geojson=True adding each hit's `{"type":"Point","coordinates":
    [x,y]}` string, and the envelope's total_count stamped on every
    page row. The DuckDB oracle restates the whole request INCLUDING
    the JSON serialization (json_object/json_array produce the same
    compact, insertion-ordered text to_json emits), so the hash gate
    certifies the result's bytes, not just the filtered row set.

    100 TB shape: the expr+bbox predicate compiles into ONE Catalyst
    conjunction pushed to the parquet scan (test_pipeline_r14 asserts
    PushedFilters carries all three columns); total_count is one
    partial-agg count over the pushed-predicate scan; the page plans
    as TakeOrderedAndProject (partial top-50 per partition — no global
    sort materializes) and the GeoJSON string is built by to_json
    INSIDE whole-stage codegen on the 50 surviving rows — serialization
    cost scales with the page, never the corpus. Keyset-cursor paging
    (q.after) composes unchanged for deep pagination."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_custkey") % 360 - 180).alias("x"),
        ((F.col("c_custkey") * 7) % 180 - 90).alias("y"),
    )
    cols = SearchColumns(x="x", y="y", order_key="c_custkey")
    q = DatasetQuery(
        expr="c_mktsegment:BUILDING",
        region=(-120, -60, 120, 60),
        count=50,
        geojson=True,
    )
    res = find_datasets(c, q, cols)
    return res.datasets.withColumn(
        "total_count", F.lit(res.total_count).cast("bigint")
    )
