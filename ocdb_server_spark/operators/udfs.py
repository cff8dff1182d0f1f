"""UDF / UDAF / UDTF surface — SURVEY.md §2.11 (op84–op87).

Reference anchor: arbitrary per-row Python is the reference's *only*
execution model; its validation rule engine
(`ocdb/core/val/validator.py::Validator` + rule classes, config in
`ocdb/res/validation-config*` [U]) is effectively a row-level UDF
library emitting OK/WARNING/ERROR issues. op84/85 reproduce that
range-rule shape.

Perf ladder demonstrated here (and measured in bench):
op84 row-at-a-time Python UDF (the slow path — serde per row) →
op85 the same logic Arrow-vectorized (`pandas_udf`) →
production guidance: this particular rule needs no Python at all
(CASE WHEN — which is exactly what the oracle says), so the hot path
at 100 TB is the built-in expression; the UDFs exist to prove the
extension surface.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType

from ocdb_server_spark.io import load_table
from ocdb_server_spark.registry import register

_FLAG_SQL = """
SELECT CASE WHEN l_quantity BETWEEN 1 AND 50
             AND l_discount BETWEEN 0.0 AND 0.1
            THEN 'OK' ELSE 'ERROR' END AS flag,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY 1
"""


@register("op84_udf_scalar", oracle=_FLAG_SQL)
def op84_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF: validation-style range rule → OK/ERROR
    flag (ref: record range rules in the Validator [U])."""

    @F.udf(StringType())
    def validate(qty: float, disc: float) -> str:
        ok = qty is not None and 1 <= qty <= 50 and disc is not None and 0.0 <= disc <= 0.1
        return "OK" if ok else "ERROR"

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(validate("l_quantity", "l_discount").alias("flag"))
        .groupBy("flag")
        .agg(F.count("*").alias("n"))
    )


@register("op85_udf_pandas_vectorized", oracle=_FLAG_SQL)
def op85_udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same rule as op84 as an Arrow-vectorized pandas_udf — the 10-100×
    faster Python path (whole Arrow batches, numpy ops)."""

    @F.pandas_udf(StringType())
    def validate(qty: pd.Series, disc: pd.Series) -> pd.Series:
        ok = qty.between(1, 50) & disc.between(0.0, 0.1)
        return ok.map({True: "OK", False: "ERROR"})

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(validate("l_quantity", "l_discount").alias("flag"))
        .groupBy("flag")
        .agg(F.count("*").alias("n"))
    )


@register(
    "op86_udaf_group_zscore",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           ROUND((l.l_quantity - s.sx / s.n)
                 / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)), 6) AS z
    FROM lineitem l JOIN s USING (l_returnflag)
    """,
)
def op86_udaf_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score via applyInPandas (grouped-map 'UDAF/UDTF-ish'
    shape). The pandas fn computes the group's mean/std from exact
    sums — matching the oracle's closed form bit-for-bit — then scores
    every row. At 100 TB the group count bounds parallelism: fine for
    many medium groups, wrong for 3 giant ones — which is why the
    docstring of choice is a window/join (the oracle's shape) when the
    logic is expressible; applyInPandas is the escape hatch being
    proven here."""
    import math

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        # exact integer-cent sums → double, same arithmetic as the oracle
        cents = (pdf["l_quantity"] * 100).round().astype("int64")
        n = float(len(pdf))
        sx = float(cents.sum()) / 100.0
        sxx = float((cents * cents).sum()) / 10000.0
        std = math.sqrt((sxx - sx * sx / n) / (n - 1.0))
        mean = sx / n
        z = ((pdf["l_quantity"] - mean) / std).round(6)
        return pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"],
                "l_linenumber": pdf["l_linenumber"],
                "l_returnflag": pdf["l_returnflag"],
                "z": z,
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    return li.groupBy("l_returnflag").applyInPandas(
        zscore, schema="l_orderkey long, l_linenumber int, l_returnflag string, z double"
    )


@register(
    "op87_udtf_expand",
    oracle="""
    SELECT p_partkey,
           unnest(string_split(p_name, ' ')) AS word,
           CAST(unnest(range(1, len(string_split(p_name, ' ')) + 1)) AS BIGINT) AS pos
    FROM part
    """,
)
def op87_udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark ≥3.5) exploding a delimited string into
    (word, pos) rows via LATERAL join."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, pos bigint")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate(text.split(" ")):
                yield w, i + 1

    spark.udtf.register("split_words", SplitWords)
    # register via load_tables, NOT a direct createOrReplaceTempView:
    # the session's record tracks which sf_dir each view is bound to,
    # and a direct rebind here would leave that binding stale
    from ocdb_server_spark.io import load_tables

    load_tables(spark, sf_dir, ("part",))
    return spark.sql(
        "SELECT p_partkey, word, pos FROM part, LATERAL split_words(p_name)"
    )
