"""ocdb_server_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference system (bcdev/ocdb-server — a
Tornado+MongoDB in-situ measurement search service; see SURVEY.md)
as an idiomatic Spark DataFrame/SQL engine, extended with the
large-scale training-data-pipeline operators (dedup, similarity
search, multimodal columns, text analysis) the reference lacks.

Design principles (SURVEY.md §4, §7):
- Declarative DataFrame/SQL everywhere; Catalyst does pushdown,
  pruning, join selection, whole-stage codegen.
- No RDDs. Python UDFs only where built-ins can't express the
  semantics, and then Arrow-vectorized (pandas_udf / applyInPandas).
- Every operator is registered in ``ocdb_server_spark.registry`` with
  a DuckDB oracle SQL string where ANSI-expressible, so the driver's
  correctness gate covers it.
"""

__version__ = "0.1.0"
