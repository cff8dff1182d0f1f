"""Python row stages over Arrow batches, typed from a DDL.

Every Python stage that builds rows takes its output type from a DDL:
``row_schema`` derives the Spark ``StructType`` and the Arrow schema once,
when the plan is built, and ``record_batch`` builds the stage's rows
against that Arrow schema, so no output type rests on Python value
inference. ``map_rows`` and ``map_partitions`` are the two ``mapInArrow``
shapes built on them: output rows per input row, and output rows per
task from the task's input batches. ``task_budget`` is the byte bar a
guarded one-task kernel must fit before an op hands it a whole input.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame


def row_schema(ddl: str):
    """(StructType, Arrow schema) of ``ddl``; needs an active session."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(ddl)
    return struct, to_arrow_schema(struct)


def record_batch(rows: list[tuple], schema):
    """``rows``, tuples in the schema's field order, as one RecordBatch."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array([r[k] for r in rows], f.type) for k, f in enumerate(schema)],
        schema=schema,
    )


def _rows(batch) -> Iterator[tuple]:
    return zip(*(c.to_pylist() for c in batch.columns))


def batch_rows(batches: Iterable) -> Iterator[tuple]:
    """The rows of ``batches``, as tuples in column order."""
    return (row for batch in batches for row in _rows(batch))


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]], ddl: str,
             name: str) -> DataFrame:
    """A ``mapInArrow`` stage, labelled ``name`` in the plan, that turns
    each input row ``r`` into the ``ddl`` rows ``fn(*r)``: one output
    batch per input batch."""
    struct, schema = row_schema(ddl)

    def run(batches):
        for batch in batches:
            yield record_batch(
                [out for row in _rows(batch) for out in fn(*row)], schema
            )

    run.__name__ = name
    return df.mapInArrow(run, struct)


def map_partitions(df: DataFrame, fn: Callable[[Iterator], Iterable[tuple]],
                   ddl: str, name: str) -> DataFrame:
    """A ``mapInArrow`` stage, labelled ``name`` in the plan, that hands
    each task's input RecordBatches to ``fn`` as one iterator and emits
    the ``ddl`` rows ``fn`` returns as one batch. ``fn`` reads the
    columns itself: numeric kernels as numpy arrays, row kernels
    through ``batch_rows``. Spark runs the stage on empty partitions
    too, so ``fn`` runs once in every task."""
    struct, schema = row_schema(ddl)

    def run(batches):
        yield record_batch(list(fn(batches)), schema)

    run.__name__ = name
    return df.mapInArrow(run, struct)


def parse_size_bytes(s: str) -> int:
    """Parse a Spark size conf value ('67108864', '10MB', '1g', '-1')."""
    s = s.strip().lower()
    for suf, mult in (
        ("kb", 1024),
        ("mb", 1024**2),
        ("gb", 1024**3),
        ("tb", 1024**4),
        ("k", 1024),
        ("m", 1024**2),
        ("g", 1024**3),
        ("t", 1024**4),
        ("b", 1),
    ):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * mult)
    return int(float(s))


def task_budget(spark) -> int:
    """Bytes a guarded one-task kernel (or the broadcast it replaces)
    may hold: the session's autoBroadcastJoinThreshold, the
    scale-adaptive knob the planner's own broadcast decisions use; 0
    when it is disabled (-1 or 0), which sends every guarded op to its
    distributed path."""
    return max(0, parse_size_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ))
