"""Python row stages over Arrow batches, typed from a DDL.

Every Python stage that builds rows takes its output type from a DDL:
``row_schema`` derives the Spark ``StructType`` and the Arrow schema once,
when the plan is built, and ``record_batch`` builds the stage's rows
against that Arrow schema, so no output type rests on Python value
inference. ``map_rows`` and ``map_partitions`` are the two ``mapInArrow``
shapes built on them: output rows per input row, and output rows per
task.
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


def map_partitions(df: DataFrame, fn: Callable[[Iterator[tuple]], Iterable[tuple]],
                   ddl: str, name: str) -> DataFrame:
    """A ``mapInArrow`` stage, labelled ``name`` in the plan, that hands
    each task's input rows to ``fn`` as one iterator and emits the
    ``ddl`` rows ``fn`` returns as one batch. Spark runs the stage on
    empty partitions too, so ``fn`` runs once in every task."""
    struct, schema = row_schema(ddl)

    def run(batches):
        yield record_batch(
            list(fn(row for batch in batches for row in _rows(batch))), schema
        )

    run.__name__ = name
    return df.mapInArrow(run, struct)
