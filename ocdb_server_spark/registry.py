"""Central operator registry.

Every operator from SURVEY.md §2 registers here via the ``@register``
decorator. ``__spark_entry__.py`` exposes the registry to the driver:
``queries()`` returns {name: callable(spark, sf_dir) -> DataFrame} and
``oracle_sql()`` returns {name: ANSI SQL} for the DuckDB hash-match.

Operators whose semantics are approximate / nondeterministic / not
ANSI-expressible register with ``oracle=None`` → the driver records a
weaker rows-only check (SURVEY.md §2, "ROWS" legend).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    """A registered operator. Its plan fingerprint is
    ``evidence.src_fp(op)``, derived from the source on demand."""

    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → rows-only check


REGISTRY: dict[str, Op] = {}

# --- op-scoped cache pool ------------------------------------------------
# Several iterative ops persist() intermediates (k-means quantized form,
# BFS edges + per-hop frontiers, triangle edge lists, theta sketches)
# whose lifetime must cover the CALLER's terminal action — so the op
# itself can never safely unpersist them. Left alone, a 250-op sweep in
# one session accumulates every such cache and can evict earlier blocks
# or spill. The pool bounds that: persists enroll here, and the NEXT
# operator invocation (the driver and the sweep are strictly sequential:
# run → collect → next) releases everything the previous op left behind.
# Unpersisting is always correctness-safe in Spark — a consumer that
# somehow still holds the frame just recomputes its lineage.
_POOLED_CACHES: list[DataFrame] = []


def pool_persist(df: DataFrame) -> DataFrame:
    """persist() a frame and enroll it for release at the next op call."""
    df = df.persist()
    _POOLED_CACHES.append(df)
    return df


def release_pool() -> int:
    """Unpersist every pooled cache (called before each op invocation)."""
    n = 0
    while _POOLED_CACHES:
        df = _POOLED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register an operator implementation under a stable SURVEY.md §2
    key, with its DuckDB oracle SQL (None → rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate operator key: {name}")

        @functools.wraps(fn)
        def wrapped(
            spark: SparkSession, sf_dir: str, *args, **kwargs
        ) -> DataFrame:
            # pass-through for optional op parameters (op90's `plant`):
            # the registry contract stays (spark, sf_dir); extras are
            # the op's own business
            release_pool()
            return fn(spark, sf_dir, *args, **kwargs)

        REGISTRY[name] = Op(name=name, fn=wrapped, oracle=oracle)
        return wrapped

    return deco


def load_all() -> dict[str, Op]:
    """Import every operator module (side effect: fills REGISTRY) and
    return REGISTRY in registration order."""
    from ocdb_server_spark.operators import (  # noqa: F401
        filters,
        sorting,
        setops,
        functions,
        windows,
        scans,
        aggregates,
        joins,
        relational_ext,
        multimodal_codecs,
        udfs,
        streaming_batch,
        text,
        dedup,
        similarity,
        graph,
        stats,
        forecast,
        lakehouse,
    )

    return REGISTRY
