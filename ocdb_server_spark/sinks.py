"""Serving-table sinks: the reference's submission→publish step
(SURVEY.md §3.2 — `datasets.add_dataset` making records searchable)
as batch MERGE semantics on plain parquet (no Delta dependency in
this environment; the API is the seam where `MERGE INTO` drops in).

`upsert_partitioned` implements keyed upsert with DYNAMIC PARTITION
OVERWRITE: only the partitions touched by the update batch are read,
merged (keep-latest per key), and rewritten — untouched partitions are
never opened. That is the property that makes publish-style upserts
viable on a 100 TB table: cost scales with the update's partition
footprint, not the table size.

PARTITION-IMMUTABILITY CONTRACT (round-12 review): the pruned merge is
only correct when a key's partition value never changes — derive
partition_col from the key (a hash bucket, as the streaming upsert
store in tests/test_streaming.py does) or from an immutable attribute. If an update moved
key K from partition A to B, A is never read, so K's stale copy in A
would survive beside the new one. Callers whose partition CAN move
must pass immutable_partitions=False, which merges against the whole
table (correct, unbounded cost — the plain-parquet price; a real
table format prunes by file-level key stats instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.utils import AnalysisException


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
    partition_col: str,
    immutable_partitions: bool = True,
) -> None:
    """Merge `updates` into the parquet table at `path`: for each key,
    the row with the greatest `order_col` survives (keep-latest — the
    reference's re-submission semantics, op76's policy); on EQUAL
    order_col the UPDATE wins (deterministic: an idempotent replay or
    same-timestamp correction must never silently lose to the stale
    row — round-12 review; the old window had no tiebreaker, so the
    winner depended on partition evaluation order).

    Only partitions present in `updates` are read and rewritten
    (spark.sql.sources.partitionOverwriteMode=dynamic) — see the
    module docstring's partition-immutability contract. A missing
    table bootstraps from the updates alone (the first publish used
    to crash on the read). NULL partition values are handled: isin()
    never matches NULL, but dynamic overwrite still rewrites the
    null partition, so current null-partition rows must join the
    merge explicitly or they'd be deleted."""
    # Working-column clash guard (round-12 ADVICE, mirroring
    # skew.salted_topk_per_key): an input already carrying _src/_rn
    # would mint a duplicate column below and fail later with
    # AMBIGUOUS_REFERENCE mid-plan — fail loudly at the boundary.
    clash = {"_src", "_rn"} & set(updates.columns)
    if clash:
        raise ValueError(
            f"upsert_partitioned reserves working columns {sorted(clash)}; "
            "rename them in `updates` before merging"
        )
    try:
        table = spark.read.parquet(path)
    except AnalysisException:
        table = None  # first publish: no table yet — bootstrap below
    if table is not None:
        clash = {"_src", "_rn"} & set(table.columns)
        if clash:
            raise ValueError(
                f"existing table at {path} carries reserved working "
                f"columns {sorted(clash)} — not a table this sink wrote"
            )
    # `updates` is executed twice — the touched-partition collect here
    # and the merge/write below. For a lazy expensive plan that doubles
    # the dominant cost (round-13 review); both actions complete inside
    # this function. EVERY action on it — the collect included — runs
    # under the unpersisting finally: the collect itself can raise
    # (missing partition_col → AnalysisException, an executor failure)
    # and a persist outside the try leaked the frame on exactly that
    # path (round-14 ADVICE).
    updates = updates.persist()
    try:
        touched = [
            r[0] for r in updates.select(partition_col).distinct().collect()
        ]
        if not touched:
            return
        if table is None:
            current = None
        elif immutable_partitions:
            non_null = [t for t in touched if t is not None]
            cond = (
                F.col(partition_col).isin(non_null) if non_null else F.lit(False)
            )
            if any(t is None for t in touched):
                cond = cond | F.col(partition_col).isNull()
            current = table.filter(cond)
        else:
            current = table  # movable partitions: correctness over pruning
        src = F.lit(0).alias("_src")
        upd = updates.select("*", F.lit(1).alias("_src"))
        merged = upd if current is None else (
            current.select("*", src).unionByName(upd)
        )
        w = W.partitionBy(*keys).orderBy(
            F.col(order_col).desc(), F.col("_src").desc()
        )
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        try:
            if not immutable_partitions and current is not None:
                # movable partitions: the WRITE must be full-table too —
                # a dynamic overwrite only replaces partitions present in
                # the output, so the partition a key vacated would keep
                # its stale copy on disk. That requires STATIC overwrite
                # mode: relying on the session default silently
                # resurrected the stale-copy bug on any session
                # configured dynamic (round-13 review). Materialize
                # first: a static overwrite deletes the files `latest`'s
                # lazy plan still has to read.
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", "static"
                )
                latest = latest.localCheckpoint(eager=True)
                latest.write.partitionBy(partition_col).mode(
                    "overwrite"
                ).parquet(path)
                return
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic"
            )
            latest.write.partitionBy(partition_col).mode(
                "overwrite"
            ).parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    finally:
        updates.unpersist()
