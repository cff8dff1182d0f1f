"""Skew mitigation helpers (SURVEY.md §4.2.2).

What Spark already solves — don't re-solve it:
- GROUP BY skew for decomposable aggregates (sum/count/min/max/avg):
  the map-side partial aggregation collapses a hot key to one row per
  input partition before the shuffle. Salting would add a shuffle and
  win nothing. MEASURED (round 10, skew_stress.py --mode=agg): at a
  40%-hot key the two-phase salted form is 1.3-1.7× SLOWER at both
  10× and 100× data while the unsalted spread is already flat (1.4×).
- JOIN skew: AQE's skew-join splitting (enabled in session.py) splits
  oversized partitions at runtime.

What still needs explicit handling at 100 TB:
- A hot key under a WINDOW (top-k per key, collect_list per key):
  every row of the hot key lands in ONE task's sort buffer — partial
  aggregation can't help because the operator isn't decomposable.
  `salted_topk_per_key` is the two-phase fix: per-(key, salt) partial
  top-k bounds each task at k·salts rows per key, then a final top-k
  over the tiny partial set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F


def salted_topk_per_key(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column],
    k: int,
    n_salts: int = 16,
) -> DataFrame:
    """Top-k rows per key, skew-proof.

    Phase 1 computes top-k within (keys, salt) — the salt comes from
    spark_partition_id, so a hot key's rows split across up to n_salts
    window tasks and each sorts at most its own slice. Phase 2 re-ranks
    the ≤ k·n_salts survivors per key. Output matches the direct
    single-window top-k row-for-row (tested), but no task ever holds a
    whole hot key.

    order_by must define a total order (include a unique tiebreaker)
    for the result to be deterministic — same requirement the direct
    window has."""
    clash = {"_salt", "_rn"} & set(df.columns)
    if clash:
        # select('*', salt) would mint a DUPLICATE column name and the
        # window's partitionBy would fail with AMBIGUOUS_REFERENCE —
        # e.g. a frame already salted for a salted join. Loud contract
        # error beats a mid-plan analysis stack.
        raise ValueError(
            f"salted_topk_per_key: input already has {sorted(clash)} — "
            "rename or drop them first (internal working columns)"
        )
    salt = (F.spark_partition_id() % n_salts).alias("_salt")
    w1 = W.partitionBy(*keys, "_salt").orderBy(*order_by)
    partial = (
        df.select("*", salt)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = W.partitionBy(*keys).orderBy(*order_by)
    return (
        partial.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def hybrid_selfjoin_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    threshold: int = 10_000,
    n_slices: int = 8,
    max_broadcast_buckets: int = 100_000,
) -> DataFrame:
    """Within-bucket unordered candidate pairs (id_a < id_b), with
    ONLY oversized buckets routed through a blocked triangle self-join
    — the graduated production form of scripts/skew_stress.py
    --mode=bucket's `bucket_hybrid` (round-10 measurements, BASELINE.md
    "bucket-self-join skew" table):

    - a bucket self-join's hot key CANNOT be AQE-split (the key IS the
      bucket id; splitting one side misses pairs), so a ~100k-doc
      bucket means ~10^10 pairs materializing in ONE task;
    - blanket triangling INVERTS at scale (uniform small-bucket mass
      pays the ~S/2 replication for nothing — measured slower at 100×);
    - the HYBRID wins past ~10k-doc buckets: −25% wall at 100× data
      with straggler spread 28.4×→1.4×; below that the one-task pair
      scan is cheaper than any spreading. Hence threshold=10_000.

    Shape: one count-agg over (bucket_cols) finds oversized buckets —
    by definition the skew TAIL, so the `big` set is small and
    broadcast-able; a semi/anti split routes rows. Small buckets take
    the direct merge self-join. Big buckets take the triangle: slice
    s = xxhash64(id) % S; a row serves as LEFT of cells (s, j >= s)
    and RIGHT of cells (i <= s, s); each unordered slice pair is ONE
    reducer cell, so the hot bucket's pairs spread over S(S+1)/2 cells
    at ~|B|/S rows per side instead of |B| rows in one task.
    Cross-slice cells hold each pair exactly once (orientation forced
    by emitting least/greatest); diagonal cells dedup via id order.
    Coverage-invariance is pinned in tests/test_dedup.py (set
    equality vs the direct join, oversized + small buckets, plus a
    threshold=0 all-triangle sweep).

    Callers that tolerate duplicate candidates across DIFFERENT
    buckets (op79's 4 LSH bands) keep their own .distinct() after.

    INPUT REUSE: df is consumed three times (the bucket-size agg, the
    semi and the anti route) — if the caller hasn't already persisted
    it (op79 does), it is pool_persist'ed here so the routing doesn't
    recompute the upstream lineage thrice.

    BROADCAST GUARD: `big` is the skew TAIL by construction, but a
    pathological threshold (tests use 0) or a heavy-tailed corpus can
    make it large, and F.broadcast bypasses autoBroadcastJoinThreshold.
    The oversized-bucket list is therefore counted first (one job over
    the persisted agg) and the routing falls back to shuffle semi/anti
    joins past max_broadcast_buckets rows — correctness identical,
    just a shuffle instead of a driver-held build side."""
    from ocdb_server_spark.registry import pool_persist

    q = lambda c: f"`{c}`"  # noqa: E731 — identifiers may need quoting
    on_bucket = " AND ".join(f"l.{q(c)} = r.{q(c)}" for c in bucket_cols)
    if not df.storageLevel.useMemory and not df.storageLevel.useDisk:
        df = pool_persist(df)
    big = pool_persist(
        df.groupBy(*bucket_cols)
        .count()
        .filter(F.col("count") > threshold)
        .drop("count")
    )
    big_side = big if big.count() > max_broadcast_buckets else F.broadcast(big)
    d_big = df.join(big_side, bucket_cols, "left_semi")
    d_small = df.join(big_side, bucket_cols, "left_anti")
    small = (
        d_small.alias("l")
        .join(
            d_small.alias("r").hint("merge"),
            F.expr(f"{on_bucket} AND l.{q(id_col)} < r.{q(id_col)}"),
        )
        .selectExpr(f"l.{q(id_col)} AS id_a", f"r.{q(id_col)} AS id_b")
    )
    S = int(n_slices)
    d2 = d_big.withColumn(
        "_s", F.pmod(F.xxhash64(id_col, F.lit(17)), F.lit(S)).cast("int")
    )
    lrep = d2.select(
        id_col,
        *bucket_cols,
        F.col("_s").alias("_i"),
        F.explode(F.expr(f"sequence(_s, {S - 1})")).alias("_j"),
    )
    rrep = d2.select(
        id_col,
        *bucket_cols,
        F.explode(F.expr("sequence(0, _s)")).alias("_i"),
        F.col("_s").alias("_j"),
    )
    tri = (
        lrep.alias("l")
        .join(
            rrep.alias("r").hint("merge"),
            F.expr(
                f"{on_bucket} AND l._i = r._i AND l._j = r._j"
                f" AND (l._i < l._j OR l.{q(id_col)} < r.{q(id_col)})"
                f" AND l.{q(id_col)} != r.{q(id_col)}"
            ),
        )
        .selectExpr(
            f"least(l.{q(id_col)}, r.{q(id_col)}) AS id_a",
            f"greatest(l.{q(id_col)}, r.{q(id_col)}) AS id_b",
        )
    )
    return small.unionAll(tri)
