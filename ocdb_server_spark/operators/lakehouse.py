"""Lakehouse operators: data layout (z-order, Hilbert, bucketing, dynamic
partition pruning, compaction planning), file and footer statistics,
export manifests, table versions and snapshots, schema evolution,
merge-on-read deletes and change-data-capture apply (batch and
streaming).

Ops that write tables do so under per-process scratch directories
(ocdb_server_spark.scratch).

Package rules: DataFrame/Catalyst only, Python only inside
Arrow-batched pandas kernels (mapInPandas / applyInPandas), shuffles carry ids and counters
(never payload text), cross-engine floats quantized to int64 before
any sum or round(6)-stabilized, and outputs canonicalizer-safe
(scalars only, no DECIMAL — tests/test_gate_shape.py).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ocdb_server_spark.functions.cdc import apply_changes
from ocdb_server_spark.io import load_table
from ocdb_server_spark.registry import register
from ocdb_server_spark.scratch import publish, scratch_dir
from ocdb_server_spark.streaming.jobs import stream_cdc_apply_changes


# --------------------------------------------------------------------------
# op133: training-export manifest with content digests
# --------------------------------------------------------------------------

_OP133_SQL = """
WITH h AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
              AS BIGINT) AS shard,
         md5(text) AS doc_digest,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
  FROM documents)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tokens) AS BIGINT) AS n_tokens,
       md5(string_agg(doc_digest, '' ORDER BY doc_digest)) AS content_digest
FROM h
GROUP BY shard
"""


@register("op133_export_manifest", oracle=_OP133_SQL)
def op133_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export manifest: per shard (op98's md5 assignment), the
    doc count, token total, and an order-independent content digest —
    md5 over the SORTED per-doc digests, so two exports of the same
    data produce byte-identical manifests regardless of partitioning
    or arrival order. This is the artifact a dataloader checks before
    touching shard bytes. One hash agg on the shard key; the shuffle
    carries 32-char digests, never document text (op75's digest-only
    contract)."""
    d = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 8
    )
    h = d.select(
        shard.alias("shard"),
        F.md5("text").alias("doc_digest"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("tokens"),
    )
    return h.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws("", F.sort_array(F.collect_list("doc_digest")))).alias(
            "content_digest"
        ),
    )


# --------------------------------------------------------------------------
# op148: SCD2 dimension build (validity intervals from an event log)
# --------------------------------------------------------------------------

_OP148_SQL = """
WITH runs AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
           AS grp
  FROM events),
iv AS (
  SELECT user_id, event_type,
         MIN(ts) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM runs GROUP BY user_id, event_type, grp)
SELECT user_id, event_type, valid_from, n_events,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL
         AS is_current
FROM iv
"""


@register("op148_scd2_intervals", oracle=_OP148_SQL)
def op148_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from an event log:
    collapse each user's consecutive same-type event runs into validity
    intervals [valid_from, valid_to) with an is_current flag — the CDC
    materialization every warehouse dim table needs.

    Run detection is the rn − rn_per_type gaps-and-islands difference
    (op111's technique, here producing interval rows rather than streak
    lengths). Plan at scale: ALL windows and the run aggregate share
    the ONE hashpartitioning(user_id) exchange; no global sort
    anywhere. Ties broken by event_id so run ids are deterministic."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"), "event_id"
    )
    by_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    by_user_type = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = ev.withColumn(
        "grp", F.row_number().over(by_user) - F.row_number().over(by_user_type)
    )
    iv = runs.groupBy("user_id", "event_type", "grp").agg(
        F.min("ts").alias("valid_from"), F.count("*").alias("n_events")
    )
    nxt = W.partitionBy("user_id").orderBy("valid_from")
    return iv.select(
        "user_id",
        "event_type",
        "valid_from",
        "n_events",
        F.lead("valid_from").over(nxt).alias("valid_to"),
        F.lead("valid_from").over(nxt).isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# op159: bucketed-table co-located join — the 100 TB join layout, for real
# --------------------------------------------------------------------------

_OP159_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_quantity > 40
GROUP BY o_orderstatus
"""


@register("op159_bucketed_cojoin", oracle=_OP159_SQL)
def op159_bucketed_cojoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketing story other ops cite, made concrete: lineitem and
    orders written ONCE as bucketed+sorted tables (8 buckets on the
    order key — `bucketBy` is Spark's persisted co-partitioning), then
    joined. Both scans report the bucket layout to Catalyst, so the
    sort-merge join needs NO exchange and NO sort on either side —
    `tests/test_plans.py::test_bucketed_join_has_no_exchange` asserts
    exactly that. At 100 TB this is how nightly fact⋈fact joins skip
    their dominant shuffle; the bucket count scales to
    data-size/target-partition-size (8 here for the test corpus).
    Transport-verified round 11 (bucketed_stress --transports,
    BASELINE Round 11e): at 30x data the bucketed SMJ beats the
    shuffle SMJ on BOTH local[16] (−39%) and a real 2-executor netty
    cluster (−20%), results identical — with the caveat that bucket
    count is a task-granularity knob too (small bucket-scan tasks
    pay ~1 ms each in cluster RPC dispatch, so size buckets for
    tens-of-MB files, not hundreds of tiny tasks).

    The aggregate after the join is the oracle-checked observable
    (join output itself is 60k rows of no analytic interest)."""
    import os

    from ocdb_server_spark.scratch import scratch_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    # Per-process scratch root + pid-suffixed table names (r9: the
    # old sf-tagged names isolated concurrent SCALE FACTORS but not
    # concurrent SESSIONS at one sf — one process's pre-write rmtree
    # could delete bucket files another session's scan was reading).
    # ONE scratch_dir call covers both tables: it empties on entry,
    # so per-table calls would wipe the first table while writing the
    # second.
    root = scratch_dir("bucketed", sf_dir)
    pid = os.getpid()
    # Name carries BOTH the sf tag and the pid (round-9 ADVICE): the
    # scratch ROOT is (kind, sf, pid)-keyed but the Spark catalog is
    # per-SESSION — pid-only names let two interleaved sf runs sharing
    # one session DROP/recreate each other's registration mid-flight.
    # The tag goes into a SQL identifier, so strip EVERY non-word char
    # (round-10 review: a basename like "tpch-sf01" would otherwise
    # break the DROP TABLE parse; scratch_path's '.'-only rule is fine
    # for filesystem names, not identifiers).
    import re

    tag = re.sub(r"\W", "_", os.path.basename(sf_dir.rstrip("/")))
    li_name = f"ocdb_li_bucketed_{tag}_{pid}"
    o_name = f"ocdb_o_bucketed_{tag}_{pid}"
    for name, df, key in (
        (li_name, li, "l_orderkey"),
        (o_name, o, "o_orderkey"),
    ):
        # EXTERNAL bucketed tables under the scratch root: the driver
        # harness may hand us its own session whose cwd-relative
        # warehouse dir we must not write into (static conf, can't be
        # redirected at runtime). The test catalog is in-memory (no
        # metastore), so drop any same-name registration from an
        # earlier call in THIS session before writing. A production
        # deployment has a metastore + fixed warehouse and plain
        # mode("overwrite") suffices.
        loc = os.path.join(root, name)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            # repartition on the bucket key with the bucket count (same
            # Murmur3 hash) → exactly one file per bucket, so the read
            # side also gets per-bucket sortedness, not just layout
            df.repartition(8, F.col(key))
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", loc)
            .saveAsTable(name)
        )
    lib = spark.table(li_name).filter(F.col("l_quantity") > 40)
    ob = spark.table(o_name)
    return (
        # merge hint: auto-broadcast would otherwise win at TEST scale
        # and hide the co-location; at 100 TB fact⋈fact IS the SMJ path
        lib.hint("merge")
        .join(ob, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.expr(
                "cast(sum(cast(l_quantity as decimal(18,2))) as double)"
            ).alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# op161: Z-order (Morton) clustering stats — data-skipping layout audit
# --------------------------------------------------------------------------

_ZBITS = 8  # bits per dimension -> 16-bit z-value, 64 blocks of 1024


def _morton(spark_side: bool, x: str, y: str) -> str:
    """Bit-interleave two 8-bit ints into a 16-bit Morton code.

    Emitted as one big arithmetic expression (disjoint bits summed, no
    OR needed) in each engine's shift syntax: Spark `shiftleft/
    shiftright` functions, DuckDB `<<`/`>>` operators. Pure integer
    math — bit-identical across engines by construction.
    """
    terms = []
    for i in range(_ZBITS):
        if spark_side:
            terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_OP161_SQL = f"""
WITH b AS (
  SELECT CAST(l_partkey % 256 AS BIGINT) AS x,
         CAST(l_suppkey % 256 AS BIGINT) AS y
  FROM lineitem
),
z AS (SELECT x, y, {_morton(False, "x", "y")} AS zval FROM b)
SELECT CAST(zval >> 10 AS BIGINT) AS z_block,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
       CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y,
       CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT) AS bbox_area
FROM z GROUP BY 1
"""


@register("op161_zorder_layout", oracle=_OP161_SQL)
def op161_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit: interleave two bucketized key columns
    into a 16-bit Morton code, group rows into 64 z-ranges, and report
    each range's per-dimension min/max bounding box. Writing a table
    sorted by zval is THE multi-column data-skipping layout (Delta
    OPTIMIZE ZORDER, Hudi clustering); the bbox_area column is exactly
    the file-level min/max tightness a scan planner would prune on —
    z-blocks cover ~1/64 of the (x,y) plane instead of all of it.

    Scale: the Morton code is one codegen'd integer expression at the
    scan; only (z_block, counters) shuffle. At 100 TB the same
    expression becomes the sort key of a write job; the audit here is
    the cheap way to validate the layout before paying for the sort."""
    li = load_table(spark, sf_dir, "lineitem")
    z = li.select(
        F.expr("cast(l_partkey % 256 as bigint)").alias("x"),
        F.expr("cast(l_suppkey % 256 as bigint)").alias("y"),
    ).withColumn("zval", F.expr(_morton(True, "x", "y")))
    return (
        z.groupBy(F.expr("cast(shiftright(zval, 10) as bigint)").alias("z_block"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("x").cast("bigint").alias("min_x"),
            F.max("x").cast("bigint").alias("max_x"),
            F.min("y").cast("bigint").alias("min_y"),
            F.max("y").cast("bigint").alias("max_y"),
        )
        .withColumn(
            "bbox_area",
            (
                (F.col("max_x") - F.col("min_x") + 1)
                * (F.col("max_y") - F.col("min_y") + 1)
            ).cast("bigint"),
        )
    )


# --------------------------------------------------------------------------
# op168: snapshot diff — CDC classification between two as-of states
# --------------------------------------------------------------------------

_T1 = "2024-01-15 00:00:00"

_OP168_SQL = f"""
WITH r1 AS (
  SELECT user_id, value, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           AS rn
  FROM events WHERE ts < TIMESTAMP '{_T1}'
),
s1 AS (SELECT user_id, value AS old_value, event_type AS old_type
       FROM r1 WHERE rn = 1),
r2 AS (
  SELECT user_id, value, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           AS rn
  FROM events
),
s2 AS (SELECT user_id, value AS new_value, event_type AS new_type
       FROM r2 WHERE rn = 1)
SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
       CASE WHEN s1.user_id IS NULL THEN 'added'
            WHEN s2.user_id IS NULL THEN 'removed'
            WHEN s1.old_value = s2.new_value AND s1.old_type = s2.new_type
              THEN 'unchanged'
            ELSE 'changed' END AS status,
       s1.old_value, s2.new_value
FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
"""


@register("op168_snapshot_diff", oracle=_OP168_SQL)
def op168_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: latest state per user as of T1 vs
    latest state now, FULL OUTER joined on the entity key and
    classified added / removed / changed / unchanged. The core of
    every incremental pipeline (Delta MERGE, SCD maintenance — op148
    builds the intervals; this computes the delta that feeds them).

    Scale: both snapshots reduce to one row per entity BEFORE the
    join (row_number top-1 per key — WindowGroupLimit pushes the
    filter into the sort), so the join is entity-sized, not
    event-sized; both sides share the user_id partitioning."""
    e = load_table(spark, sf_dir, "events")

    def snapshot(df: DataFrame, val: str, typ: str) -> DataFrame:
        w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("value").alias(val), F.col("event_type").alias(typ))
        )

    s1 = snapshot(e.filter(F.col("ts") < F.lit(_T1).cast("timestamp")), "old_value", "old_type")
    s2 = snapshot(e, "new_value", "new_type")
    j = s1.join(s2, ["user_id"], "full_outer")
    status = (
        F.when(F.col("old_type").isNull(), F.lit("added"))
        .when(F.col("new_type").isNull(), F.lit("removed"))
        .when(
            (F.col("old_value") == F.col("new_value"))
            & (F.col("old_type") == F.col("new_type")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return j.select("user_id", status.alias("status"), "old_value", "new_value")


# --------------------------------------------------------------------------
# op172: dynamic partition pruning — runtime skip of whole partitions
# --------------------------------------------------------------------------

_OP172_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events WHERE event_type IN ('signup', 'purchase')
GROUP BY event_type
"""


@register("op172_dpp_join", oracle=_OP172_SQL)
def op172_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: events persisted partitioned by
    event_type (the conversion-funnel layout), then joined to a tiny
    conversion-dimension whose FILTER is only known at plan time on
    the dim side — Catalyst turns the dim's filtered keys into a
    runtime subquery on the fact's PartitionFilters
    (dynamicpruningexpression, asserted in tests/test_plans.py), so
    non-conversion partitions are never even listed. op147 proves
    static pruning from a literal predicate; this proves the join-
    driven flavor a star schema needs at 100 TB (filter the date dim,
    scan 7 of 3650 day partitions of the fact).

    The write is part of the operator's semantics (op05/op106/op147
    pattern); per-process scratch (r9: migrated off the shared
    sf-tagged dirs — the overwrite-vs-lazy-read cross-session race;
    ONE scratch root holds both the fact and dim sides, which also
    keeps the old different-SF isolation)."""
    import os as _os

    from ocdb_server_spark.scratch import scratch_dir

    root = scratch_dir("dpp", sf_dir)
    out = _os.path.join(root, "fact")
    e = load_table(spark, sf_dir, "events")
    (
        e.select("event_id", "user_id", "value", "event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    fact = spark.read.parquet(out)
    # Two subtleties make the pruning subquery actually appear:
    # 1. the dim must be a REAL scan, not a LocalRelation — Catalyst
    #    constant-folds a filtered in-memory relation and DPP's
    #    heuristic then sees no Filter node;
    # 2. the dim predicate must be "likely selective" per Catalyst's
    #    isLikelySelective (a binary comparison / IN / LIKE …) — a
    #    bare boolean attribute does NOT qualify (and `flag = true`
    #    gets boolean-simplified back to the bare attribute), hence a
    #    string category filter. Both match how a real date dim is
    #    filtered in a lake anyway.
    dim_path = _os.path.join(root, "dim")
    spark.createDataFrame(
        [("view", "browse"), ("click", "browse"), ("error", "ops"),
         ("signup", "conversion"), ("purchase", "conversion")],
        "etype string, category string",
    ).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("category") == "conversion")),
            fact.event_type == F.col("etype"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


# --------------------------------------------------------------------------
# op178: small-file compaction plan — greedy cumulative bin packing
# --------------------------------------------------------------------------

_COMPACT_TARGET = 65_536  # target output-file bytes (test-scale sized)

_OP178_SQL = f"""
WITH f AS (
  SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY lang, source
),
c AS (
  SELECT lang, source, bytes,
         SUM(bytes) OVER (ORDER BY bytes DESC, lang, source
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM f
),
b AS (SELECT (cum - bytes) // {_COMPACT_TARGET} AS bin, bytes FROM c)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       CAST(MIN(bytes) AS BIGINT) AS min_file_bytes,
       CAST(MAX(bytes) AS BIGINT) AS max_file_bytes
FROM b GROUP BY bin
"""


@register("op178_compaction_plan", oracle=_OP178_SQL)
def op178_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: pack input files into target-size
    output bins (the OPTIMIZE/bin-packing step every parquet lake runs
    nightly — small files are the #1 cheap win at 100 TB, where a
    10⁶-file table turns every scan into task-launch soup).

    "Files" here are the per-(lang, source) byte totals of documents
    (the natural ingest-partition granularity for this corpus); the
    plan is the classic greedy next-fit: order files big-first
    (deterministic tiebreak), running-sum their sizes, and cut a new
    bin every time the cumulative offset crosses a target multiple —
    bin = (cum − size) div target, pure integer arithmetic in both
    engines (Spark's `div`, DuckDB's `//` — exact at ANY cumulative
    magnitude; the earlier double-divide-then-cast agreed with the
    oracle only below 2^53 ≈ 9 PB of cumulative bytes, a boundary a
    100 TB-design op has no business flirting with — round-5 ADVICE).
    Output: one manifest row per planned output file.

    Scale: everything after the first aggregate runs over FILE
    METADATA (~10⁶ rows at 100 TB — kilobytes of state), so the
    global-order window is a deliberate, bounded exception to the
    no-global-sort rule (same argument as op156's source-level
    Pareto); a production planner additionally partitions the window
    by table/date prefix, which this plan picks up for free by adding
    the prefix to partitionBy."""
    d = load_table(spark, sf_dir, "documents")
    files = d.groupBy("lang", "source").agg(
        F.sum("n_chars").cast("bigint").alias("bytes")
    )
    w = W.orderBy(F.col("bytes").desc(), "lang", "source").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    binned = files.select(
        "bytes",
        (F.sum("bytes").over(w) - F.col("bytes")).alias("offset"),
    ).select(
        "bytes",
        F.expr(f"offset div {_COMPACT_TARGET}").alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
        F.min("bytes").cast("bigint").alias("min_file_bytes"),
        F.max("bytes").cast("bigint").alias("max_file_bytes"),
    )


# --------------------------------------------------------------------------
# op179: secondary-sorted export layout + manifest
# --------------------------------------------------------------------------

_N_SHARDS = 8

_OP179_SQL = f"""
WITH s AS (
  SELECT doc_id, lang, n_chars, doc_id % {_N_SHARDS} AS shard
  FROM documents
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM s GROUP BY shard
"""


def sorted_export_frame(d: DataFrame) -> DataFrame:
    """documents sharded (doc_id mod N — engine-portable, no Murmur
    dependency) and SECONDARY-SORTED within each shard by (lang,
    doc_id): `repartition(N, shard)` + `sortWithinPartitions` is
    Spark's secondary-sort idiom; written with
    `.write.partitionBy("shard")`, every shard directory gets exactly
    ONE file (all of a shard's rows hash to one task) whose rows are
    (lang, doc_id)-sorted, so downstream per-lang scans skip row
    groups via parquet min/max stats (the layout op181 audits). No
    global sort anywhere: N independent per-partition sorts.
    tests/test_lakehouse.py writes the export and proves the files
    really are sorted and shard-pure."""
    return (
        d.select(
            "doc_id",
            "lang",
            "n_chars",
            (F.col("doc_id") % _N_SHARDS).alias("shard"),
        )
        .repartition(_N_SHARDS, F.col("shard"))
        .sortWithinPartitions("shard", "lang", "doc_id")
    )


@register("op179_sorted_export_manifest", oracle=_OP179_SQL)
def op179_sorted_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest of the secondary-sorted training export (see
    sorted_export_frame): shard, doc count, byte volume, id range —
    what an export job hands the training loader so it can plan
    readers without listing files. The manifest aggregate consumes
    the sorted frame, so the registered plan carries the real
    repartition+sort; the file-level sortedness proof lives in
    tests/test_lakehouse.py (plan assertions can't see files)."""
    return sorted_export_frame(load_table(spark, sf_dir, "documents")).groupBy(
        "shard"
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


# --------------------------------------------------------------------------
# op181: per-file min/max data-skipping audit
# --------------------------------------------------------------------------

_DATE_CUT = "2000-01-01 00:00:00"   # predicate: o_orderdate >= cut
_PRICE_CUT = 400_000.0              # predicate: o_totalprice >= cut

_OP181_SQL = f"""
WITH m AS (
  SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
         o_orderdate, o_totalprice
  FROM orders
)
SELECT month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(o_orderdate) < TIMESTAMP '{_DATE_CUT}' AS BOOLEAN)
         AS date_skippable,
       CAST(MAX(o_totalprice) < {_PRICE_CUT} AS BOOLEAN) AS price_skippable,
       CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
FROM m GROUP BY month
"""


@register("op181_file_skipping_audit", oracle=_OP181_SQL)
def op181_file_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FILE min/max statistics audit — would a given predicate let
    the scan skip each file entirely? The layout-quality question
    behind every data-skipping format (parquet row-group stats,
    Delta/Iceberg file stats): a column the layout CLUSTERS
    (o_orderdate, because files are month-partitioned) yields mostly
    skippable files for a date predicate, while an UNCLUSTERED column
    (o_totalprice — every month spans the full price range) yields
    none — measuring exactly the contrast op161 scores for Z-order.

    Mechanics: orders are exported month-partitioned (one file per
    month: repartition by the partition column before the write),
    re-read, and audited per physical file via input_file_name() —
    real file paths, real footer-backed stats recomputed from rows.
    The month key is recovered from the hive-style path so the DuckDB
    oracle (which sees no files) can compute identical per-month
    truth straight from the table.

    Scale: the audit is one map-side-partial agg keyed by file name —
    #files rows of state; the export write is the only data-sized
    step and any lake already pays it. Per-process scratch (r9:
    migrated off the shared sf-tagged dir — the overwrite-vs-lazy-read
    cross-session race)."""
    import os

    from ocdb_server_spark.scratch import scratch_dir

    out = os.path.join(scratch_dir("skip_audit", sf_dir), "t")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )
    (
        o.repartition(F.col("month"))
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(out)
    )
    back = spark.read.parquet(out).withColumn("fname", F.input_file_name())
    per_file = back.groupBy("fname").agg(
        F.first("month").alias("month"),  # 1 file : 1 month by construction
        F.count("*").cast("bigint").alias("n_rows"),
        (F.max("o_orderdate") < F.lit(_DATE_CUT).cast("timestamp")).alias(
            "date_skippable"
        ),
        (F.max("o_totalprice") < F.lit(_PRICE_CUT)).alias("price_skippable"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
    )
    return per_file.drop("fname")


# --------------------------------------------------------------------------
# op189: schema-evolution union — reading across an added-column boundary
# --------------------------------------------------------------------------

_OP189_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
),
new AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
),
u AS (
  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM old
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority FROM new
)
SELECT COALESCE(o_orderpriority, '<pre-schema>') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM u GROUP BY 1
"""


@register("op189_union_schema_evolution", oracle=_OP189_SQL)
def op189_union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union across a schema-evolution boundary: the "old" slice of
    orders lacks a column the "new" slice carries (modeling a lake
    table that gained o_orderpriority mid-history);
    `unionByName(allowMissingColumns=True)` aligns by NAME and nulls
    the missing column — the read path every long-lived parquet lake
    needs, and a silent-corruption trap for positional UNION (which
    would mis-zip columns; the oracle spells out the NULL-padded
    by-name semantics explicitly). Observable: per-priority counts
    with the pre-schema rows grouped under a sentinel.

    Scale: pure map-side projection + one 6-group agg."""
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_totalprice")
    new = o.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")
    u = old.unionByName(new, allowMissingColumns=True)
    return (
        u.select(
            F.coalesce(F.col("o_orderpriority"), F.lit("<pre-schema>")).alias(
                "priority"
            ),
            "o_totalprice",
        )
        .groupBy("priority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,2))) as double)"
            ).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# op228: merge-on-read position deletes — Iceberg-v2 semantics, pure Spark
# --------------------------------------------------------------------------

_OP228_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM orders
WHERE o_orderkey % 7 <> 0
GROUP BY o_orderpriority
"""


@register("op228_mor_position_deletes", oracle=_OP228_SQL)
def op228_mor_position_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ position deletes — the Iceberg-v2 / Delta
    deletion-vector read path (round-5 verdict "missing" item 3's
    semantics), expressed in pure Spark since the table-format jars
    are absent: a base table written as immutable parquet files, a
    POSITION-delete file of (file_path, row_index) pairs (addressed
    by physical position via Spark's `_metadata` hidden columns, NOT
    by key — the point of position deletes: no key lookup, no base
    rewrite), and the read path = base ANTI-JOIN deletes on
    (file_path, row_index).

    Certification closes the loop end to end: deletes are generated
    from a predicate (o_orderkey % 7 = 0), the MoR read must
    reproduce EXACTLY the oracle's predicate-filtered aggregate —
    any positional misaddressing (row_index drift, file renaming,
    anti-join key bug) breaks the hash.

    Scale: the delete side is (path, bigint) pairs — tiny vs the
    base; real engines push the anti-join into the scan as a bitmap
    filter per file, which is the same join keyed the same way. The
    base never rewrites; deletes accumulate until compaction
    (op178's planner)."""
    # per-process scratch (r9: this op missed the r8 scratch_dir
    # migration — a fixed sf-tagged dir lets one session overwrite
    # the base files another session's lazy deletes-join still reads)
    from ocdb_server_spark.scratch import scratch_dir

    tag = scratch_dir("mor", sf_dir)
    base_path = os.path.join(tag, "base")
    del_path = os.path.join(tag, "deletes")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    o.repartition(4).write.mode("overwrite").parquet(base_path)
    base = spark.read.parquet(base_path).select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.col("_metadata.file_path").alias("_file"),
        F.col("_metadata.row_index").alias("_pos"),
    )
    # writer-side: resolve the predicate ONCE to physical positions
    (
        base.filter(F.col("o_orderkey") % 7 == 0)
        .select("_file", "_pos")
        .write.mode("overwrite")
        .parquet(del_path)
    )
    deletes = spark.read.parquet(del_path)
    live = base.join(
        F.broadcast(deletes),
        (base["_file"] == deletes["_file"]) & (base["_pos"] == deletes["_pos"]),
        "left_anti",
    )
    return live.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_live"),
        F.sum("o_orderkey").cast("bigint").alias("sum_key"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_price_cents"),
    )


# --------------------------------------------------------------------------
# op230: Hilbert-curve layout — unrolled integer recurrence, both engines
# --------------------------------------------------------------------------

_HIL_N = 256  # 256×256 grid → 8 unrolled steps
_HIL_CHUNK = 256  # cells per layout chunk (≙ target file)


def _hilbert_steps(int_div: str) -> list[tuple[str, str, str]]:
    """The xy→d recurrence unrolled: per step s ∈ {128,…,1} emit
    (d_expr, x_expr, y_expr) over columns named x, y, d. flip
    constant N−1 (both the N−1 and s−1 textbook variants were
    property-verified as true Hilbert curves — bijective with
    unit-step adjacency on the full grid; tests pin this one)."""
    steps = []
    s = _HIL_N // 2
    while s > 0:
        rx = f"((x {int_div} {s}) % 2)"
        ry = f"((y {int_div} {s}) % 2)"
        d = (
            f"d + {s * s} * (CASE WHEN {rx} = 1 "
            f"THEN 3 - {ry} ELSE {ry} END)"
        )
        x = (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {_HIL_N - 1} - y ELSE y END) ELSE x END"
        )
        y = (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {_HIL_N - 1} - x ELSE x END) ELSE y END"
        )
        steps.append((d, x, y))
        s //= 2
    return steps


def _op230_sql() -> str:
    ctes = [
        "h0 AS (SELECT o_custkey % 256 AS x,"
        " CAST(epoch(o_orderdate) AS BIGINT) // 86400 % 256 AS y,"
        " CAST(0 AS BIGINT) AS d, o_custkey % 256 AS x0,"
        " CAST(epoch(o_orderdate) AS BIGINT) // 86400 % 256 AS y0"
        " FROM orders"
    ]
    for k, (d, x, y) in enumerate(_hilbert_steps("//"), start=1):
        ctes.append(
            f"h{k} AS (SELECT ({x}) AS x, ({y}) AS y, ({d}) AS d, x0, y0"
            f" FROM h{k - 1}"
        )
    n = len(_hilbert_steps("//"))
    return (
        "WITH "
        + "),\n".join(ctes)
        + f""")
SELECT d // {_HIL_CHUNK} AS chunk,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(x0) AS BIGINT) AS min_x, CAST(MAX(x0) AS BIGINT) AS max_x,
       CAST(MIN(y0) AS BIGINT) AS min_y, CAST(MAX(y0) AS BIGINT) AS max_y
FROM h{n} GROUP BY chunk
"""
    )


@register("op230_hilbert_layout", oracle=_op230_sql())
def op230_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILBERT-CURVE layout keys — op161's Z-order sibling and the
    curve real lakehouses prefer (Hilbert preserves locality strictly
    better: consecutive keys are ALWAYS grid-adjacent, where Z-order
    jumps at quadrant seams). The xy→d recurrence (8 rotation steps
    for a 256×256 grid) is pure integer CASE arithmetic, unrolled
    identically into the Spark plan and the oracle's chained CTEs —
    op186's discipline applied to a bit-twiddling kernel; the python
    property test proves the mapping is a true Hilbert curve
    (bijection + unit-step adjacency over the full grid), and the
    hash proves both engines compute that same curve.

    The layout measurement: rows binned into 256-cell curve chunks
    (≙ one output file each) report their (x, y) bounding boxes —
    the min/max ranges a file-skipping reader (op181) would prune
    on; Hilbert chunks have near-square boxes, which is the whole
    point. One scan + one agg; the key is computed in the row
    projection, exactly how a writer would `ORDER BY hilbert_d`
    (op179's repartition+sort) before writing."""
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey % 256 AS x",
        "unix_date(cast(o_orderdate as date)) % 256 AS y",
        "cast(0 as bigint) AS d",
        "o_custkey % 256 AS x0",
        "unix_date(cast(o_orderdate as date)) % 256 AS y0",
    )
    for d, x, y in _hilbert_steps("div"):
        o = o.selectExpr(
            f"({x}) AS x", f"({y}) AS y", f"({d}) AS d", "x0", "y0"
        )
    return o.groupBy(
        F.expr(f"d div {_HIL_CHUNK}").alias("chunk")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("x0").cast("bigint").alias("min_x"),
        F.max("x0").cast("bigint").alias("max_x"),
        F.min("y0").cast("bigint").alias("min_y"),
        F.max("y0").cast("bigint").alias("max_y"),
    )


# --------------------------------------------------------------------------
# op249: parquet FOOTER statistics read — metadata-only lake planning
# --------------------------------------------------------------------------

_OP249_SQL = """
SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
FROM orders
GROUP BY month
"""


@register("op249_footer_stats_read", oracle=_OP249_SQL)
def op249_footer_stats_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FOOTER-ONLY statistics read: per-month row counts and
    column min/max extracted from row-group METADATA via pyarrow on
    the executors — the scan that never touches a data page. This is
    the read pattern behind every lake planner (Delta/Iceberg file
    stats, parquet predicate pruning): at 100 TB, answering "which
    files can this predicate skip" costs kilobytes of footers, not
    terabytes of data — and this op proves the footers TELL THE
    TRUTH, because the metadata-derived numbers must hash-match the
    oracle computed by actually scanning the rows. op181's audit
    recomputed stats from rows; this one reads what the writer
    persisted.

    Mechanics: month-partitioned export (1 file/month), the bounded
    file list parallelized into a DataFrame, ParquetFile(...).metadata
    walked per file in mapInPandas (row groups aggregated per file;
    the month recovered from the hive path so the oracle needs no
    file knowledge). Statistics exactness: int64 and double parquet
    stats are exact value copies (no truncation), which is exactly
    what the hash certifies."""
    import os

    # per-process scratch (r9: migrated off the shared sf-tagged dir
    # — the overwrite-vs-lazy-read cross-session race)
    from ocdb_server_spark.scratch import scratch_dir

    out = os.path.join(scratch_dir("footer_stats", sf_dir), "t")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )
    (
        o.repartition(F.col("month"))
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(out)
    )
    import glob

    files = sorted(glob.glob(os.path.join(out, "month=*", "*.parquet")))
    paths = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(min(8, len(files)))

    def read_footers(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in it:
            out_rows = {
                k: []
                for k in (
                    "month",
                    "n_rows",
                    "min_key",
                    "max_key",
                    "min_price",
                    "max_price",
                )
            }
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                names = {
                    md.schema.column(i).name: i for i in range(md.num_columns)
                }
                ki, pi = names["o_orderkey"], names["o_totalprice"]
                n = 0
                mins_k, maxs_k, mins_p, maxs_p = [], [], [], []
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    n += g.num_rows
                    sk = g.column(ki).statistics
                    sp = g.column(pi).statistics
                    mins_k.append(sk.min)
                    maxs_k.append(sk.max)
                    mins_p.append(sp.min)
                    maxs_p.append(sp.max)
                month = [
                    seg.split("=", 1)[1]
                    for seg in path.split(os.sep)
                    if seg.startswith("month=")
                ][0]
                out_rows["month"].append(month)
                out_rows["n_rows"].append(n)
                out_rows["min_key"].append(min(mins_k))
                out_rows["max_key"].append(max(maxs_k))
                out_rows["min_price"].append(min(mins_p))
                out_rows["max_price"].append(max(maxs_p))
            yield pd.DataFrame(out_rows)

    per_file = paths.mapInPandas(
        read_footers,
        "month string, n_rows long, min_key long, max_key long,"
        " min_price double, max_price double",
    )
    return per_file.groupBy("month").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.min("min_key").cast("bigint").alias("min_key"),
        F.max("max_key").cast("bigint").alias("max_key"),
        F.min("min_price").alias("min_price"),
        F.max("max_price").alias("max_price"),
    )


# --------------------------------------------------------------------------
# table-log primitives (used by op255 and the crash-window tests)
# --------------------------------------------------------------------------


def log_dir(root: str) -> str:
    return os.path.join(root, "log")


def log_commit(
    root: str, version: int, files: list[str], delete_files: list[str]
) -> None:
    """Atomically commit snapshot `version`: write the full listing to
    a tmp file, then os.replace it to `log/v{version}.json` — either
    the version exists (committed) or it doesn't; a crash before the
    replace leaves orphan data files no reader ever resolves
    (op234's commit discipline, per-version)."""
    os.makedirs(log_dir(root), exist_ok=True)
    entry = {
        "version": version,
        "files": sorted(files),
        "delete_files": sorted(delete_files),
    }
    path = os.path.join(log_dir(root), f"v{version}.json")
    publish(path, lambda f: f.write(json.dumps(entry).encode()))  # the commit point


def read_log(root: str, version: int) -> dict:
    with open(os.path.join(log_dir(root), f"v{version}.json")) as f:
        return json.load(f)


def read_snapshot(spark: SparkSession, root: str, version: int) -> DataFrame:
    """Resolve snapshot `version` from the log: union its immutable
    data files, then anti-join its position-delete files on
    (file_path, row_index) — op228's MoR read path. The delete side
    is metadata-sized and broadcast; real engines push the same join
    into the scan as a per-file bitmap."""
    entry = read_log(root, version)
    base = spark.read.parquet(*entry["files"]).withColumns(
        {
            "_file": F.col("_metadata.file_path"),
            "_pos": F.col("_metadata.row_index"),
        }
    )
    if entry["delete_files"]:
        deletes = spark.read.parquet(*entry["delete_files"]).select(
            "_file", "_pos"
        )
        base = base.join(
            F.broadcast(deletes), ["_file", "_pos"], "left_anti"
        )
    return base.drop("_file", "_pos")


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(path, n)
        for n in os.listdir(path)
        if n.endswith(".parquet")
    ]


def build_table_log(
    spark: SparkSession, sf_dir: str, root: str, upto_version: int = 3
) -> None:
    """Drive the three commits of op255's contract against `root`:

      v1  append: orders (3 columns) written as 4 immutable files
      v2  delete: position-delete file for o_orderkey % 7 = 0
                  (base files UNCHANGED — merge-on-read)
      v3  compact: v2's live rows rewritten as 2 files, deletes
                  dropped (op178's step materialized)

    Split out of the op so the crash-window test can stop between any
    data write and its log commit."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )

    # v1: append
    base_path = os.path.join(root, "data", "base")
    src.repartition(4).write.mode("overwrite").parquet(base_path)
    log_commit(root, 1, _parquet_files(base_path), [])
    if upto_version < 2:
        return

    # v2: position-delete commit — physical addressing via _metadata,
    # resolved ONCE writer-side from the predicate
    del_path = os.path.join(root, "data", "deletes-v2")
    (
        spark.read.parquet(*read_log(root, 1)["files"])
        .select(
            F.col("_metadata.file_path").alias("_file"),
            F.col("_metadata.row_index").alias("_pos"),
            "o_orderkey",
        )
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("_file", "_pos")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(del_path)
    )
    log_commit(
        root, 2, read_log(root, 1)["files"], _parquet_files(del_path)
    )
    if upto_version < 3:
        return

    # v3: compaction — rewrite v2's LIVE rows, drop the delete file
    compact_path = os.path.join(root, "data", "compact-v3")
    read_snapshot(spark, root, 2).repartition(2).write.mode(
        "overwrite"
    ).parquet(compact_path)
    log_commit(root, 3, _parquet_files(compact_path), [])


# --------------------------------------------------------------------------
# op255: multi-commit snapshot isolation over the mini table-log
# --------------------------------------------------------------------------

# The oracle restates BOTH sides of the contract: the per-version DATA
# (v1 = full orders; v2 and v3 = the predicate-filtered table —
# compaction must be invisible to readers) and the per-version LOG
# STRUCTURE (file counts: append 4+0, MoR delete 4+1, compacted 2+0).
_OP255_SQL = """
WITH v AS (SELECT UNNEST([1, 2, 3]) AS version),
agg AS (
  SELECT v.version,
         CAST(COUNT(*) AS BIGINT) AS n_live,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents
  FROM v JOIN orders ON v.version = 1 OR o_orderkey % 7 <> 0
  GROUP BY v.version
),
layout(version, n_data_files, n_delete_files) AS (
  VALUES (1, 4, 0), (2, 4, 1), (3, 2, 0)
)
SELECT CAST(a.version AS BIGINT) AS version,
       CAST(l.n_data_files AS BIGINT) AS n_data_files,
       CAST(l.n_delete_files AS BIGINT) AS n_delete_files,
       a.n_live, a.sum_key, a.sum_price_cents
FROM agg a JOIN layout l ON a.version = l.version
"""


@register("op255_table_log_snapshots", oracle=_OP255_SQL)
def op255_table_log_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mini TABLE-LOG with multi-commit snapshot isolation (round-7
    verdict item 5): three commits — v1 append (4 immutable parquet
    files), v2 merge-on-read position-delete (op228's `_metadata`
    addressing; base files untouched), v3 compaction (op178's step:
    live rows rewritten as 2 files, deletes dropped) — each committed
    by op234's atomic os.replace of a full-listing log entry. Readers
    resolve every version FROM THE LOG ONLY; output is one row per
    version: its log layout (data/delete file counts) and its exact
    data aggregate.

    The hash certifies the whole contract at once: v1 must still read
    the PRE-delete table after v2 and v3 land (immutable files + log
    isolation), v2 must anti-join exactly the predicate's positions,
    and v3 must be byte-equivalent to v2 (n_live/sum_key/
    sum_price_cents identical) while its layout row proves the
    rewrite actually happened (2 data files, 0 delete files). The
    crash-window test (tests/test_lakehouse.py) additionally stops
    between each data write and its log commit and proves readers
    never see the uncommitted future.

    Scale: the log is one JSON listing per version (a production log
    appends actions + checkpoints, same atomicity); data moves only
    at v1 (the append) and v3 (the compaction rewrite — the nightly
    OPTIMIZE's cost); v2 moves (path, bigint) pairs. Reads are
    file-pruned unions + one broadcast anti-join — no shuffle of the
    base anywhere."""
    # per-process root + dead-PID reaping (scratch.scratch_dir):
    # isolation from concurrent sessions without accumulating a table
    # copy per historical PID in /tmp
    root = scratch_dir("tablelog", sf_dir)
    build_table_log(spark, sf_dir, root)

    frames = []
    for version in (1, 2, 3):
        entry = read_log(root, version)
        snap = read_snapshot(spark, root, version)
        frames.append(
            snap.agg(
                F.lit(version).cast("bigint").alias("version"),
                F.lit(len(entry["files"])).cast("bigint").alias("n_data_files"),
                F.lit(len(entry["delete_files"]))
                .cast("bigint")
                .alias("n_delete_files"),
                F.count("*").cast("bigint").alias("n_live"),
                F.sum("o_orderkey").cast("bigint").alias("sum_key"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_price_cents"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# --------------------------------------------------------------------------
# op264: CDC apply-changes — MERGE a keyed change feed into a snapshot
# --------------------------------------------------------------------------
# Change-feed derivation from `events` (deterministic, documented):
# event_type 'error' → DELETE the key, anything else → UPSERT the key's
# balance to `value`; sequence order is (ts, event_id). The base
# snapshot is customer c_custkey ≥ 5, a floor chosen so the feed
# exercises ALL merge outcomes at every shipped SF (sf0.001's feed
# only reaches user_id 14): user_id < 5 → INSERT (no base row) or the
# delete-of-nonexistent no-op, ≥ 5 → UPDATE/DELETE, keys beyond the
# feed's reach → base rows passing through unchanged.
_CDC_BASE_MIN_KEY = 5


def cdc_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The op264/op265 change feed, defined ONCE (round-13 review: the
    streaming twin used to re-derive it inline — an edit here would
    have silently diverged the op from the oracle both share): events →
    (key=user_id, seq=(ts, event_id), op 'D' on event_type 'error'
    else 'U', payload balance=value). Reads through load_table so the
    events ts normalization (nanos→micros legacy layouts, UTC pinning)
    applies — a raw parquet read would order sub-µs timestamps
    differently than the µs-truncated oracle."""
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("value").alias("balance"),
    )


def cdc_base_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The op264/op265 base snapshot, defined once: customer keys ≥
    _CDC_BASE_MIN_KEY (floor chosen so ALL merge outcomes occur at
    every shipped SF) as (user_id, balance)."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") >= _CDC_BASE_MIN_KEY)
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_acctbal").alias("balance"),
        )
    )


_OP264_SQL = f"""
WITH ch AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         value AS new_balance,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_changes
  FROM events
),
last AS (
  SELECT user_id, op, new_balance, n_changes FROM ch WHERE rn = 1
),
base AS (
  SELECT c_custkey, c_acctbal FROM customer
  WHERE c_custkey >= {_CDC_BASE_MIN_KEY}
)
SELECT COALESCE(base.c_custkey, last.user_id) AS user_id,
       CASE WHEN last.op = 'U' THEN last.new_balance
            ELSE base.c_acctbal END AS balance,
       CASE WHEN base.c_custkey IS NULL THEN 'inserted'
            WHEN last.user_id IS NULL THEN 'unchanged'
            ELSE 'updated' END AS status,
       CAST(COALESCE(last.n_changes, 0) AS BIGINT) AS n_changes
FROM base FULL OUTER JOIN last ON base.c_custkey = last.user_id
WHERE last.op IS NULL OR last.op <> 'D'
"""


@register("op264_cdc_apply_changes", oracle=_OP264_SQL)
def op264_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC change feed to a base snapshot — the MERGE INTO /
    APPLY CHANGES semantics of a lakehouse upsert sink, batch-shaped
    (op74 is the streaming foreachBatch twin; op148/op168/op228/op255
    simulate the surrounding table format, this op performs the merge
    itself). Feed: events → (key=user_id, seq=(ts, event_id),
    op='D' for event_type 'error' else 'U', payload=value);
    last-writer-wins per key; a terminal 'D' drops the key (including
    delete-of-nonexistent = no row, the MERGE no-op case); survivors
    carry status inserted/updated/unchanged and the key's change
    count.

    The merge itself is the PUBLIC combinator
    functions/cdc.py:apply_changes (generic over key/seq/op/payload
    columns); this op is its registered instantiation over the
    events→customer feed and the DuckDB-oracle certification of its
    semantics.

    Float discipline: `balance` is only ever COPIED (events.value or
    customer.c_acctbal, both parquet doubles read identically by both
    engines) — never recomputed, so no float arithmetic crosses
    engines at all.

    100 TB plan shape: one key-partitioned window over the feed
    (shuffle carries only (key, seq, op, payload) — at CDC scale the
    feed is a day's changes, orders smaller than the base), collapsing
    it to ≤1 row/key BEFORE the merge join, then ONE full-outer
    sort-merge join against the base on the key. The base is never
    shuffled more than once and never windowed; with a bucketed/
    z-ordered base (op159/op161) the join co-locates and the merge is
    a map-side zip per bucket. AQE broadcasts the collapsed feed when
    a partition's slice is small enough — the classic big-base ×
    small-delta MERGE."""
    changes = cdc_changes_feed(spark, sf_dir)
    base = cdc_base_snapshot(spark, sf_dir)
    return apply_changes(
        base,
        changes,
        key="user_id",
        seq=["ts", "event_id"],
        op_col="op",
        payload=["balance"],
    )


@register("op265_stream_cdc_apply_changes", oracle=_OP264_SQL)
def op265_stream_cdc_apply_changes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING CDC: op264's apply-changes MERGE driven by a real
    Structured Streaming query — the feed split into 3 parquet files
    with event timestamps deliberately INTERLEAVED across them
    (event_id mod 3), streamed back one file per micro-batch, each
    batch merged exactly-once into a generation-versioned store.

    What each certification layer proves:
    - the DuckDB hash gate (op264's own oracle SQL — the end state
      over the whole feed): micro-batching the feed, in an order that
      puts OLDER changes in LATER batches, produces the byte-identical
      end state the one-shot batch MERGE produces. That is the
      last-writer-wins guarantee a streaming CDC sink must keep and a
      naive per-batch upsert (op74's shape) provably does not: the
      per-key applied-seq watermark in the store is what makes batch
      order irrelevant (functions/cdc.py:apply_changes_incremental).
    - the in-op replay assert (op234's pattern): the last batch is
      re-applied with its own data after the stream drains — the
      manifest marker makes it a no-op, so a retrying driver cannot
      double-apply against the MUTABLE store (worse than op234's
      append-only case: double-applying an append is visible rows,
      double-applying a merge is silently wrong n_changes).
    - tests/test_lakehouse.py pins the semantics kernel directly:
      incremental-over-shuffled-splits == one-shot apply_changes, a
      duplicated batch commits nothing, tombstones keep deleted keys'
      watermarks alive for later re-inserts.

    Float discipline: `balance` is only ever COPIED (events.value or
    customer.c_acctbal, parquet doubles round-tripping bit-exact
    through the generation store) — no float arithmetic crosses
    engines.

    100 TB shape: per batch, ONE key-window over the micro-batch
    (tiny — a CDC batch is seconds of changes) and ONE full-outer
    join against the store; the store shuffles once per batch, is
    never windowed, and never rewrites more than one generation.
    Generations + atomic markers are the table-format transaction
    log in miniature (op255's simulation made load-bearing); a real
    deployment swaps the parquet generations for Delta/Iceberg
    commits with the SAME foreachBatch body."""
    return stream_cdc_apply_changes(spark, sf_dir)
