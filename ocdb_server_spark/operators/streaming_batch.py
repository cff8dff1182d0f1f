"""Streaming operators, batch-equivalent declarations — SURVEY.md §2.9
(op69–op74).

The reference is strictly request/response batch (Tornado handlers →
Mongo queries); streaming is a north-star addition. Per SURVEY.md
§2.9's implementation rule, the `queries()` entry computes the
batch-equivalent DataFrame (so the DuckDB oracle applies); the same
logic executed as a real Structured Streaming query (readStream +
availableNow trigger + memory sink) lives in `tests/test_streaming.py`,
which checks it against the batch op. op206, op208, op218, op219,
op226 and op234 instead run their real streaming query
(`ocdb_server_spark.streaming.jobs`) and return its result.

Scale notes: tumbling/sliding windows are pure groupBy shuffles on
(window, key); session windows and dedup are stateful — state is
bounded by the watermark (op72/op73), which is the only thing that
makes them runnable on an unbounded 100 TB/day stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ocdb_server_spark.io import load_table
from ocdb_server_spark.operators._helpers import dsum, sql_dsum
from ocdb_server_spark.registry import register
from ocdb_server_spark.streaming.jobs import (
    SESS_GAP_MS,
    SESS_WM_DELAY_MS,
    SQL_QUANT_VALUE,
    stream_exactly_once_manifest_sink,
    stream_tws_centroid_maintenance,
    stream_tws_mapstate_type_stats,
    stream_tws_session_timers,
    stream_tws_topk_liststate,
    stream_tws_user_stats,
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events.ts is parquet timestamp[ns]; Spark truncates to µs on read.
    # The oracle casts TIMESTAMP_NS → TIMESTAMP the same way.
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


@register(
    "op69_stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('value', 18, 6)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def op69_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h tumbling window count+sum per event_type.

    Expressed as an arithmetic time-bucket groupBy (`date_trunc('hour')`)
    rather than `window(ts, '1 hour')`: for an epoch-aligned tumbling
    window the two are semantically identical (Catalyst itself rewrites
    a single tumbling window into a bucket projection), but the bucket
    form skips the window-struct build+extract and keeps the group key a
    plain timestamp — measured ~15% faster at sf0.1 with a bit-identical
    result (tests/test_streaming.py pins the equivalence). The true
    streaming surface (readStream + watermark over `window()`) is
    exercised by tests/test_streaming.py's stream_tumbling; op70 keeps
    the sliding-window `window()` expression."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count("*").alias("n"), dsum("value", 18, 6).alias("sum_value"))


@register(
    "op70_stream_sliding",
    oracle=f"""
    WITH g AS (
      -- make_timestamp(µs) keeps the value timezone-naive; to_timestamp
      -- would return TIMESTAMPTZ and hash differently than Spark's
      -- TIMESTAMP under the driver's value compare.
      SELECT make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 1800) * 1800 AS BIGINT) * 1000000) AS half_slot,
             value
      FROM events
    ),
    exploded AS (
      SELECT half_slot AS window_start, value FROM g
      UNION ALL
      SELECT half_slot - INTERVAL 30 MINUTE AS window_start, value FROM g
    )
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('value', 18, 6)} AS sum_value
    FROM exploded
    GROUP BY window_start
    """,
)
def op70_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h window sliding every 30min — each event lands in exactly two
    windows (starts at floor30(ts) and floor30(ts)−30min), which is how
    the oracle enumerates them."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n"), dsum("value", 18, 6).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "n", "sum_value")
    )


@register(
    "op71_stream_session",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM t
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, session_id
    """,
)
def op71_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 30min gap (`session_window` —
    works in batch groupBy too). Session end = last event + gap, per
    Spark's definition; the oracle is the classic gaps-and-islands
    (lag → new-session flag → running sum → group)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register("op72_stream_watermark_late", oracle=None)  # ROWS: watermark not batch-expressible
def op72_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics, batch-reformulated: treating event_id as
    arrival order, a row is late-beyond-watermark if its ts is more
    than 1h behind the max ts seen so far; late rows are dropped before
    a tumbling aggregation. The true streaming behavior (state eviction,
    dropped late rows) is asserted in tests/test_streaming.py with a
    crafted out-of-order micro-batch sequence."""
    ev = _events(spark, sf_dir)
    w = W.orderBy("event_id").rowsBetween(W.unboundedPreceding, -1)
    marked = ev.withColumn("wm", F.max("ts").over(w) - F.expr("INTERVAL 1 HOUR"))
    kept = marked.filter(F.col("wm").isNull() | (F.col("ts") >= F.col("wm")))
    return (
        kept.groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )


@register("op73_stream_dedup_stateful", oracle=None)  # ROWS
def op73_stream_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dedup on event_id (`dropDuplicatesWithinWatermark` in
    the streaming rig). Batch equivalent: inject duplicates (every
    100th event re-appears) and drop them; row count must equal the
    original count."""
    ev = _events(spark, sf_dir)
    dups = ev.filter(F.col("event_id") % 100 == 0)
    return ev.unionByName(dups).dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )


@register("op74_stream_foreach_batch_upsert", oracle=None)  # ROWS
def op74_stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert end-state: latest value per user (the foreachBatch
    merge sink's final table; streamed for real by
    tests/test_streaming.py's stream_upsert_state). Batch equivalent:
    row_number over arrival order desc = 1."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("ts").alias("last_ts"), F.col("value").alias("last_value"))
    )


@register(
    "op127_stream_static_join",
    oracle=f"""
    SELECT c_mktsegment, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('value', 18, 6)} AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def op127_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined to the static
    customer dimension (user_id = c_custkey), aggregated per
    (segment, event_type). In Structured Streaming this is the
    canonical stream⋈static pattern — the dimension broadcasts into
    every micro-batch with no state store involved. Batch equivalent:
    broadcast hash join + one partial+final agg; value sums in exact
    decimal (order-independent across micro-batches AND partitions)."""
    ev = _events(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        ev.join(F.broadcast(c), ev.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            dsum("value", 18, 6).alias("sum_value"),
        )
    )


@register(
    "op146_stream_stream_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP))
             AS delay_us,
           p.value AS purchase_value
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR
    """,
)
def op146_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch-equivalent: every (view,
    purchase) pair of the same user with the purchase inside the hour
    after the view — attribution joins, THE canonical stream-stream
    workload.

    Scale notes: as a stream, state is bounded by the watermark × the
    1 h join window per side (Spark evicts rows once the other side's
    watermark passes their bound); as a batch plan, it's one shuffle
    of both filtered sides on user_id with the time predicate applied
    post-join — the event_type filters push to the scans."""
    ev = _events(spark, sf_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            (
                F.unix_micros("purchase_ts") - F.unix_micros("view_ts")
            ).alias("delay_us"),
            "purchase_value",
        )
    )


@register(
    "op206_stream_tws_user_stats",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({SQL_QUANT_VALUE})
                AS BIGINT) AS sum_q,
           CAST(MAX({SQL_QUANT_VALUE})
                AS BIGINT) AS max_q
    FROM events GROUP BY user_id
    """,
)
def op206_stream_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIRST hash-certified arbitrary-state streaming op: unlike
    op69-op74 (whose queries() entries are batch-equivalents, per the
    §2.9 convention), this entry RUNS the real Spark 4.1
    transformWithState pipeline (Row API) — RocksDB state store,
    schema'd value state, Update-mode emissions, availableNow trigger
    (streaming/jobs.stream_tws_user_stats; runs without an installed
    protobuf through the vendored fallback, _vendor.py) — and its final
    per-user (n_events, sum_q, max_q) hash-matches the plain SQL
    aggregate. That works because the state transition is
    order-insensitive integer algebra: value is quantized JVM-side
    with the oracle's own decimal-cast expression BEFORE entering
    Python state, so the stream's nondeterministic batch/row order
    cannot move a single bit of the final answer. Deliberately eager
    (runs the stream at build time, like op74): the certified artifact
    IS the streaming execution."""
    from ocdb_server_spark.streaming.jobs import stream_tws_user_stats

    return stream_tws_user_stats(spark, sf_dir)


@register(
    "op208_stream_centroid_maintenance",
    oracle="""
    WITH z AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS x
      FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_q
    FROM z GROUP BY label, dim
    """,
)
def op208_stream_centroid_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming centroid maintenance, hash-certified (§7.5's deferred
    design, unblocked by the vendored protobuf): embedding vectors
    arrive as a stream, explode JVM-side to quantized (label, dim, q)
    rows, and a transformWithState processor keyed by the
    COMPOSITE (label, dim) key maintains exact integer (n, sum_q)
    accumulators — the incremental twin of op145's batch centroids
    (centroid component = sum_q/n/1e6 downstream, kept integral here
    so the SQL oracle is exact). Same determinism argument as op206:
    int64 state algebra is order-insensitive, so the stream's batch
    order cannot change the final hash. Runs the REAL pipeline
    (RocksDB state store, Update mode, availableNow) at build time."""
    from ocdb_server_spark.streaming.jobs import stream_tws_centroid_maintenance

    return stream_tws_centroid_maintenance(spark, sf_dir)


@register(
    "op218_stream_tws_topk",
    oracle=f"""
    WITH q AS (
      SELECT user_id, event_id,
             {SQL_QUANT_VALUE} AS q
      FROM events),
    r AS (
      SELECT user_id, event_id, q,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY q DESC, event_id) AS rank
      FROM q)
    SELECT user_id, CAST(rank AS INTEGER) AS rank, q, event_id
    FROM r WHERE rank <= 3
    """,
)
def op218_stream_tws_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user TOP-3 via transformWithState LIST STATE —
    the third TWS state primitive run for real (ValueState:
    op206; composite-key ValueState: op208), hash-certified against
    the batch window top-k because the kept list is a pure function
    of the input set: (q, event_id) is unique, the order
    (q DESC, event_id) total, the merge-and-recut transition
    order-insensitive, and q quantized JVM-side pre-state (op206's
    rule). State is bounded at 3 rows/key — streaming top-k with
    O(k) memory, not 'sort the history'. Eager by design: the
    certified artifact IS the streaming execution
    (streaming/jobs.stream_tws_topk_liststate)."""
    from ocdb_server_spark.streaming.jobs import stream_tws_topk_liststate

    return stream_tws_topk_liststate(spark, sf_dir)


@register(
    "op219_stream_tws_mapstate",
    oracle=f"""
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({SQL_QUANT_VALUE})
                AS BIGINT) AS sum_q
    FROM events GROUP BY user_id, event_type
    """,
)
def op219_stream_tws_mapstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user per-event-type running stats via TWS MAP STATE — the
    last of the three TWS state primitives run for real (ValueState
    op206, ListState op218): the event_type sub-key makes state
    access a RocksDB point lookup instead of a whole-value rewrite,
    the shape per-entity-per-category state takes at serving scale.
    Hash-certified against the batch groupBy because map values are
    order-insensitive int64 (count, sum) algebra over JVM-quantized
    inputs (streaming/jobs.stream_tws_mapstate_type_stats)."""
    from ocdb_server_spark.streaming.jobs import stream_tws_mapstate_type_stats

    return stream_tws_mapstate_type_stats(spark, sf_dir)


_OP226_GAP_US = SESS_GAP_MS * 1000


def _op226_sql() -> str:
    """Sessionization + watermark-timer close, restated in SQL: gap
    islands per user; every non-final session emits as 'batch'; the
    final session emits as 'timer' iff its gap deadline
    (end_ms + 30 min) is <= the run's final watermark
    (floor(max_us/1000) - 1000 ms) — the comparison direction pinned
    empirically against the real timer machinery at two scales."""
    return f"""
WITH q AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         {SQL_QUANT_VALUE} AS q
  FROM events),
o AS (
  SELECT user_id, us, event_id, q,
         LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
  FROM q),
g AS (
  SELECT user_id, us, q,
         SUM(CASE WHEN prev IS NULL OR us - prev > {_OP226_GAP_US}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS UNBOUNDED PRECEDING) AS grp
  FROM o),
sess AS (
  SELECT user_id, grp, MIN(us) AS start_us, MAX(us) AS end_us,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(q) AS BIGINT) AS sum_q
  FROM g GROUP BY user_id, grp),
lastg AS (SELECT user_id, MAX(grp) AS lg FROM sess GROUP BY user_id),
wm AS (SELECT MAX(us) // 1000 - {SESS_WM_DELAY_MS} AS wm_ms FROM q)
SELECT s.user_id,
       CASE WHEN s.grp < l.lg THEN 'batch' ELSE 'timer' END AS kind,
       s.start_us, s.end_us, s.n, s.sum_q
FROM sess s JOIN lastg l ON s.user_id = l.user_id CROSS JOIN wm
WHERE s.grp < l.lg OR (s.end_us // 1000 + {SESS_GAP_MS}) <= wm.wm_ms
"""


@register(
    "op226_stream_session_timers",
    oracle=_op226_sql(),
)
def op226_stream_session_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time sessionization with TIMER-driven close — the last
    unexercised piece of the TWS surface (registerTimer /
    listTimers / deleteTimer / handleExpiredTimer, timeMode
    EventTime): mid-stream sessions split on the 30-min gap inline;
    each user's final session closes only when the global watermark
    passes its deadline, emitted from handleExpiredTimer with
    kind='timer' so the oracle certifies the timer path distinctly
    from the arithmetic. Sessions the watermark never reaches stay
    open and appear on neither side. Full determinism rationale in
    streaming/jobs.stream_tws_session_timers."""
    from ocdb_server_spark.streaming.jobs import stream_tws_session_timers

    return stream_tws_session_timers(spark, sf_dir)


@register(
    "op234_stream_exactly_once_sink",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({SQL_QUANT_VALUE})
                AS BIGINT) AS sum_q,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events GROUP BY event_type
    """,
)
def op234_stream_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming file sink: foreachBatch + atomic
    manifest commit (write data, then os.replace the manifest — the
    commit point), readers list the manifest only. Batch 0 is
    REPLAYED inside the op with identical data (Spark's retry
    behavior) and must commit nothing; the final per-type aggregate
    hash-matching the events oracle certifies no duplication — a
    replayed batch would double its rows. op74's upsert sibling for
    the append-only case; the manifest doubles as op133's export
    manifest. (streaming/jobs.stream_exactly_once_manifest_sink)."""
    from ocdb_server_spark.streaming.jobs import stream_exactly_once_manifest_sink

    return stream_exactly_once_manifest_sink(spark, sf_dir)
