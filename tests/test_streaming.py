"""Structured Streaming execution tests (SURVEY.md §5.2.4).

The oracle gate checks op69–op74's *batch-equivalent* DataFrames; these
tests prove the same logic runs as real streaming queries (readStream →
availableNow → memory sink) and produces identical results. The
streaming twins of op69–op74 and of the stream joins (op127, op146)
live here; the registered streaming ops (transformWithState, the
exactly-once sink, the CDC apply) run their queries in
``ocdb_server_spark.streaming.jobs``.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.io import table_path
from ocdb_server_spark.registry import load_all
from ocdb_server_spark.streaming import jobs

OPS = load_all()


def stream_tumbling(spark, sf_dir):
    """op69 as a streaming query: watermark + 1h tumbling windows."""
    from ocdb_server_spark.operators._helpers import dsum

    ev = jobs._stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        # sum_value included: the batch twin certifies it, and decimal
        # partial sums being order-independent ACROSS MICRO-BATCHES is
        # the one dimension batch certification can't cover
        .agg(F.count("*").alias("n"), dsum("value", 18, 6).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return jobs._run_to_memory(agg, mode="complete")


def stream_sliding(spark, sf_dir):
    """op70 as a streaming query: 1h windows sliding every 30min."""
    ev = jobs._stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    return jobs._run_to_memory(agg, mode="complete")


def stream_session(spark, sf_dir):
    """op71 as a streaming query: session windows, 30min gap."""
    ev = jobs._stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return jobs._run_to_memory(agg, mode="complete")


def stream_dedup(spark, sf_dir):
    """op73 as a streaming query: dropDuplicatesWithinWatermark."""
    ev = jobs._stream_events(spark, sf_dir)
    dd = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(["event_id"])
    return jobs._run_to_memory(dd.select("event_id", "user_id"), mode="append")


def stream_upsert_state(spark, sf_dir, store_dir, n_buckets=16):
    """op74 as a streaming query: foreachBatch MERGE into a
    bucket-partitioned parquet keyed store under `store_dir` — a real
    file-backed sink, fully distributed (no driver-side state, no
    collect of data rows). Returns the final store.

    MERGE mechanics per micro-batch:
      1. reduce the batch to latest-per-user (max of (ts, event_id,
         value) structs — same tie-break as op74's batch twin);
      2. bucket = pmod(xxhash64(user_id), n_buckets) — the store is
         partitioned by it, so the merge reads ONLY the buckets the
         batch touches and dynamic partition overwrite rewrites only
         those directories;
      3. union store-side affected buckets with the batch, keep the
         max struct per user, localCheckpoint (so the overwrite never
         reads the files it is replacing), write."""
    path = store_dir + "/state"
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")

    def upsert(batch_df, epoch_id):
        latest = (
            batch_df.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
            .select(
                "user_id",
                F.col("m.ts").alias("last_ts"),
                F.col("m.event_id").alias("last_event_id"),
                F.col("m.value").alias("last_value"),
            )
            .withColumn("bucket", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)))
        )
        # "first batch" means the store does not exist: probe that
        # through the Hadoop FileSystem API, never infer it from a
        # failed read (a transient read error would then rewrite every
        # touched bucket from the batch alone, losing stored users)
        sc = spark.sparkContext
        jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            touched = [
                r["bucket"] for r in latest.select("bucket").distinct().collect()
            ]  # ≤ n_buckets partition VALUES — metadata, not data
            cur = spark.read.parquet(path).filter(F.col("bucket").isin(touched))
            merged = cur.unionByName(latest)
        else:
            merged = latest
        out = (
            merged.groupBy("user_id", "bucket")
            .agg(F.max(F.struct("last_ts", "last_event_id", "last_value")).alias("m"))
            .select("user_id", "m.last_ts", "m.last_event_id", "m.last_value", "bucket")
            # break the read->overwrite file dependency before rewriting
            .localCheckpoint(eager=True)
        )
        out.write.mode("overwrite").partitionBy("bucket").parquet(path)

    # conf set inside the restoring try: the schema read and start()
    # can throw, and dynamic overwrite must not leak into later writes
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        ev = jobs._stream_events(spark, sf_dir)
        q = ev.writeStream.foreachBatch(upsert).trigger(availableNow=True).start()
        jobs._await(q, "stream_upsert_state")
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    return spark.read.parquet(path)


def stream_static_join(spark, sf_dir):
    """op127 streamed for real: the event stream enriched by the
    STATIC customer dimension (stream⋈static broadcast join — no state
    store) and aggregated per (segment, event_type)."""
    from ocdb_server_spark.operators._helpers import dsum

    ev = jobs._stream_events(spark, sf_dir)
    c = (
        spark.read.parquet(table_path(sf_dir, "customer"))
        .select("c_custkey", "c_mktsegment")
    )
    agg = (
        ev.join(F.broadcast(c), ev.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        # sum_value: exact decimal partial sums being order-independent
        # across micro-batches is the claim the batch twin can't certify
        .agg(F.count("*").alias("n"), dsum("value", 18, 6).alias("sum_value"))
    )
    return jobs._run_to_memory(agg, mode="complete")


def stream_stream_join(spark, sf_dir):
    """op146 as a REAL stream-stream join: both sides are watermarked
    file streams; Spark buffers each side in the state store and evicts
    a row once the opposite watermark passes its join bound (view rows
    live ≤ watermark + 1 h) — the only way an unbounded attribution
    join stays finite-state. Inner join + append mode emits each
    matched pair exactly once; the test below proves it row-identical
    to op146's batch plan."""
    ev = jobs._stream_events(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "30 days")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "30 days")
    )
    joined = v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "user_id",
        "view_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("delay_us"),
        "purchase_value",
    )
    return jobs._run_to_memory(joined, mode="append")


def _rows(df, cols):
    out = [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def test_stream_tumbling_matches_batch(spark, sf_dir):
    streamed = stream_tumbling(spark, sf_dir)
    batch = OPS["op69_stream_tumbling"].fn(spark, sf_dir)
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_stream_events_reads_directory_layout(spark, sf_dir, tmp_path):
    """_stream_events must not apply pathGlobFilter ('events.parquet')
    unconditionally: it matches LEAF file names, so on the
    production/stress layout where events.parquet is a DIRECTORY of
    part-files it matches nothing and every TWS op silently streams 0
    rows (only op234's no-batches guard would notice, on the 30×
    dataset). The source must read BOTH layouts
    identically: same rows from the single-file driver layout and
    from a directory-of-part-files copy."""
    import os
    import shutil

    single = jobs._run_to_memory(jobs._stream_events(spark, sf_dir))
    n_single = single.count()
    assert n_single > 0

    # rebuild the same sf_dir with events as a 2-part DIRECTORY
    dir_sf = str(tmp_path / "sfdir")
    os.makedirs(dir_sf)
    spark.read.parquet(table_path(sf_dir, "events")).repartition(2).write.parquet(
        os.path.join(dir_sf, "events.parquet")
    )
    streamed = jobs._run_to_memory(jobs._stream_events(spark, dir_sf))
    assert streamed.count() == n_single
    assert sorted(r["event_id"] for r in streamed.collect()) == sorted(
        r["event_id"] for r in single.collect()
    )

    # the embeddings stream (op208's source) had the identical bug —
    # cover it through the shared helper
    single_emb = jobs._run_to_memory(
        jobs._stream_source(spark, sf_dir, "embeddings").select("vec_id")
    )
    n_emb = single_emb.count()
    assert n_emb > 0
    spark.read.parquet(table_path(sf_dir, "embeddings")).repartition(2).write.parquet(
        os.path.join(dir_sf, "embeddings.parquet")
    )
    dir_emb = jobs._run_to_memory(
        jobs._stream_source(spark, dir_sf, "embeddings").select("vec_id")
    )
    assert dir_emb.count() == n_emb

    # The layout probe must go through the Hadoop FileSystem API, not
    # os.path.isdir. A scheme-qualified sf_dir ("file:/..." here,
    # standing in for hdfs:// / s3a://) is invisible to the local-path
    # probe — os.path.isdir("file:/tmp/...") is False — so a local-path
    # probe takes the pathGlobFilter branch on the DIRECTORY layout
    # and silently streams 0 rows. The Hadoop probe resolves the scheme
    # and must return the full row set.
    scheme_sf = f"file:{dir_sf}"
    scheme_ev = jobs._run_to_memory(jobs._stream_events(spark, scheme_sf))
    assert scheme_ev.count() == n_single
    shutil.rmtree(dir_sf, ignore_errors=True)


def test_tumbling_bucket_form_equals_window_form(spark, sf_dir):
    """op69's date_trunc bucket groupBy must be bit-identical (all
    columns, sum_value included) to the `window(ts, '1 hour')` form it
    replaced — epoch-aligned tumbling windows are the same partition of
    the time axis either way."""
    from ocdb_server_spark.operators.streaming_batch import _events
    from ocdb_server_spark.operators._helpers import dsum

    ev = _events(spark, sf_dir)
    windowed = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", 18, 6).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    batch = OPS["op69_stream_tumbling"].fn(spark, sf_dir)
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _rows(windowed, cols) == _rows(batch, cols)


def test_stream_sliding_matches_batch(spark, sf_dir):
    streamed = stream_sliding(spark, sf_dir)
    batch = OPS["op70_stream_sliding"].fn(spark, sf_dir)
    cols = ["window_start", "n"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_stream_session_matches_batch(spark, sf_dir):
    streamed = stream_session(spark, sf_dir)
    batch = OPS["op71_stream_session"].fn(spark, sf_dir)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_stream_dedup_matches_batch(spark, sf_dir):
    streamed = stream_dedup(spark, sf_dir)
    batch = OPS["op73_stream_dedup_stateful"].fn(spark, sf_dir)
    assert streamed.count() == batch.count()
    assert _rows(streamed, ["event_id"]) == _rows(batch, ["event_id"])


def test_stream_upsert_end_state_matches_batch(spark, sf_dir, tmp_path):
    store = stream_upsert_state(spark, sf_dir, str(tmp_path / "st"))
    state = {
        r["user_id"]: (r["last_ts"], r["last_value"]) for r in store.collect()
    }
    batch = OPS["op74_stream_foreach_batch_upsert"].fn(spark, sf_dir)
    expected = {
        r["user_id"]: (r["last_ts"], r["last_value"]) for r in batch.collect()
    }
    assert set(state) == set(expected)
    mism = {
        u for u in expected
        if state[u][0] != expected[u][0] or abs(state[u][1] - expected[u][1]) > 1e-9
    }
    assert not mism, f"{len(mism)} users diverge; e.g. {sorted(mism)[:3]}"


@pytest.mark.parametrize("op", ["op70_stream_sliding"])
def test_sliding_window_batch_shape(spark, sf_dir, op):
    """Every event lands in exactly two 1h/30min sliding windows, so
    sum(n) across windows must equal 2 × event count."""
    df = OPS[op].fn(spark, sf_dir)
    from ocdb_server_spark.io import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    total = sum(r["n"] for r in df.collect())
    assert total == 2 * n_events


def test_checkpointed_ingest_resumes_exactly_once(spark, sf_dir, tmp_path):
    """Run the resumable ingest, drop MORE files into the source, run
    it AGAIN with the same checkpoint: the second run must pick up only
    the new files — every event_id lands in the sink exactly once.
    (Kill-and-rerun is the crash-recovery contract of the checkpoint:
    the checkpoint's source offsets make re-runs exactly-once over
    input files with no bookkeeping table.)"""
    from ocdb_server_spark.io import load_table

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def ingest():
        jobs._await(
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start(),
            "resumable ingest",
        )

    ingest()
    n1 = spark.read.parquet(out).count()
    assert n1 == first.count()

    second.write.mode("append").parquet(src)
    ingest()

    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # nothing lost...
    assert got.select("event_id").distinct().count() == ev.count()  # ...nothing twice


def test_stream_static_join_matches_batch(spark, sf_dir):
    streamed = stream_static_join(spark, sf_dir)
    batch = OPS["op127_stream_static_join"].fn(spark, sf_dir)
    cols = ["c_mktsegment", "event_type", "n", "sum_value"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """op146: the real watermarked stream-stream join must emit exactly
    the batch-equivalent pair set."""
    got = stream_stream_join(spark, sf_dir)
    want = load_all()["op146_stream_stream_join"].fn(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_tws_user_stats_matches_batch(spark, sf_dir):
    """op206 (hash-certified TWS): the real transformWithState
    pipeline's final per-user stats must equal the batch aggregate
    bit-for-bit — possible because state math is all int64 (value
    quantized JVM-side before entering Python state)."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="TWS state-server protocol needs protobuf (real or vendored)",
    )
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.streaming.jobs import stream_tws_user_stats

    streamed = stream_tws_user_stats(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)")
            ).cast("bigint").alias("sum_q"),
            F.max(
                F.expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)")
            ).cast("bigint").alias("max_q"),
        )
    )
    cols = ["user_id", "n_events", "sum_q", "max_q"]
    s = sorted(tuple(r[c] for c in cols) for r in streamed.collect())
    b = sorted(tuple(r[c] for c in cols) for r in batch.collect())
    assert s == b


def test_stream_centroid_maintenance_matches_batch(spark, sf_dir):
    """op208: the composite-key TWS centroid accumulators must equal
    the batch posexplode aggregate exactly (int64 state algebra)."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="TWS state-server protocol needs protobuf (real or vendored)",
    )
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.streaming.jobs import stream_tws_centroid_maintenance

    streamed = stream_tws_centroid_maintenance(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "embeddings")
        .select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.expr("cast(round(cast(x as double) * 1000000) as bigint)")
            ).cast("bigint").alias("sum_q"),
        )
        .select(
            "label", F.col("dim").cast("bigint").alias("dim"), "n", "sum_q"
        )
    )
    cols = ["label", "dim", "n", "sum_q"]
    s = sorted(tuple(r[c] for c in cols) for r in streamed.collect())
    b = sorted(tuple(r[c] for c in cols) for r in batch.collect())
    assert s == b


def test_stream_tws_topk_matches_batch_window(spark, sf_dir):
    """op218's ListState top-k must equal the batch window top-3 under
    the same (q DESC, event_id) total order — the pure-function-of-
    the-input-set argument that justifies its SQL oracle."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="TWS state-server protocol needs protobuf (real or vendored)",
    )
    from pyspark.sql import Window as W

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.streaming.jobs import stream_tws_topk_liststate

    streamed = stream_tws_topk_liststate(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)").alias("q"),
    )
    w = W.partitionBy("user_id").orderBy(F.col("q").desc(), "event_id")
    batch = (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "rank", "q", "event_id")
    )
    s = {(r.user_id, r.rank): (r.q, r.event_id) for r in streamed.collect()}
    b = {(r.user_id, r.rank): (r.q, r.event_id) for r in batch.collect()}
    assert s == b
    # bounded-state claim: no user carries more than 3 rows
    from collections import Counter

    per_user = Counter(u for (u, _) in s)
    assert max(per_user.values()) <= 3


def test_stream_tws_mapstate_matches_batch(spark, sf_dir):
    """op219: the MapState processor's final per-(user, event_type)
    (n, sum_q) must equal the batch groupBy exactly (int64 map-value
    algebra over JVM-quantized inputs)."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="TWS state-server protocol needs protobuf (real or vendored)",
    )
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.streaming.jobs import stream_tws_mapstate_type_stats

    streamed = stream_tws_mapstate_type_stats(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)")
            ).cast("bigint").alias("sum_q"),
        )
    )
    cols = ["user_id", "event_type", "n", "sum_q"]
    s = sorted(tuple(r[c] for c in cols) for r in streamed.collect())
    b = sorted(tuple(r[c] for c in cols) for r in batch.collect())
    assert s == b


def test_stream_tws_session_timers_fire_and_leave_open(spark, sf_dir):
    """op226: both close paths must actually run — gap splits emit
    kind='batch', watermark-passed finals emit kind='timer' from
    handleExpiredTimer — and sessions the final watermark never
    reaches stay open (absent). Checked against an independent
    python sessionizer."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="TWS state-server protocol needs protobuf (real or vendored)",
    )
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.streaming.jobs import (
        SESS_GAP_MS,
        stream_tws_session_timers,
    )

    rows = stream_tws_session_timers(spark, sf_dir).collect()
    kinds = {r.kind for r in rows}
    assert kinds == {"batch", "timer"}, kinds
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        "event_id",
        "unix_micros(ts) as us",
        "cast(cast(value as decimal(18,6)) * 1000000 as bigint) as q",
    ).collect()
    gap_us = SESS_GAP_MS * 1000
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.us, r.event_id, r.q))
    wm_ms = max(r.us for r in ev) // 1000 - 1000
    expect = set()
    n_open = 0
    for u, evs in by_user.items():
        evs.sort()
        sessions, cur = [], None
        for us, _eid, q in evs:
            if cur is None:
                cur = [us, us, 1, q]
            elif us - cur[1] > gap_us:
                sessions.append(cur)
                cur = [us, us, 1, q]
            else:
                cur = [cur[0], us, cur[2] + 1, cur[3] + q]
        sessions.append(cur)
        for i, s in enumerate(sessions):
            if i < len(sessions) - 1:
                expect.add((u, "batch", *s))
            elif s[1] // 1000 + SESS_GAP_MS <= wm_ms:
                expect.add((u, "timer", *s))
            else:
                n_open += 1
    got = {(r.user_id, r.kind, r.start_us, r.end_us, r.n, r.sum_q) for r in rows}
    assert got == expect
    assert n_open >= 1  # the fixture leaves at least the global-max user open


def test_exactly_once_sink_ignores_uncommitted_orphans(spark, sf_dir):
    """op234's crash-window property: data written WITHOUT a manifest
    commit (the crash-between-write-and-commit case) must be invisible
    to manifest-listed readers; replay of a committed batch stays a
    no-op (asserted inside the job too)."""
    import json
    import os
    import tempfile

    from ocdb_server_spark.streaming.jobs import (
        stream_exactly_once_manifest_sink,
    )

    out = stream_exactly_once_manifest_sink(spark, sf_dir)
    total = sum(r.n for r in out.collect())
    # READ-ONLY scratch accessor (calling scratch_dir() here would
    # reap and EMPTY the dir under inspection)
    from ocdb_server_spark.scratch import scratch_path

    root = scratch_path("eo_sink", sf_dir)
    man_dir = os.path.join(root, "manifest")
    # simulate the crash: orphan data, no manifest
    orphan = os.path.join(root, "data", "batch=999")
    spark.range(5).selectExpr(
        "id as event_id", "id as user_id", "'orphan' as event_type", "id as q"
    ).write.mode("overwrite").parquet(orphan)
    paths = [
        json.load(open(os.path.join(man_dir, m)))["path"]
        for m in sorted(os.listdir(man_dir))
    ]
    assert orphan not in paths
    committed = spark.read.parquet(*paths)
    assert committed.count() == total
    assert committed.filter("event_type = 'orphan'").count() == 0


def test_final_emission_keeps_each_keys_last_emission(spark):
    """The Update-mode cut the TWS ops share: per key, all rows of the
    emission with the highest counter — several rows for a key whose
    emissions carry many rows (op218's ranked list), the one row of a
    key that emitted once."""
    from ocdb_server_spark.streaming.jobs import _final_emission

    sunk = spark.createDataFrame(
        [
            (1, 2, 1, 50), (1, 2, 2, 40),                # user 1, 1st emission
            (1, 5, 1, 90), (1, 5, 2, 50), (1, 5, 3, 40),  # user 1, last
            (2, 1, 1, 7),                                 # user 2, only
            (3, 3, 1, 9), (3, 4, 1, 9),                   # user 3: last wins
        ],
        "user_id bigint, n_seen bigint, rank int, q bigint",
    )
    got = _final_emission(sunk, ["user_id"], "n_seen").select(
        "user_id", "n_seen", "rank", "q"
    )
    assert sorted(map(tuple, got.collect())) == [
        (1, 5, 1, 90), (1, 5, 2, 50), (1, 5, 3, 40),
        (2, 1, 1, 7),
        (3, 4, 1, 9),
    ]


def test_commit_log_commits_once_and_lists_only_commits(tmp_path):
    """op234's and op265's commit log: a second commit of one batch id
    is a no-op, a `<id>.json.<pid>.tmp` sibling (a crashed or
    concurrent writer's) is never a commit, and the latest entry is
    the highest batch id — numerically, not by file name."""
    import json
    import os

    from ocdb_server_spark.streaming.jobs import _CommitLog

    man_dir = str(tmp_path / "manifest")
    log = _CommitLog(man_dir)
    assert log.entries() == [] and log.latest() is None
    log.commit(2, path="p2")
    log.commit(2, path="replayed")
    assert log.entries() == [{"batch_id": 2, "path": "p2"}]
    with open(os.path.join(man_dir, f"7.json.{os.getpid()}.tmp"), "w") as f:
        json.dump({"batch_id": 7, "path": "uncommitted"}, f)
    assert not log.has(7)
    assert [e["batch_id"] for e in log.entries()] == [2]
    log.commit(10, path="p10", raw="r10")
    log.commit(9, path="p9")
    assert [e["batch_id"] for e in log.entries()] == [2, 9, 10]
    assert log.latest() == {"batch_id": 10, "path": "p10", "raw": "r10"}
