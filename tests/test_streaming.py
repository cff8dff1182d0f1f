"""Structured Streaming execution tests (SURVEY.md §5.2.4).

The oracle gate checks op69–op74's *batch-equivalent* DataFrames; these
tests prove the same logic runs as real streaming queries (readStream →
availableNow → memory sink) and produces identical results.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.registry import load_all
from ocdb_server_spark.streaming import jobs

OPS = load_all()


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


def _rows(df, cols):
    out = [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def test_stream_tumbling_matches_batch(spark, sf_dir):
    streamed = jobs.stream_tumbling(spark, sf_dir)
    batch = OPS["op69_stream_tumbling"].fn(spark, sf_dir)
    # sum_value included (round-13 review): decimal partial sums being
    # order-independent ACROSS MICRO-BATCHES is the one dimension the
    # batch certification can't cover
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_stream_events_reads_directory_layout(spark, sf_dir, tmp_path):
    """Round-17 regression: _stream_events used pathGlobFilter
    ('events.parquet') unconditionally, which matches LEAF file names —
    on the production/stress layout where events.parquet is a
    DIRECTORY of part-files it matched nothing and every TWS op
    silently streamed 0 rows (caught only by op234's no-batches
    guard on the 30× dataset). The source must now read BOTH layouts
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
    from ocdb_server_spark.io import table_path

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

    # Round-18 regression (round-17 ADVICE medium): the layout probe
    # must go through the Hadoop FileSystem API, not os.path.isdir.
    # A scheme-qualified sf_dir ("file:/..." here, standing in for
    # hdfs:// / s3a://) is invisible to the local-path probe —
    # os.path.isdir("file:/tmp/...") is False — so the pre-fix code
    # took the pathGlobFilter branch on the DIRECTORY layout and
    # silently streamed 0 rows. The Hadoop probe resolves the scheme
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
    store = jobs.stream_upsert_state(spark, sf_dir, store_dir=str(tmp_path / "st"))
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


def test_stream_upsert_default_store_is_local_file_qualified(
    spark, sf_dir, monkeypatch
):
    """Round-14 ADVICE: the DEFAULT store path comes from scratch_dir —
    a LOCAL path created/reaped through os.* — but a scheme-less string
    resolves against fs.defaultFS, so on a remote-defaultFS deployment
    the existence probe, the writes, and scratch.py's reaping would
    split across filesystems (the probe then declares every batch
    'first' — the silent-overwrite loss mode). The default must be
    file://-qualified and the store must land on the local scratch."""
    import os

    from ocdb_server_spark import scratch

    seen = {}
    real = scratch.scratch_dir

    def spy(tag, sf):
        d = real(tag, sf)
        seen["dir"] = d
        return d

    monkeypatch.setattr(scratch, "scratch_dir", spy)
    store = jobs.stream_upsert_state(spark, sf_dir)
    assert store.count() > 0
    # the store's files really are on the LOCAL filesystem under the
    # scratch dir the spy observed
    assert os.path.isdir(os.path.join(seen["dir"], "state")), (
        "default upsert store not written to the local scratch dir"
    )


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
    (Kill-and-rerun is the crash-recovery contract of the checkpoint.)"""
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.streaming.jobs import stream_ingest_resumable

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    stream_ingest_resumable(spark, src, ckpt, out, schema=schema)
    n1 = spark.read.parquet(out).count()
    assert n1 == first.count()

    second.write.mode("append").parquet(src)
    stream_ingest_resumable(spark, src, ckpt, out, schema=schema)

    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # nothing lost...
    assert got.select("event_id").distinct().count() == ev.count()  # ...nothing twice


def test_stream_static_join_matches_batch(spark, sf_dir):
    streamed = jobs.stream_static_join(spark, sf_dir)
    batch = OPS["op127_stream_static_join"].fn(spark, sf_dir)
    cols = ["c_mktsegment", "event_type", "n", "sum_value"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """op146: the real watermarked stream-stream join must emit exactly
    the batch-equivalent pair set."""
    from ocdb_server_spark.streaming import jobs

    got = jobs.stream_stream_join(spark, sf_dir)
    want = load_all()["op146_stream_stream_join"].fn(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_tws_user_stats_matches_batch(spark, sf_dir):
    """op206 (hash-certified TWS): the real transformWithStateInPandas
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
