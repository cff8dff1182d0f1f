"""Structured Streaming jobs for SURVEY.md §2.9 (op69–op74).

The batch-equivalent DataFrames live in
``operators/streaming_batch.py`` (those are what the DuckDB oracle
checks); this module runs the SAME logic as real streaming queries —
``readStream`` file source → transformation → memory sink, driven to
completion with ``Trigger.AvailableNow`` — so tests can assert that
streaming execution matches batch. Several registered ops (the stream
joins, the transformWithState ops, the exactly-once sink and the
streaming CDC apply) run their streaming query here and return its
result.

Scale notes: file-source streaming here stands in for Kafka; the
operator graphs are identical. Watermarks bound all state (window and
dedup state eviction), which is the requirement for unbounded input.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocdb_server_spark.io import table_path

# Single-fold contract constants (round-10 review): the op226 session
# gap + watermark delay and the value-quantization expression are
# certified on BOTH engines — operators/streaming_batch.py's oracle
# SQL interpolates THESE same constants (the op96/op221 one-template
# lesson applied here; never re-encode them by hand in an oracle).
SESS_GAP_MS = 1_800_000   # 30-minute inactivity gap (op226)
SESS_WM_DELAY_MS = 1_000  # op226's watermark delay
SQL_QUANT_VALUE = "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"


def _stream_source(spark: SparkSession, sf_dir: str, name: str):
    """Layout-aware file-stream source for table `name` under sf_dir.

    Two on-disk layouts exist: the driver testdata keeps ONE FILE per
    table directly in sf_dir (`<sf_dir>/<name>.parquet` is a file), so
    the directory-scoped stream source needs a pathGlobFilter; the
    production/stress layout makes `<name>.parquet` a DIRECTORY of
    part-files, which the source reads directly. The glob branch must
    never be used for the directory layout: pathGlobFilter matches
    LEAF file names, so it matches nothing there and the stream
    silently processes 0 rows (round-17 finding — every TWS op "ran
    clean" on the 30× stress dataset while streaming an empty source;
    op234's no-batches guard was the one that surfaced it, and the
    embeddings stream in stream_centroid_maintenance had the same
    bug). Result-neutral for the certified gate layout: single-file
    dirs take the exact branch the code always had.

    The layout probe goes through the HADOOP FileSystem API, never
    os.path.isdir (round-17 ADVICE medium): a remote or
    scheme-qualified sf_dir (hdfs://, s3a://, even file:) is
    invisible to the LOCAL filesystem probe, so isdir returned False
    for every remote directory-layout table and the glob branch —
    whose filter matches no leaf files there — silently streamed 0
    rows, the exact bug this helper exists to close. Same probe
    pattern as the op190 store-existence check (jobs.py round-12
    ADVICE, further down this file). The getFileStatus call cannot
    raise FileNotFoundException in practice: the batch schema probe
    on the line above already failed loudly if the table is absent."""
    path = table_path(sf_dir, name)
    schema = spark.read.parquet(path).schema
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if fs.getFileStatus(jpath).isDirectory():
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Route the conf side effects through load_table (nanosAsLong —
    # without which the legacy layout CRASHES the schema probe — plus
    # the scoped UTC pin and bare-session tuning): a raw read here
    # meant a session whose FIRST op was streaming missed the batch
    # path's defensive confs entirely (round-13 review). The returned
    # frame is discarded; the stream source needs the RAW file schema,
    # which load_table's normalization would have rewritten.
    from ocdb_server_spark.io import load_table

    load_table(spark, sf_dir, "events")
    stream = _stream_source(spark, sf_dir, "events")
    ts = (
        F.expr("timestamp_micros(ts div 1000)")
        if dict(stream.dtypes)["ts"] in ("bigint", "long")
        else F.col("ts").cast("timestamp")
    )
    return stream.select(
        "event_id", ts.alias("ts"), "user_id", "event_type", "value"
    )


# Memory-sink tables created by _run_to_memory, dropped at the NEXT
# call: the memory sink materializes its full result on the driver and
# nothing else ever drops it, so a suite running every streaming op
# would otherwise pin every op's complete output simultaneously
# (round-12 review). Ops run strictly sequentially (driver sweep,
# pytest), so by the next call the previous table's consumer is done —
# same lifetime argument as registry._POOLED_CACHES.
_MEMORY_TABLES: list[tuple[SparkSession, str]] = []


def _await(q, what: str, timeout: int = 300) -> None:
    """awaitTermination with the timeout made LOUD: the bool return was
    ignored at every call site, so a stuck stream used to be stopped in
    finally and its PARTIAL sink contents returned as if complete
    (round-12 review)."""
    if not q.awaitTermination(timeout=timeout):
        raise TimeoutError(
            f"{what}: streaming query still running after {timeout}s — "
            "refusing to return a partial result"
        )


def _run_to_memory(df: DataFrame, mode: str = "append") -> DataFrame:
    """Execute a streaming DataFrame to completion into a memory sink,
    return the sink contents as a batch DataFrame."""
    spark = df.sparkSession
    while _MEMORY_TABLES:
        owner, prev = _MEMORY_TABLES.pop()
        try:
            owner.catalog.dropTempView(prev)
        except Exception:
            pass  # session gone — its sink died with it
    name = "s" + uuid.uuid4().hex[:12]
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    # enroll BEFORE awaiting: a timed-out/failed stream used to leak
    # its partially-filled sink (and temp view) forever — the exact
    # pinned-driver-memory case the drop-at-next-call rule exists for
    # (round-13 review)
    _MEMORY_TABLES.append((spark, name))
    try:
        _await(q, "_run_to_memory")
    finally:
        if q.isActive:
            q.stop()
    return spark.sql(f"SELECT * FROM {name}")


from contextlib import contextmanager


@contextmanager
def _tws_session(spark: SparkSession):
    """Session state for a transformWithStateInPandas run, restored on
    exit — ONE copy of what six TWS jobs used to repeat inline
    (round-12 review):

    - ensure_protobuf(): driver sessions are built BEFORE this package
      imports, so the vendored protobuf is wired into the LIVE
      context's worker env here (no-op when a real google.protobuf is
      installed — see _vendor.py);
    - RocksDB state-store provider;
    - shuffle.partitions pinned to 16: the state-store partition count
      is fixed at first checkpoint, and these jobs always start fresh
      checkpoints — a bare session's default 200 means 200 RocksDB
      instances per batch for this keyspace (measured: ~2x op wall).
      Result-invariant: the state algebra is order/partitioning-free.

    Confs are set INSIDE the restoring try, so a failure between set
    and run cannot leak session state (the stream_upsert_state lesson
    applied here too)."""
    from ocdb_server_spark._vendor import ensure_protobuf

    ensure_protobuf()
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        yield
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op69 as a streaming query: watermark + 1h tumbling windows."""
    from ocdb_server_spark.operators._helpers import dsum

    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        # sum_value included: the batch twin certifies it, and decimal
        # partial sums being order-independent ACROSS MICRO-BATCHES is
        # the one dimension batch certification can't cover
        # (round-13 review)
        .agg(F.count("*").alias("n"), dsum("value", 18, 6).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(agg, mode="complete")


def stream_upsert_state(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str | None = None,
    n_buckets: int = 16,
) -> DataFrame:
    """op74 as a streaming query: foreachBatch MERGE into a
    bucket-partitioned parquet keyed store — a real file-backed sink,
    fully distributed (no driver-side state, no collect of data rows).

    MERGE mechanics per micro-batch:
      1. reduce the batch to latest-per-user (max of (ts, event_id,
         value) structs — same tie-break as op74's batch twin);
      2. bucket = pmod(xxhash64(user_id), n_buckets) — the store is
         partitioned by it, so the merge reads ONLY the buckets the
         batch touches (partition pruning) and dynamic partition
         overwrite rewrites only those directories;
      3. union store-side affected buckets with the batch, keep the
         max struct per user, localCheckpoint (so the overwrite never
         reads the files it is replacing), write.
    At scale this is exactly the Delta/Iceberg MERGE INTO access
    pattern minus the transaction log; state is bounded by #users,
    per-batch IO by #touched buckets. Returns the final store as a
    DataFrame."""
    # default store under scratch_dir (per-PID isolation + dead-PID
    # reaping): a raw mkdtemp left one full per-user state table per
    # call that nothing ever deleted — the exact LITTER hazard
    # scratch.py exists to close (round-13 review)
    if store_dir is None:
        from ocdb_server_spark.scratch import scratch_dir

        # Default store placement is SCHEME-AWARE (round-14 ADVICE +
        # round-14 review, which corrected the first fix):
        # - local defaultFS (local[...] and single-node tests): pin the
        #   scratch path with file:// so the probe below, the writes,
        #   the final read AND scratch.py's create/reap all name the
        #   same directory even if defaultFS is later reconfigured.
        # - REMOTE defaultFS (hdfs/s3a cluster): file:// would be
        #   executor-LOCAL — each task writing its shard to its own
        #   machine's disk while the driver probes its own (empty) one:
        #   silent state loss. Keep the scheme-less path instead: probe,
        #   writer and reader all resolve it against the SAME defaultFS
        #   (Path.getFileSystem and DataFrameWriter use one resolution),
        #   so the store is consistent — it merely lives outside
        #   scratch.py's local reaping, which the warning says out loud
        #   (pass store_dir explicitly to choose the location).
        base = scratch_dir("upsert_store", sf_dir)
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///"
        )
        if default_fs.startswith("file:"):
            store_dir = "file://" + base
        else:
            import warnings

            warnings.warn(
                f"stream_upsert_state default store {base!r} resolves "
                f"against remote defaultFS {default_fs!r}; it is shared "
                f"and consistent but outside local scratch reaping — "
                f"pass store_dir to place it deliberately",
                stacklevel=2,
            )
            store_dir = base
            # Fresh-per-call contract on the REMOTE side too (round-14
            # review): scratch_dir wipes only the LOCAL dir, so a second
            # call in this process — or a recycled PID — would find the
            # previous call's remote store existing and silently merge
            # stale state into this run's result. Mirror the wipe on
            # the filesystem the path actually resolves to.
            sc0 = spark.sparkContext
            jp = sc0._jvm.org.apache.hadoop.fs.Path(store_dir)
            rfs = jp.getFileSystem(sc0._jsc.hadoopConfiguration())
            if rfs.exists(jp):
                rfs.delete(jp, True)
    path = store_dir + "/state"
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
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
        # "First batch" means the store DOESN'T EXIST — probe that
        # fact, never infer it from a failed read: a bare
        # except-Exception here turned any transient read error on
        # batch N>1 into cur=None, and the dynamic-partition overwrite
        # then rewrote every touched bucket from the batch alone —
        # silently deleting previously stored users (round-12 review).
        # A real read failure on an existing store must propagate.
        # Probe through the Hadoop FileSystem API, not os.path.isdir:
        # a remote store_dir (hdfs://, s3a://) is invisible to the
        # local filesystem, so the local probe would declare EVERY
        # batch "first" and reintroduce the exact loss mode above
        # (round-12 ADVICE).
        sc = spark.sparkContext
        jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
        cur = spark.read.parquet(path) if fs.exists(jpath) else None
        if cur is not None:
            touched = [
                r["bucket"] for r in latest.select("bucket").distinct().collect()
            ]  # ≤ n_buckets partition VALUES — metadata, not data
            merged = cur.filter(F.col("bucket").isin(touched)).unionByName(latest)
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

    # conf set INSIDE the restoring try: _stream_events does a batch
    # schema read and start() can throw — a failure between a set
    # placed before the try and the finally used to leak session-wide
    # dynamic-overwrite mode into unrelated later writes (round-12
    # review).
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        ev = _stream_events(spark, sf_dir)
        q = ev.writeStream.foreachBatch(upsert).trigger(availableNow=True).start()
        try:
            _await(q, "stream_upsert_state")
        finally:
            if q.isActive:
                q.stop()
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    return spark.read.parquet(path)


def stream_ingest_resumable(
    spark: SparkSession,
    in_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    schema=None,
) -> None:
    """Checkpointed, resumable file ingest: read whatever parquet files
    exist under `in_dir` beyond those the checkpoint already recorded,
    append them to `out_dir`, stop (Trigger.AvailableNow).

    This is the reference's submission-ingest workflow (SURVEY.md §3.2:
    upload → parse → publish) made restartable: the checkpoint's source
    offsets make re-runs EXACTLY-ONCE over input files — a crashed or
    repeated run never re-publishes rows — with no bookkeeping table.
    The same query shape against a Kafka source is the production
    ingest at cluster scale; file-source offsets here are the
    file-list positions.
    """
    if schema is None:
        schema = spark.read.parquet(in_dir).schema
    q = (
        spark.readStream.schema(schema)
        .parquet(in_dir)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        _await(q, "stream_ingest_resumable")
    finally:
        if q.isActive:
            q.stop()


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op127 as a streaming query: the event stream enriched by the
    STATIC customer dimension (stream⋈static broadcast join — no state
    store) and aggregated per (segment, event_type)."""
    ev = _stream_events(spark, sf_dir)
    c = (
        spark.read.parquet(table_path(sf_dir, "customer"))
        .select("c_custkey", "c_mktsegment")
    )
    from ocdb_server_spark.operators._helpers import dsum

    agg = (
        ev.join(F.broadcast(c), ev.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        # sum_value: see stream_tumbling — the cross-micro-batch sum is
        # the claim the batch twin can't certify (round-13 review)
        .agg(F.count("*").alias("n"), dsum("value", 18, 6).alias("sum_value"))
    )
    return _run_to_memory(agg, mode="complete")


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op146 as a REAL stream-stream join: both sides are watermarked
    file streams; Spark buffers each side in the state store and evicts
    a row once the opposite watermark passes its join bound (view rows
    live ≤ watermark + 1 h) — the only way an unbounded attribution
    join stays finite-state. Inner join + append mode emits each
    matched pair exactly once."""
    ev = _stream_events(spark, sf_dir)
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
    return _run_to_memory(joined, mode="append")


def stream_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op206's REAL streaming pipeline: per-user running
    (n_events, sum_q, max_q) via transformWithStateInPandas —
    arbitrary schema'd state (a 3-field tuple), RocksDB state store,
    availableNow trigger, memory sink.

    Exactness contract: `q` is quantized JVM-SIDE before the stateful
    operator (CAST(value AS DECIMAL(18,6)) * 1e6 AS BIGINT — the same
    expression the oracle runs), so the Python state only ever adds
    and maxes int64: order-independent, no float drift, which is what
    lets op206 carry a full SQL oracle where op73/op74 settle for
    rows-only. The final per-user row is the last Update emission
    (n_events is strictly increasing, so max(n_events) picks it
    deterministically)."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState(
                "s", "n bigint, sum_q bigint, max_q bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._s.exists():
                n, sum_q, max_q = self._s.get()
            else:
                n, sum_q, max_q = 0, 0, None
            for pdf in rows:
                n += len(pdf)
                sum_q += int(pdf["q"].sum())
                m = int(pdf["q"].max())
                max_q = m if max_q is None else max(max_q, m)
            self._s.update((n, sum_q, max_q))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_q": [sum_q],
                    "max_q": [max_q],
                }
            )

        def close(self) -> None:
            pass

    with _tws_session(spark):
        ev = _stream_events(spark, sf_dir).select(
            "user_id",
            F.expr(
                SQL_QUANT_VALUE
            ).alias("q"),
        )
        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=UserStats(),
            outputStructType="user_id bigint, n_events bigint,"
            " sum_q bigint, max_q bigint",
            outputMode="Update",
            timeMode="None",
        )
        sunk = _run_to_memory(out, mode="update")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sunk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_q", "max_q")
    )


def stream_tws_centroid_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op208's pipeline: per-(label, dim) running centroid accumulators
    over a STREAM of embedding vectors — the §7.5 'streaming centroid
    maintenance' design, the incremental twin of op145's batch
    centroid build (a production vector pipeline keeps class/cluster
    centroids fresh as vectors arrive instead of re-scanning the
    corpus).

    Spark shape: vectors explode JVM-side to (label, dim, q) rows
    with q = round(component * 1e6) AS BIGINT — integer-exact, and
    the per-dim row stream shrinks state to one (n, sum_q) pair per
    (label, dim) key (a COMPOSITE grouping key: op206 covers the
    single-key path). Final centroid component = sum_q / n / 1e6,
    derivable downstream; this job emits the exact integer
    accumulators so the oracle stays integral."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class DimAccum(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState("s", "n bigint, sum_q bigint")

        def handleInputRows(self, key, rows, timerValues):
            if self._s.exists():
                n, sum_q = self._s.get()
            else:
                n, sum_q = 0, 0
            for pdf in rows:
                n += len(pdf)
                sum_q += int(pdf["q"].sum())
            self._s.update((n, sum_q))
            yield pd.DataFrame(
                {
                    "label": [key[0]],
                    "dim": [key[1]],
                    "n": [n],
                    "sum_q": [sum_q],
                }
            )

        def close(self) -> None:
            pass

    stream = _stream_source(spark, sf_dir, "embeddings")
    exploded = stream.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.expr("cast(round(cast(x as double) * 1000000) as bigint)").alias("q"),
    )
    with _tws_session(spark):
        out = exploded.groupBy("label", "dim").transformWithStateInPandas(
            statefulProcessor=DimAccum(),
            outputStructType="label bigint, dim int, n bigint, sum_q bigint",
            outputMode="Update",
            timeMode="None",
        )
        sunk = _run_to_memory(out, mode="update")
    from pyspark.sql import Window as W

    w = W.partitionBy("label", "dim").orderBy(F.col("n").desc())
    return (
        sunk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label", F.col("dim").cast("bigint").alias("dim"), "n", "sum_q")
    )


def stream_tws_topk_liststate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op218's pipeline: per-user TOP-3 events by quantized value via
    transformWithStateInPandas with LIST STATE — the third TWS state
    kind exercised for real (op206 ValueState scalar tuple, op208
    ValueState composite key, here ListState holding a bounded
    ranked list).

    Exactness contract (why a full SQL oracle holds for a stateful
    top-k): (q, event_id) is UNIQUE per event, so the top-3 under the
    total order (q DESC, event_id ASC) is a pure function of the
    input SET — and the state transition (merge incoming rows into
    the kept list, re-cut to 3) computes exactly that regardless of
    batch boundaries or arrival order. q is quantized JVM-side with
    the oracle's own decimal-cast expression before entering Python
    state (op206's rule). The per-key emission carries a strictly
    increasing n_seen, so "rows of the max-n_seen emission" is the
    deterministic final answer under Update mode.

    Scale: state is ≤3 rows per key by construction — bounded-memory
    streaming top-k, the pattern that replaces 'sort the history' at
    any volume."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    k = 3

    class TopK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState("top", "q bigint, event_id bigint")
            self._n = handle.getValueState("n", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            kept = [tuple(t) for t in self._top.get()] if self._top.exists() else []
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
                kept.extend(
                    zip(pdf["q"].astype(int), pdf["event_id"].astype(int))
                )
            kept.sort(key=lambda t: (-t[0], t[1]))
            kept = kept[:k]
            self._top.put(kept)
            self._n.update((n,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(kept),
                    "n_seen": [n] * len(kept),
                    "rank": list(range(1, len(kept) + 1)),
                    "q": [t[0] for t in kept],
                    "event_id": [t[1] for t in kept],
                }
            )

        def close(self) -> None:
            pass

    with _tws_session(spark):
        ev = _stream_events(spark, sf_dir).select(
            "user_id",
            "event_id",
            F.expr(
                SQL_QUANT_VALUE
            ).alias("q"),
        )
        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=TopK(),
            outputStructType="user_id bigint, n_seen bigint, rank int,"
            " q bigint, event_id bigint",
            outputMode="Update",
            timeMode="None",
        )
        sunk = _run_to_memory(out, mode="update")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id")
    return (
        sunk.withColumn("max_seen", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("max_seen"))
        .select("user_id", "rank", "q", "event_id")
    )


def stream_tws_mapstate_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op219's pipeline: per-user, per-event-type running (n, sum_q)
    via transformWithStateInPandas MAP STATE — with op206 (ValueState)
    and op218 (ListState) this exercises every TWS state primitive
    for real. The map key is the event_type (sub-key WITHIN the
    stream key: user_id), so state reads/writes are point lookups
    into RocksDB rather than a whole-blob rewrite — the reason
    MapState exists and the shape per-entity-per-category serving
    state takes at scale.

    Same exactness contract as op206: q quantized JVM-side with the
    oracle's decimal-cast expression, map values are (int64 count,
    int64 sum) — order-insensitive algebra, so the final emission
    hash-matches the batch groupBy(user_id, event_type) oracle."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._m = handle.getMapState(
                "m", "event_type string", "n bigint, sum_q bigint"
            )
            self._n = handle.getValueState("n", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            n_seen = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n_seen += len(pdf)
                g = pdf.groupby("event_type")["q"].agg(["count", "sum"])
                for et, row in g.iterrows():
                    if self._m.containsKey((et,)):
                        n0, s0 = self._m.getValue((et,))
                    else:
                        n0, s0 = 0, 0
                    self._m.updateValue(
                        (et,), (n0 + int(row["count"]), s0 + int(row["sum"]))
                    )
            self._n.update((n_seen,))
            ets, ns, sums = [], [], []
            for (et,), (n, s) in self._m.iterator():
                ets.append(et)
                ns.append(n)
                sums.append(s)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(ets),
                    "n_seen": [n_seen] * len(ets),
                    "event_type": ets,
                    "n": ns,
                    "sum_q": sums,
                }
            )

        def close(self) -> None:
            pass

    with _tws_session(spark):
        ev = _stream_events(spark, sf_dir).select(
            "user_id",
            "event_type",
            F.expr(
                SQL_QUANT_VALUE
            ).alias("q"),
        )
        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=TypeStats(),
            outputStructType="user_id bigint, n_seen bigint,"
            " event_type string, n bigint, sum_q bigint",
            outputMode="Update",
            timeMode="None",
        )
        sunk = _run_to_memory(out, mode="update")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id")
    return (
        sunk.withColumn("max_seen", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("max_seen"))
        .select("user_id", "event_type", "n", "sum_q")
    )


def stream_tws_session_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op226's pipeline: event-time SESSIONIZATION where completed
    sessions close inline and each user's FINAL session closes via an
    EVENT-TIME TIMER (registerTimer + handleExpiredTimer) when the
    global watermark passes its gap deadline — the last piece of the
    TWS API surface (state kinds: op206/208/218/219; timers: here).

    Determinism argument (why a SQL oracle holds for timer-driven
    output): with availableNow over one input file every key sees all
    its rows in a single handleInputRows call, sorted in-processor by
    (event_time, event_id) — so in-batch session splits are a pure
    function of the input set. The final watermark is
    floor(max_event_us/1000) − delay, a deterministic global; the
    run's trailing no-data batch fires exactly the timers with
    expiry ≤ that watermark. Emitted `kind` marks which path produced
    each row ('batch' gap-split vs 'timer' watermark close) and the
    oracle recomputes both — so the hash certifies the timer
    machinery itself, not just the arithmetic. Sessions whose
    deadline the watermark never reaches stay open and are absent
    from BOTH sides."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us = SESS_GAP_MS * 1000

    class Sessionizer(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._open = handle.getValueState(
                "open", "start_us bigint, last_us bigint, n bigint, sum_q bigint"
            )
            self._handle = handle

        def handleInputRows(self, key, rows, timerValues):
            evs: list[tuple[int, int, int]] = []  # (us, event_id, q)
            for pdf in rows:
                evs.extend(
                    zip(
                        pdf["us"].astype(int),
                        pdf["event_id"].astype(int),
                        pdf["q"].astype(int),
                    )
                )
            evs.sort()
            cur = tuple(self._open.get()) if self._open.exists() else None
            closed = []
            for us, _eid, q in evs:
                if cur is None:
                    cur = (us, us, 1, q)
                elif us - cur[1] > gap_us:
                    closed.append(cur)
                    cur = (us, us, 1, q)
                else:
                    cur = (cur[0], us, cur[2] + 1, cur[3] + q)
            assert cur is not None
            self._open.update(cur)
            # one live deadline per key: re-arm to the new last event
            for t in self._handle.listTimers():
                self._handle.deleteTimer(t)
            self._handle.registerTimer(cur[1] // 1000 + SESS_GAP_MS)
            if closed:
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]] * len(closed),
                        "kind": ["batch"] * len(closed),
                        "start_us": [c[0] for c in closed],
                        "end_us": [c[1] for c in closed],
                        "n": [c[2] for c in closed],
                        "sum_q": [c[3] for c in closed],
                    }
                )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self._open.exists():
                s = tuple(self._open.get())
                self._open.clear()
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "kind": ["timer"],
                        "start_us": [s[0]],
                        "end_us": [s[1]],
                        "n": [s[2]],
                        "sum_q": [s[3]],
                    }
                )

        def close(self) -> None:
            pass

    with _tws_session(spark):
        ev = (
            _stream_events(spark, sf_dir)
            .withWatermark("ts", f"{SESS_WM_DELAY_MS} milliseconds")
            .select(
                "user_id",
                "event_id",
                F.expr("unix_micros(ts)").alias("us"),
                F.expr(
                    SQL_QUANT_VALUE
                ).alias("q"),
                "ts",
            )
        )
        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=Sessionizer(),
            outputStructType="user_id bigint, kind string, start_us bigint,"
            " end_us bigint, n bigint, sum_q bigint",
            outputMode="Append",
            timeMode="EventTime",
        )
        sunk = _run_to_memory(out, mode="append")
    return sunk


def _committed_manifests(man_dir: str) -> list[str]:
    """Only `<id>.json` entries are COMMITS. The writer's atomic
    os.replace goes through `<id>.json.<pid>.tmp` siblings in the same
    directory — a crash-leftover or concurrent writer's tmp file is
    complete-looking JSON, so an unfiltered listdir would count an
    UNcommitted batch as committed and break the exactly-once claim
    (round-12 review)."""
    import os

    return [m for m in os.listdir(man_dir) if m.endswith(".json")]


def stream_exactly_once_manifest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op234's pipeline: EXACTLY-ONCE file sink via foreachBatch +
    atomic manifest commit — the operational pattern that turns
    Spark's at-least-once batch replay into exactly-once output
    without a transactional table format:

      1. foreachBatch writes the batch to `data/batch=<id>/`,
      2. then COMMITS by atomically creating `manifest/<id>` —
         os.replace of a tmp file: either the manifest exists
         (committed) or it doesn't; a crash between 1 and 2 leaves
         orphan data files that readers never see,
      3. readers list the MANIFEST (not the data dir) and read only
         committed batches.

    The replay property is exercised IN the op, not just claimed:
    after the stream completes, batch 0's foreachBatch body is
    invoked AGAIN with the same data (exactly what Spark does when a
    driver retries a batch). The commit-if-absent check makes the
    replay a no-op; the committed batch count and the final
    aggregate are unchanged — and the aggregate hash-matching the
    events oracle certifies it (a duplicated batch would double its
    rows)."""
    import json
    import os

    # per-process scratch (r9: missed the r8 scratch_dir migration —
    # the fixed sf-tagged root's rmtree below would nuke another live
    # session's in-flight committed batches). scratch_dir returns a
    # FRESH empty dir each call, which is also the old rmtree's job:
    # the certified artifact is this execution. The exactly-once
    # semantics under test are WITHIN-run (batch-0 replay), so no
    # cross-run-stable root is needed.
    from ocdb_server_spark.scratch import scratch_dir

    root = scratch_dir("eo_sink", sf_dir)
    data_dir = os.path.join(root, "data")
    man_dir = os.path.join(root, "manifest")
    os.makedirs(man_dir, exist_ok=True)

    def commit_batch(batch_df, batch_id: int) -> None:
        man_path = os.path.join(man_dir, f"{batch_id}.json")
        if os.path.exists(man_path):
            return  # already committed: replayed batch is a no-op
        path = os.path.join(data_dir, f"batch={batch_id}")
        (
            batch_df.write.mode("overwrite").parquet(path)
        )
        tmp = f"{man_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "path": path}, f)
        os.replace(tmp, man_path)  # the atomic commit point

    ev = _stream_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(SQL_QUANT_VALUE).alias("q"),
    )
    q = (
        ev.writeStream.foreachBatch(commit_batch)
        .option(
            "checkpointLocation", os.path.join(root, "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    try:
        _await(q, "stream_exactly_once_sink")
    finally:
        if q.isActive:
            q.stop()

    manifests = sorted(_committed_manifests(man_dir))
    # explicit raises, not assert: these ARE the op's certification
    # ("exercised IN the op, not just claimed") and must survive
    # python -O (round-13 review)
    if not manifests:
        raise RuntimeError("stream committed no batches")
    # REPLAY batch 0 with the same data — must be a no-op
    batch0 = json.load(open(os.path.join(man_dir, manifests[0])))
    replay_df = spark.read.parquet(batch0["path"])
    commit_batch(replay_df, batch0["batch_id"])
    after = sorted(_committed_manifests(man_dir))
    if after != manifests:
        raise RuntimeError("replay must not create a new commit")

    paths = [
        json.load(open(os.path.join(man_dir, m)))["path"] for m in after
    ]
    committed = spark.read.parquet(*paths)
    return committed.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sum_q"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )


def stream_cdc_apply_changes(
    spark: SparkSession,
    sf_dir: str,
    n_feed_files: int = 3,
) -> DataFrame:
    """op265's pipeline: STREAMING CDC — a change feed applied to a
    keyed store per micro-batch, exactly-once, with out-of-order
    batches handled. op74 upgraded from latest-value upsert to full
    last-writer-wins/delete/insert MERGE semantics; op264's batch
    apply_changes is the oracle twin (same end state over the same
    feed), op234's atomic-manifest commit is the replay armor.

    The moving parts, per micro-batch (functions/cdc.py holds the
    merge semantics; this function only sequences them):

      1. the feed is exported as ``n_feed_files`` parquet files
         (split by event_id mod N — deliberately INTERLEAVING
         timestamps across files, so later batches carry changes
         OLDER than ones already applied) and streamed back with
         maxFilesPerTrigger=1 → N real micro-batches;
      2. foreachBatch SKIPS if the batch's manifest marker exists
         (Spark's driver-retry replay → no-op), else reads the store
         generation the LAST COMMITTED batch published, merges with
         apply_changes_incremental (seq-watermark guard: a stale
         change loses to the store's applied watermark, so batch
         ORDER doesn't matter — each key converges to its global
         max-seq change), writes ``store/gen=<batch_id>``, and
         COMMITS by atomically os.replace-ing the marker;
      3. after the stream drains, the LAST batch is replayed with its
         own data (what a retrying driver does) — must commit nothing;
      4. readers resolve the max committed marker and finish_store()
         projects tombstones/bookkeeping back to the public
         (key, payload, status, n_changes) contract.

    100 TB shape: each micro-batch pays one key-window over the BATCH
    (tiny) and one full-outer join against the store; the store is
    shuffled once per batch, never windowed, and generations make
    every commit atomic-readable (the lakehouse-format simulation
    family's streaming member — op148/op168/op228/op255/op264).
    """
    import json
    import os

    from ocdb_server_spark.functions.cdc import (
        apply_changes_incremental,
        finish_store,
        seed_store,
    )
    from ocdb_server_spark.scratch import scratch_dir

    root = scratch_dir("cdc_stream", sf_dir)
    feed_dir = os.path.join(root, "feed")
    store_dir = os.path.join(root, "store")
    man_dir = os.path.join(root, "manifest")
    os.makedirs(man_dir, exist_ok=True)

    key, seq, payload = "user_id", ["ts", "event_id"], ["balance"]

    # --- export the feed as N files with ts interleaved across them.
    # The feed/base derivations are op264's OWN builders (they read
    # through load_table, so the events ts normalization the shared
    # oracle assumes applies here too); lazy import — operators import
    # this module at load time.
    from ocdb_server_spark.operators.lakehouse import (
        cdc_base_snapshot,
        cdc_changes_feed,
    )

    feed = cdc_changes_feed(spark, sf_dir).persist()
    try:
        for i in range(n_feed_files):
            (
                feed.filter(F.col("event_id") % n_feed_files == i)
                .coalesce(1)
                .write.mode("append")
                .parquet(feed_dir)
            )
        feed_schema = feed.schema
        seq_types = [dict(feed.dtypes)[c] for c in seq]
    finally:
        feed.unpersist()

    # --- seed generation: the base snapshot as an incremental store
    seed_path = os.path.join(store_dir, "gen=seed")
    seed_store(
        cdc_base_snapshot(spark, sf_dir), key, seq, seq_types
    ).write.mode("overwrite").parquet(seed_path)

    def _latest_committed() -> tuple[int, str]:
        """(max committed batch_id, its store path); (-1, seed) if none.
        Batch ids are monotone, so the max marker IS the newest store."""
        best, path = -1, seed_path
        for m in _committed_manifests(man_dir):
            ent = json.load(open(os.path.join(man_dir, m)))
            if ent["batch_id"] > best:
                best, path = ent["batch_id"], ent["path"]
        return best, path

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        man_path = os.path.join(man_dir, f"{batch_id}.json")
        if os.path.exists(man_path):
            return  # already committed: replayed batch is a no-op
        # land the raw batch first (op234's data/commit split): the
        # merge then reads a stable batch copy, and the post-stream
        # replay can re-present the batch's OWN data — the stream's
        # file→batch assignment is not ours to reconstruct
        raw_path = os.path.join(root, "raw", f"batch={batch_id}")
        batch_df.write.mode("overwrite").parquet(raw_path)
        _, cur_path = _latest_committed()
        store = spark.read.parquet(cur_path)
        out = apply_changes_incremental(
            store, spark.read.parquet(raw_path),
            key=key, seq=seq, payload=payload,
        )
        gen_path = os.path.join(store_dir, f"gen={batch_id}")
        out.write.mode("overwrite").parquet(gen_path)
        tmp = f"{man_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"batch_id": batch_id, "path": gen_path, "raw": raw_path}, f
            )
        os.replace(tmp, man_path)  # the atomic commit point

    q = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
        .writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        _await(q, "stream_cdc_apply_changes")
    finally:
        if q.isActive:
            q.stop()

    committed = sorted(_committed_manifests(man_dir))
    # explicit raises, not assert: the replay armor IS the op's
    # certification and must survive python -O (round-13 review)
    if len(committed) != n_feed_files:
        raise RuntimeError(
            f"expected {n_feed_files} committed batches, got {committed}"
        )
    # REPLAY the last batch with its own data (the raw copy its commit
    # landed) — must commit nothing and leave the store pointer
    # untouched (op234's certification, here protecting a MUTABLE
    # store from double application).
    last_id, last_path = _latest_committed()
    replay_feed = spark.read.parquet(
        os.path.join(root, "raw", f"batch={last_id}")
    )
    commit_batch(replay_feed, last_id)
    if sorted(_committed_manifests(man_dir)) != committed:
        raise RuntimeError("replay must not create a new commit")
    if _latest_committed() != (last_id, last_path):
        raise RuntimeError("replay must not move the store pointer")

    return finish_store(spark.read.parquet(last_path), key, seq)
