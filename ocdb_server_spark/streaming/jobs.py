"""Structured Streaming jobs: the registered ops that run a real stream.

The transformWithState ops (op206, op208, op218, op219, op226), the
exactly-once sink (op234) and the streaming CDC apply (op265) run their
streaming query here — ``readStream`` file source → transformation →
sink, driven to completion with ``Trigger.AvailableNow`` — and return
its result. op69–op74 and the stream joins (op127, op146) register
batch-equivalent DataFrames (``operators/streaming_batch.py``); their
streaming twins live in ``tests/test_streaming.py``, which checks each
against its batch op.

Shared pieces: one file-stream source (``_stream_source``), one
memory-sink run (``_run_to_memory``), one transformWithState stage on
the Row API (``_tws_run``) with one last-emission cut
(``_final_emission``), and one manifest commit log for the
foreachBatch sinks (``_CommitLog``).

Scale notes: file-source streaming here stands in for Kafka; the
operator graphs are identical. Watermarks bound all state (window and
dedup state eviction), which is the requirement for unbounded input.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, Row, SparkSession, Window as W, functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from ocdb_server_spark.io import raw_schema, table_path
from ocdb_server_spark.scratch import publish

# Constants certified on both engines: operators/streaming_batch.py's
# oracle SQL interpolates these same values, so an oracle never
# re-encodes them by hand.
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
    LEAF file names, so it would match nothing there and the stream
    would silently process 0 rows.

    The layout probe goes through the Hadoop FileSystem API, never
    os.path.isdir: a remote or scheme-qualified sf_dir (hdfs://,
    s3a://, even file:) is invisible to a local filesystem probe,
    which would send every remote directory-layout table down the glob
    branch. The getFileStatus call cannot raise FileNotFoundException
    in practice: the raw schema comes from a batch read of the table
    on the line above (io.raw_schema: an inference job, or the schema
    this session already inferred for the same file version, given to
    the read), and either read fails loudly if the table is absent."""
    path = table_path(sf_dir, name)
    schema = raw_schema(spark, sf_dir, name)
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
    # The stream source reads the RAW file schema, which load_table's
    # normalization rewrites; the ts normalization is repeated below.
    # io.raw_schema gives the session the confs an events read needs
    # as load_table does (session.adopt: nanosAsLong, without which
    # the legacy layout crashes the schema probe, and the UTC pin), so
    # a session whose first op is a streaming one gets them too.
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
# nothing else drops it, so a suite running every streaming op would
# otherwise pin every op's complete output at once. Ops run strictly
# sequentially (correctness sweep, pytest), so by the next call the previous
# table's consumer is done — same lifetime as registry._POOLED_CACHES.
_MEMORY_TABLES: list[tuple[SparkSession, str]] = []


def _await(q, what: str, timeout: int = 300) -> None:
    """Wait for an availableNow query to finish and stop it on the way
    out. A query still running after `timeout` seconds raises: its sink
    holds a partial result, which must never be returned as complete."""
    try:
        if not q.awaitTermination(timeout=timeout):
            raise TimeoutError(
                f"{what}: streaming query still running after {timeout}s — "
                "refusing to return a partial result"
            )
    finally:
        if q.isActive:
            q.stop()


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
    # enrolled before awaiting, so a timed-out or failed stream's
    # partially filled sink is dropped at the next call too
    _MEMORY_TABLES.append((spark, name))
    _await(q, "_run_to_memory")
    return spark.sql(f"SELECT * FROM {name}")


_STATE_STORE = "spark.sql.streaming.stateStore.providerClass"


def _tws_run(
    ev: DataFrame,
    keys: list[str],
    processor: StatefulProcessor,
    out_ddl: str,
    output_mode: str,
    time_mode: str = "None",
) -> DataFrame:
    """One transformWithState stage run to completion: `ev` grouped by
    `keys` through `processor` (Row API: handleInputRows reads and
    yields Rows), its emissions collected in a memory sink.

    Session confs for the run, restored on exit (set inside the
    restoring try, so a failure between set and run leaks nothing):

    - ensure_protobuf(): driver sessions are built BEFORE this package
      imports, so the vendored protobuf is wired into the LIVE
      context's worker env here (no-op when a real google.protobuf is
      installed — see _vendor.py);
    - RocksDB state-store provider;
    - shuffle.partitions pinned to 16: the state-store partition count
      is fixed at first checkpoint, and these jobs always start fresh
      checkpoints — a bare session's default 200 means 200 RocksDB
      instances per batch for this keyspace (measured: ~2x op wall).
      Result-invariant: the state algebra is order/partitioning-free."""
    from ocdb_server_spark._vendor import ensure_protobuf

    spark = ev.sparkSession
    ensure_protobuf()
    prev = spark.conf.get(_STATE_STORE, None)
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            _STATE_STORE,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        out = ev.groupBy(*keys).transformWithState(
            statefulProcessor=processor,
            outputStructType=out_ddl,
            outputMode=output_mode,
            timeMode=time_mode,
        )
        return _run_to_memory(out, mode=output_mode.lower())
    finally:
        if prev is None:
            spark.conf.unset(_STATE_STORE)
        else:
            spark.conf.set(_STATE_STORE, prev)
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def _final_emission(sunk: DataFrame, keys: list[str], counter: str) -> DataFrame:
    """The rows of each key's last Update emission: those whose
    `counter` equals the key's max. Every emission carries the key's
    running input count, which strictly increases from one emission to
    the next, so the max picks exactly the last one — all its rows
    (op218 and op219 emit several rows per key)."""
    last = F.max(counter).over(W.partitionBy(*keys))
    return sunk.withColumn("_last", last).filter(F.col(counter) == F.col("_last"))


def stream_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op206's REAL streaming pipeline: per-user running
    (n_events, sum_q, max_q) via transformWithState — arbitrary
    schema'd state (a 3-field tuple), RocksDB state store, availableNow
    trigger, memory sink.

    Exactness contract: `q` is quantized JVM-SIDE before the stateful
    operator (CAST(value AS DECIMAL(18,6)) * 1e6 AS BIGINT — the same
    expression the oracle runs), so the Python state only ever adds
    and maxes int64: order-independent, no float drift, which is what
    lets op206 carry a full SQL oracle where op73/op74 settle for
    rows-only. The final per-user row is the last Update emission
    (n_events is strictly increasing, so max(n_events) picks it
    deterministically)."""

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState(
                "s", "n bigint, sum_q bigint, max_q bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, sum_q, max_q = self._s.get() if self._s.exists() else (0, 0, None)
            for r in rows:
                n += 1
                sum_q += r.q
                max_q = r.q if max_q is None else max(max_q, r.q)
            self._s.update((n, sum_q, max_q))
            yield Row(user_id=key[0], n_events=n, sum_q=sum_q, max_q=max_q)

    ev = _stream_events(spark, sf_dir).select(
        "user_id", F.expr(SQL_QUANT_VALUE).alias("q")
    )
    sunk = _tws_run(
        ev, ["user_id"], UserStats(),
        "user_id bigint, n_events bigint, sum_q bigint, max_q bigint",
        "Update",
    )
    return _final_emission(sunk, ["user_id"], "n_events").select(
        "user_id", "n_events", "sum_q", "max_q"
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

    class DimAccum(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState("s", "n bigint, sum_q bigint")

        def handleInputRows(self, key, rows, timerValues):
            n, sum_q = self._s.get() if self._s.exists() else (0, 0)
            for r in rows:
                n += 1
                sum_q += r.q
            self._s.update((n, sum_q))
            yield Row(label=key[0], dim=key[1], n=n, sum_q=sum_q)

    stream = _stream_source(spark, sf_dir, "embeddings")
    exploded = stream.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.expr("cast(round(cast(x as double) * 1000000) as bigint)").alias("q"),
    )
    sunk = _tws_run(
        exploded, ["label", "dim"], DimAccum(),
        "label bigint, dim int, n bigint, sum_q bigint",
        "Update",
    )
    return _final_emission(sunk, ["label", "dim"], "n").select(
        "label", F.col("dim").cast("bigint").alias("dim"), "n", "sum_q"
    )


def stream_tws_topk_liststate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op218's pipeline: per-user TOP-3 events by quantized value via
    transformWithState with LIST STATE — the third TWS state kind
    exercised for real (op206 ValueState scalar tuple, op208
    ValueState composite key, here ListState holding a bounded ranked
    list).

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
    k = 3

    class TopK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState("top", "q bigint, event_id bigint")
            self._n = handle.getValueState("n", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            kept = [tuple(t) for t in self._top.get()] if self._top.exists() else []
            n = self._n.get()[0] if self._n.exists() else 0
            for r in rows:
                n += 1
                kept.append((r.q, r.event_id))
            kept.sort(key=lambda t: (-t[0], t[1]))
            kept = kept[:k]
            self._top.put(kept)
            self._n.update((n,))
            for rank, (q, event_id) in enumerate(kept, 1):
                yield Row(user_id=key[0], n_seen=n, rank=rank, q=q, event_id=event_id)

    ev = _stream_events(spark, sf_dir).select(
        "user_id", "event_id", F.expr(SQL_QUANT_VALUE).alias("q")
    )
    sunk = _tws_run(
        ev, ["user_id"], TopK(),
        "user_id bigint, n_seen bigint, rank int, q bigint, event_id bigint",
        "Update",
    )
    return _final_emission(sunk, ["user_id"], "n_seen").select(
        "user_id", "rank", "q", "event_id"
    )


def stream_tws_mapstate_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op219's pipeline: per-user, per-event-type running (n, sum_q)
    via transformWithState MAP STATE — with op206 (ValueState) and
    op218 (ListState) this exercises every TWS state primitive for
    real. The map key is the event_type (sub-key WITHIN the stream
    key: user_id), so state reads/writes are point lookups into
    RocksDB rather than a whole-blob rewrite — the reason MapState
    exists and the shape per-entity-per-category serving state takes
    at scale.

    Same exactness contract as op206: q quantized JVM-side with the
    oracle's decimal-cast expression, map values are (int64 count,
    int64 sum) — order-insensitive algebra, so the final emission
    hash-matches the batch groupBy(user_id, event_type) oracle."""

    class TypeStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._m = handle.getMapState(
                "m", "event_type string", "n bigint, sum_q bigint"
            )
            self._n = handle.getValueState("n", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            n_seen = self._n.get()[0] if self._n.exists() else 0
            batch: dict[str, tuple[int, int]] = {}
            for r in rows:
                n_seen += 1
                n, s = batch.get(r.event_type, (0, 0))
                batch[r.event_type] = (n + 1, s + r.q)
            for et, (n, s) in batch.items():
                n0, s0 = self._m.getValue((et,)) if self._m.containsKey((et,)) else (0, 0)
                self._m.updateValue((et,), (n0 + n, s0 + s))
            self._n.update((n_seen,))
            for (et,), (n, s) in self._m.iterator():
                yield Row(user_id=key[0], n_seen=n_seen, event_type=et, n=n, sum_q=s)

    ev = _stream_events(spark, sf_dir).select(
        "user_id", "event_type", F.expr(SQL_QUANT_VALUE).alias("q")
    )
    sunk = _tws_run(
        ev, ["user_id"], TypeStats(),
        "user_id bigint, n_seen bigint, event_type string, n bigint, sum_q bigint",
        "Update",
    )
    return _final_emission(sunk, ["user_id"], "n_seen").select(
        "user_id", "event_type", "n", "sum_q"
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
    gap_us = SESS_GAP_MS * 1000

    def session_row(key, kind, s) -> Row:
        return Row(
            user_id=key[0], kind=kind, start_us=s[0], end_us=s[1], n=s[2], sum_q=s[3]
        )

    class Sessionizer(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._open = handle.getValueState(
                "open", "start_us bigint, last_us bigint, n bigint, sum_q bigint"
            )
            self._handle = handle

        def handleInputRows(self, key, rows, timerValues):
            evs = sorted((r.us, r.event_id, r.q) for r in rows)
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
            for s in closed:
                yield session_row(key, "batch", s)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self._open.exists():
                s = tuple(self._open.get())
                self._open.clear()
                yield session_row(key, "timer", s)

    ev = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", f"{SESS_WM_DELAY_MS} milliseconds")
        .select(
            "user_id",
            "event_id",
            F.expr("unix_micros(ts)").alias("us"),
            F.expr(SQL_QUANT_VALUE).alias("q"),
            "ts",
        )
    )
    return _tws_run(
        ev, ["user_id"], Sessionizer(),
        "user_id bigint, kind string, start_us bigint, end_us bigint,"
        " n bigint, sum_q bigint",
        "Append",
        time_mode="EventTime",
    )


class _CommitLog:
    """Exactly-once commits of foreachBatch batches under `man_dir`.

    Batch <id> is committed iff `<man_dir>/<id>.json` exists; the file
    holds the batch's entry ({"batch_id": <id>, "path": ..., ...}). A
    commit writes a `<id>.json.<pid>.tmp` sibling and os.replace-s it
    into place — the atomic commit point: either the entry exists or
    it doesn't. Only `<id>.json` names count as commits: a crash-left
    or concurrent writer's tmp file is complete-looking JSON, and
    counting it would read an uncommitted batch as committed."""

    def __init__(self, man_dir: str) -> None:
        os.makedirs(man_dir, exist_ok=True)
        self.man_dir = man_dir

    def _path(self, batch_id: int) -> str:
        return os.path.join(self.man_dir, f"{batch_id}.json")

    def has(self, batch_id: int) -> bool:
        return os.path.exists(self._path(batch_id))

    def commit(self, batch_id: int, **entry) -> None:
        """Commit batch_id's entry unless it is already committed (a
        replayed batch is a no-op)."""
        if self.has(batch_id):
            return
        body = json.dumps({"batch_id": batch_id, **entry}).encode()
        publish(self._path(batch_id), lambda f: f.write(body))

    def entries(self) -> list[dict]:
        """Every committed entry, by batch id."""
        out = []
        for m in os.listdir(self.man_dir):
            if m.endswith(".json"):
                with open(os.path.join(self.man_dir, m)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda e: e["batch_id"])

    def latest(self) -> dict | None:
        """The entry with the highest batch id, None before any commit."""
        entries = self.entries()
        return entries[-1] if entries else None


def stream_exactly_once_manifest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op234's pipeline: EXACTLY-ONCE file sink via foreachBatch +
    atomic manifest commit — the operational pattern that turns
    Spark's at-least-once batch replay into exactly-once output
    without a transactional table format:

      1. foreachBatch writes the batch to `data/batch=<id>/`,
      2. then COMMITS by atomically creating `manifest/<id>.json`
         (_CommitLog): either the manifest exists (committed) or it
         doesn't; a crash between 1 and 2 leaves orphan data files
         that readers never see,
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
    # scratch_dir: a fresh, empty dir private to this process, so a
    # concurrent session's in-flight batches are never touched. The
    # exactly-once semantics under test are within one run (batch-0
    # replay), so no cross-run root is needed.
    from ocdb_server_spark.scratch import scratch_dir

    root = scratch_dir("eo_sink", sf_dir)
    data_dir = os.path.join(root, "data")
    log = _CommitLog(os.path.join(root, "manifest"))

    def commit_batch(batch_df, batch_id: int) -> None:
        if log.has(batch_id):
            return  # already committed: replayed batch is a no-op
        path = os.path.join(data_dir, f"batch={batch_id}")
        batch_df.write.mode("overwrite").parquet(path)
        log.commit(batch_id, path=path)

    ev = _stream_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(SQL_QUANT_VALUE).alias("q"),
    )
    _await(
        ev.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start(),
        "stream_exactly_once_sink",
    )

    # explicit raises, not assert: these checks ARE the op's
    # certification and must survive python -O
    committed = log.entries()
    if not committed:
        raise RuntimeError("stream committed no batches")
    # REPLAY batch 0 with the same data — must be a no-op. Batches are
    # read back with the schema they were written with: inferring it
    # again is a job per read.
    batch0 = committed[0]
    commit_batch(spark.read.schema(ev.schema).parquet(batch0["path"]), batch0["batch_id"])
    if log.entries() != committed:
        raise RuntimeError("replay must not create a new commit")

    out = spark.read.schema(ev.schema).parquet(*[e["path"] for e in committed])
    return out.groupBy("event_type").agg(
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
    feed), op234's commit log is the replay armor.

    The moving parts, per micro-batch (functions/cdc.py holds the
    merge semantics; this function only sequences them):

      1. the feed is exported as ``n_feed_files`` parquet files
         (split by event_id mod N — deliberately INTERLEAVING
         timestamps across files, so later batches carry changes
         OLDER than ones already applied) and streamed back with
         maxFilesPerTrigger=1 → N real micro-batches;
      2. foreachBatch SKIPS if the batch is already committed
         (Spark's driver-retry replay → no-op), else reads the store
         generation the LAST COMMITTED batch published, merges with
         apply_changes_incremental (seq-watermark guard: a stale
         change loses to the store's applied watermark, so batch
         ORDER doesn't matter — each key converges to its global
         max-seq change), writes ``store/gen=<batch_id>``, and
         COMMITS its manifest entry (_CommitLog);
      3. after the stream drains, the LAST batch is replayed with its
         own data (what a retrying driver does) — must commit nothing;
      4. readers resolve the max committed entry and finish_store()
         projects tombstones/bookkeeping back to the public
         (key, payload, status, n_changes) contract.

    100 TB shape: each micro-batch pays one key-window over the BATCH
    (tiny) and one full-outer join against the store; the store is
    shuffled once per batch, never windowed, and generations make
    every commit atomic-readable (the lakehouse-format simulation
    family's streaming member — op148/op168/op228/op255/op264).
    """
    from ocdb_server_spark.functions.cdc import (
        apply_changes_incremental,
        finish_store,
        seed_store,
    )
    from ocdb_server_spark.scratch import scratch_dir

    root = scratch_dir("cdc_stream", sf_dir)
    feed_dir = os.path.join(root, "feed")
    store_dir = os.path.join(root, "store")
    log = _CommitLog(os.path.join(root, "manifest"))

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

    # --- seed generation: the base snapshot as an incremental store.
    # Every file this op writes is read back with the schema it was
    # written with (the feed's, or the store generation's, by path):
    # inferring it again is a job per read.
    seed_path = os.path.join(store_dir, "gen=seed")
    seed = seed_store(cdc_base_snapshot(spark, sf_dir), key, seq, seq_types)
    seed.write.mode("overwrite").parquet(seed_path)
    store_schemas = {seed_path: seed.schema}

    def read_store(path: str) -> DataFrame:
        return spark.read.schema(store_schemas[path]).parquet(path)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if log.has(batch_id):
            return  # already committed: replayed batch is a no-op
        # land the raw batch first (op234's data/commit split): the
        # merge then reads a stable batch copy, and the post-stream
        # replay can re-present the batch's OWN data — the stream's
        # file→batch assignment is not ours to reconstruct
        raw_path = os.path.join(root, "raw", f"batch={batch_id}")
        batch_df.write.mode("overwrite").parquet(raw_path)
        # batch ids are monotone, so the latest commit IS the newest store
        latest = log.latest()
        store = read_store(latest["path"] if latest else seed_path)
        out = apply_changes_incremental(
            store, spark.read.schema(feed_schema).parquet(raw_path),
            key=key, seq=seq, payload=payload,
        )
        gen_path = os.path.join(store_dir, f"gen={batch_id}")
        out.write.mode("overwrite").parquet(gen_path)
        store_schemas[gen_path] = out.schema
        log.commit(batch_id, path=gen_path, raw=raw_path)

    _await(
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
        .writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start(),
        "stream_cdc_apply_changes",
    )

    # explicit raises, not assert: the replay armor IS the op's
    # certification and must survive python -O
    committed = log.entries()
    if len(committed) != n_feed_files:
        raise RuntimeError(
            f"expected {n_feed_files} committed batches, got "
            f"{[e['batch_id'] for e in committed]}"
        )
    # REPLAY the last batch with its own data (the raw copy its commit
    # landed) — must commit nothing and so leave the store pointer
    # untouched (op234's certification, here protecting a MUTABLE
    # store from double application).
    last = committed[-1]
    commit_batch(spark.read.schema(feed_schema).parquet(last["raw"]), last["batch_id"])
    if log.entries() != committed:
        raise RuntimeError("replay must not create a new commit")

    return finish_store(read_store(last["path"]), key, seq)
