"""Table loading / catalog registration.

The reference stores one MongoDB collection of Dataset documents and a
disk file store (SURVEY.md §1.2); our serving layer is columnar
Parquet read through the vectorized reader, so predicate pushdown and
column pruning reach the scan (the reference's whole "compile query to
Mongo filter" design collapses into Catalyst — SURVEY.md §4.1).

At 100 TB these tables would be date/key-partitioned directories; the
driver's testdata is one file per table, so ``load_tables`` simply
reads each and registers a temp view. All operator code goes through
here so a partitioned layout is a one-file change.
"""

from __future__ import annotations

import os
import stat
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from ocdb_server_spark.session import _STANCES, INFER_CONFS, STANCE, Stance, adopt

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# Zone IDs equivalent to UTC for oracle parity.
_UTC_ALIASES = ("UTC", "Etc/UTC", "GMT")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    stance = adopt(spark)
    cached = stance.warm.get((sf_dir, name))
    if cached is not None:
        return cached
    df = _read_raw(spark, stance, sf_dir, name)
    if name == "events":
        df = _normalize_events(df)
    return df


def raw_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """A table's schema as its file stores it, before load_table's
    events normalization: a stream source needs this one."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    return _read_raw(spark, adopt(spark), sf_dir, name).schema


def _read_raw(spark: SparkSession, stance: Stance, sf_dir: str, name: str) -> DataFrame:
    """The table's file read as stored, with the schema this session
    recorded for it when it holds one."""
    if name == "events" and stance.kind == "external":
        _events_stance(spark, stance)
    path = table_path(sf_dir, name)
    key = _schema_key(spark, stance, path, name)
    known = stance.schemas.get(key)
    if known is not None:
        return spark.read.schema(known).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        stance.schemas[key] = df.schema
    return df


def _schema_key(
    spark: SparkSession, stance: Stance, path: str, name: str
) -> tuple | None:
    """The key of a table's inferred schema in the session's record, or
    None when the read must infer it afresh.

    Inferring a schema is a 1-task Spark job (~0.12 s); a read given
    the schema launches none. The record serves a schema only while
    the file and the confs that shaped it are unchanged: the key holds
    the file's path, mtime and size, and the INFER_CONFS values. Own
    and bare sessions keep the values their stance gave them, so the
    key costs no conf call there. An external session may change them
    at any time: its events reads, which pay conf calls anyway
    (_events_stance), read them; its other tables are not recorded.
    Nor is anything but a plain local file: a directory's mtime does
    not follow its part files, and a remote path has no os.stat."""
    if stance.kind != "external":
        confs = stance.infer
    elif name == "events":
        try:
            confs = tuple(spark.conf.get(k, None) for k in INFER_CONFS)
        except Exception:
            return None  # conf quirk: infer, as before the record
    else:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (path, st.st_mtime_ns, st.st_size, confs)


def _events_stance(spark: SparkSession, stance: Stance) -> None:
    """The confs an events read needs, on a session whose caller chose
    its own stance (own and bare sessions hold them since adopt).

    nanosAsLong is set always: without it the read fails. The
    NTZ→LTZ cast in _normalize_events and every later date_trunc or
    unix_micros depend on the session zone, and the oracle computes in
    naive/UTC time:
    - an UNSET zone runs on a JVM default nobody chose: pin UTC, and
      warn once per session when that changes the effective zone
      (setting the conf explicitly opts out);
    - an EXPLICIT zone is the caller's choice, which their own
      timestamps depend on: leave it, and warn once per session when it
      is not UTC-equivalent, since timestamp ops then diverge from the
      oracle."""
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(nanos, STANCE[nanos])
    try:
        tz = spark.conf.get("spark.sql.session.timeZone", None)
    except Exception:
        tz = "UTC"  # conf quirk — never break the read
    if tz is None:
        try:
            jvm_tz = spark._jvm.java.util.TimeZone.getDefault().getID()
        except Exception:
            jvm_tz = "UTC"
        if jvm_tz not in _UTC_ALIASES:
            _warn_once(
                stance,
                "pin",
                f"events load pins spark.sql.session.timeZone to UTC for "
                f"oracle parity, overriding the JVM default {jvm_tz!r}; set "
                f"the conf explicitly to keep a non-UTC zone",
            )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    elif tz not in _UTC_ALIASES:
        _warn_once(
            stance,
            "skip",
            f"events loaded on a session with explicit "
            f"spark.sql.session.timeZone={tz!r}; timestamp operators "
            f"assume UTC and will diverge from the naive/UTC oracle on "
            f"this session",
        )


def _warn_once(stance: Stance, kind: str, message: str) -> None:
    """Warn at load_table's caller, once per session and kind: the two
    kinds are different facts, so one must not silence the other."""
    if kind not in stance.warned:
        import warnings

        warnings.warn(message, stacklevel=4)
        stance.warned.add(kind)


# Tables whose operators do heavy per-row work (shingling, hashing,
# vector math) want more slices than their row count alone suggests.
_COMPUTE_HEAVY = {"documents", "embeddings"}


def warm_cache(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLES,
) -> None:
    """Cache the given tables in memory, repartitioned for parallelism
    by row count, and serve them to this session's load_table until
    clear_cache().

    The testdata writes ONE row group per file, so file splits cannot
    parallelize a cold scan: every query starts with a single task
    however many cores exist. Production parquet has row groups sized
    to spark.sql.files.maxPartitionBytes; the warm cache restores that
    parallelism and keeps the hot working set in memory, as BASELINE.md
    measured DuckDB (warm views, best of 3).

    Sizing is one curve, ~18k rows/slice clamped to [1, 4×cores],
    measured under fresh-instance timings (repeat-mode timings hide
    the map-stage wave each fresh execution pays):

    - Tiny dims (<18k rows) land on ONE slice — their dominant
      consumption is the build side of a BroadcastExchange, and each
      broadcast build is a JOB over the cached slices; an 8-slice
      25-row nation makes that job an 8-task wave of nothing
      (interleaved at sf0.1: op39's five broadcast builds, 150 →
      136 ms).
    - Bigger tables grow smoothly: interleaved ABAB sweeps at sf0.1
      found the per-table optima (lineitem 600k: 24 ≈ 32-33 > 16;
      orders 150k: 8 > 6 > 15; events 100k: 4-5 > 10), and the curve
      lands each inside its measured plateau.
    - The cap scales with cores, not a constant: an absolute cap tuned
      at sf0.1 would throttle a 60M-row stress table to 24 giant
      slices; 4×cores keeps slices memory-bounded while allowing a few
      task waves on big inputs.

    Compute-heavy text/vector tables keep their 16-slice floor (the
    per-row work dominates scheduling there).

    The row count that sizes the slices is the sum of the Parquet
    footers of the files the read lists (driver-side reads, no Spark
    job); a footer that cannot be read falls back to a count() job.

    Tables fill concurrently on a thread pool of at most
    defaultParallelism threads. A fill is the schema inference of a
    table this session has not read, then the cache fill: two small
    jobs with AQE off (the interactive profile perfbench warms on),
    more with AQE on, where the repartition and the materializing count
    run as separate adaptive jobs. Each is mostly scheduling latency on
    one or a few cores, so one after another they leave most cores
    idle. The pool's tasks inherit the caller's job group, local
    properties and tags. Frames being replaced are unpersisted first;
    the new ones are published only once every table filled. If one
    fails, the frames already filled are unpersisted and the first
    error in names order is raised."""
    stance = adopt(spark)
    cores = spark.sparkContext.defaultParallelism
    names = tuple(dict.fromkeys(names))
    for name in names:
        # Re-warming without clear_cache() must not leak: the frame
        # being replaced stays persisted forever once its only handle
        # is overwritten. Unpersist it, and — only when the table being
        # replaced is 'embeddings' — the derived normed-embeddings entry
        # built on that generation (itself cached). Re-warming an
        # unrelated table keeps the still-valid normed cache.
        stale = [name, "__embeddings_normed__"] if name == "embeddings" else [name]
        for key in stale:
            prev = stance.warm.pop((sf_dir, key), None)
            if prev is not None:
                prev.unpersist()

    def inheriting(fn):
        # One wrap per task, so each task sets its own copy of the
        # caller's local properties (a running job writes its execution
        # id there). Without pinned threads the wrapper returns the
        # session itself, and there is nothing to inherit.
        wrap = inheritable_thread_target(spark)
        return fn if wrap is spark else wrap(fn)

    with ThreadPoolExecutor(max(1, min(len(names), cores))) as pool:
        futures = [
            pool.submit(inheriting(_fill), spark, sf_dir, name, cores)
            for name in names
        ]
    errors = [f.exception() for f in futures if f.exception() is not None]
    if errors:
        for f in futures:
            if f.exception() is None:
                f.result().unpersist()
        raise errors[0]
    for name, f in zip(names, futures):
        stance.warm[(sf_dir, name)] = f.result()
    # The views of this session must rebind to the warm frames on its
    # next load_tables; other sessions' views live in their own
    # catalogs. Captured parameters are embeddings-derived, so they are
    # stale only when embeddings itself re-warmed.
    stance.views.clear()
    if "embeddings" in names:
        stance.params.clear()


def _fill(spark: SparkSession, sf_dir: str, name: str, cores: int) -> DataFrame:
    """One table read, sliced by its row count, cached and materialized."""
    df = load_table(spark, sf_dir, name)
    n = _footer_rows(spark, df)
    if n is None:
        n = df.count()
    # tiny dims (<18k) → 1 slice, events 100k → 5, orders 150k →
    # 8, lineitem 600k → 33 (see warm_cache)
    p = min(4 * cores, max(1, n // 18_000))
    if name in _COMPUTE_HEAVY:
        p = max(p, min(cores, 16))
    df = df.repartition(int(p)).cache()
    try:
        df.count()  # materialize now so queries measure compute, not fill
    except BaseException:
        df.unpersist()
        raise
    return df


def _footer_rows(spark: SparkSession, df: DataFrame) -> int | None:
    """The rows of a plain file read, summed from its files' Parquet
    footers through the Hadoop FileSystem; None when a footer cannot be
    read."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    n = 0
    try:
        for f in df.inputFiles():
            source = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(f), conf
            )
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(source)
            try:
                n += reader.getRecordCount()
            finally:
                reader.close()
    except Exception:
        return None  # unreadable footer: count() reports the error, if any
    return n


def clear_cache() -> None:
    """Unpersist and forget every session's warm frames, captured
    parameters and view bindings. Exception-safe per frame: if its
    session was stopped, unpersist raises, and the record must still
    empty (same guard registry.release_pool carries)."""
    for stance in list(_STANCES.values()):
        for df in stance.warm.values():
            try:
                df.unpersist()
            except Exception:
                pass  # stopped session — nothing to free
        stance.warm.clear()
        stance.params.clear()
        stance.views.clear()


def query_vector(
    spark: SparkSession, sf_dir: str, vec_id: int = 0
) -> list[float] | None:
    """Fetch a query embedding at plan time (op80's bound-parameter
    capture: a 1-row key lookup).

    Over warm embeddings the value is captured once per session: the
    warm cache already freezes the visible table state, so re-running
    the capture job (~0.1 s) per plan build would only re-read the same
    rows. Cold reads fetch it afresh per call, keeping the contract's
    re-read semantics."""
    from pyspark.sql import functions as F

    stance = adopt(spark)
    key = (sf_dir, vec_id)
    if key in stance.params:
        vec = stance.params[key]
    else:
        row = (
            load_embeddings_normed(spark, sf_dir)
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .head()
        )
        vec = None if row is None else [float(x) for x in row[0]]
        if (sf_dir, "embeddings") in stance.warm:
            stance.params[key] = vec
    # a copy: a caller normalizing in place must not corrupt later serves
    return None if vec is None else list(vec)


# L2 norm as one JVM-parsed expression (see functions/vector.py for the
# py4j-chatter rationale; duplicated as SQL text so this module needs no
# Column plumbing).
_NORM_SQL = (
    "sqrt(aggregate(transform(embedding,"
    " x -> cast(x as double) * cast(x as double)),"
    " cast(0 as double), (acc, x) -> acc + x))"
)


def load_embeddings_normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings plus a precomputed ``nrm`` (L2 norm) column.

    The norm is query-independent corpus state: at 100 TB it is
    computed once at ingest and stored beside the vectors, not
    recomputed per lookup. Mirroring that here: when this session's
    embeddings for sf_dir are warm (warm_cache ran on it), the normed
    projection is cached and materialized once so every kNN serve pays
    only the dot products; cold reads get the identical plan lazily
    with no extra action or persistence."""
    from pyspark.sql import functions as F

    warm = adopt(spark).warm
    key = (sf_dir, "__embeddings_normed__")
    if key in warm:
        return warm[key]
    en = load_table(spark, sf_dir, "embeddings").withColumn("nrm", F.expr(_NORM_SQL))
    if (sf_dir, "embeddings") in warm:
        en = en.cache()
        en.count()
        warm[key] = en
    return en


def _normalize_events(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TIMESTAMP (LTZ) for either layout the
    test-data generator writes:

    - TIMESTAMP(NANOS): Spark 4 reads it as a nanos-since-epoch long
      (spark.sql.legacy.parquet.nanosAsLong). Truncate to µs with
      INTEGER division (a double division would lose precision at 1e18
      magnitudes) — same truncation DuckDB applies casting
      TIMESTAMP_NS → TIMESTAMP, so the oracle agrees.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark's
      inferTimestampNTZ maps it to TIMESTAMP_NTZ; cast to LTZ (the
      session zone is UTC on own and adopted sessions, so the cast is
      value-identical) — functions like unix_micros require LTZ, and
      LTZ output hash-matches the naive DuckDB oracle."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load the requested tables and register each as a temp view.

    A view already bound to sf_dir in this session is not registered
    again: that costs ~6 py4j round trips per star-join build and
    changes nothing. warm_cache and clear_cache forget the bindings,
    since load_table's frame changes with them."""
    views = adopt(spark).views
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        if views.get(name) != sf_dir:
            df.createOrReplaceTempView(name)
            views[name] = sf_dir
        out[name] = df
    return out
