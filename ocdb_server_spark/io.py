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

import weakref

from pyspark.sql import DataFrame, SparkSession

from ocdb_server_spark.session import STANCE, Stance, adopt

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


# Hot-table cache (opt-in via warm_cache; used by bench.py). The
# driver's testdata writes ONE row group per file, so file splits
# cannot parallelize the scan — every query starts with a single task
# no matter how many cores exist. Production parquet has row groups
# sized to spark.sql.files.maxPartitionBytes and doesn't have this
# problem; the warm cache restores that parallelism (repartition to
# the core count) and keeps the hot working set in memory, matching
# how BASELINE.md measured DuckDB (warm views, best of 3).
_CACHE: dict[tuple[str, str], DataFrame] = {}

# Captured plan-time parameters (op80's eager-capture contract), WARM
# ONLY: a warm cache already freezes the visible table state, so
# re-running the 1-row capture job per plan build would re-read the
# same frozen rows — caching the captured value is observationally
# identical and saves a full Spark job (~0.1 s) per build. Cold
# sessions still re-fetch per build, preserving the contract's re-read
# semantics.
_PARAM_CACHE: dict[tuple[str, str], object] = {}

# Temp-view registration memo (per live SparkSession): re-registering
# the same (view, sf_dir) binding is a no-op costing ~6 py4j round
# trips per star-join build, so load_tables skips it. Invalidated
# whenever the cache state changes (warm_cache/clear_cache), because
# load_table's return — and therefore what the view must bind to —
# changes with it.
_VIEW_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[str, str]]" = (
    weakref.WeakKeyDictionary()
)

# Zone IDs equivalent to UTC for oracle parity.
_UTC_ALIASES = ("UTC", "Etc/UTC", "GMT")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    stance = adopt(spark)
    cached = _CACHE.get((sf_dir, name))
    if cached is not None:
        # Serve the warm frame only to ITS OWN session: a frame bound
        # to a stopped/previous session would fail on first use, and
        # createOrReplaceTempView on it would register into the OLD
        # session's catalog. A process that stops its session and
        # builds a new one without clear_cache() gets a cold read
        # here; the old session's cache entries stay intact for their
        # owner.
        try:
            if cached.sparkSession is spark:
                return cached
        except Exception:
            pass  # dead session object — treat as a miss
    if name == "events" and stance.kind == "external":
        _events_stance(spark, stance)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = _normalize_events(df)
    return df


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
    by row count, and serve them from load_table until clear_cache().

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
    per-row work dominates scheduling there)."""
    cores = spark.sparkContext.defaultParallelism
    for name in names:
        # Re-warming without clear_cache() must not leak: the frame
        # being replaced stays persisted forever once its only handle
        # is overwritten. Unpersist it, and — only when the table being
        # replaced is 'embeddings' — the derived normed-embeddings entry
        # built on that generation (itself cached). Re-warming an
        # unrelated table keeps the still-valid normed cache.
        stale_keys = [(sf_dir, name)]
        if name == "embeddings":
            stale_keys.append((sf_dir, "__embeddings_normed__"))
        for stale_key in stale_keys:
            prev = _CACHE.pop(stale_key, None)
            if prev is not None:
                try:
                    prev.unpersist()
                except Exception:
                    pass  # stopped session — nothing to free
        df = load_table(spark, sf_dir, name)
        n = df.count()
        # tiny dims (<18k) → 1 slice, events 100k → 5, orders 150k →
        # 8, lineitem 600k → 33 (see the docstring)
        p = min(4 * cores, max(1, n // 18_000))
        if name in _COMPUTE_HEAVY:
            p = max(p, min(cores, 16))
        df = df.repartition(int(p))
        df = df.cache()
        df.count()  # materialize now so queries measure compute, not fill
        _CACHE[(sf_dir, name)] = df
    # cache state changed: registered views must rebind to the warm
    # frames on the next load_tables. Captured parameters are
    # embeddings-derived (__query_vec_N__), so they are stale only
    # when embeddings itself re-warmed; keeping them otherwise saves a
    # 1-row head() job on the next plan build.
    _VIEW_MEMO.clear()
    if "embeddings" in names:
        _PARAM_CACHE.clear()


def clear_cache() -> None:
    """Unpersist and forget every cached frame. Exception-safe per
    entry: if the owning session was stopped, unpersist raises — the
    cache MUST still empty, or the next session would be served frames
    bound to a dead SparkContext (same guard registry.release_pool
    carries)."""
    for df in _CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # stopped session — nothing to free
    _CACHE.clear()
    _PARAM_CACHE.clear()
    _VIEW_MEMO.clear()


def _owns_warm(spark: SparkSession, sf_dir: str) -> bool:
    """Does THIS session own the warm embeddings entry? Warm presence,
    live-session identity and exception-as-miss, shared by query_vector
    and load_embeddings_normed."""
    warm = _CACHE.get((sf_dir, "embeddings"))
    try:
        return warm is not None and warm.sparkSession is spark
    except Exception:
        return False  # dead session object — not an owner


def query_vector(
    spark: SparkSession, sf_dir: str, vec_id: int = 0
) -> list[float] | None:
    """Fetch a query embedding at plan time (op80's bound-parameter
    capture: a 1-row key lookup). Served from _PARAM_CACHE when the
    sf_dir's embeddings are warm (see _PARAM_CACHE's consistency
    argument); otherwise a fresh head() per call."""
    from pyspark.sql import functions as F

    key = (sf_dir, f"__query_vec_{vec_id}__")
    ent = _PARAM_CACHE.get(key)
    if ent is not None:
        owner_ref, cached_vec = ent  # type: ignore[misc]
        # Parameters captured under a PREVIOUS session's warm cache
        # must not serve a new session over possibly-regenerated data —
        # same rule _CACHE enforces.
        if owner_ref() is spark:
            # a COPY: the cached list must not alias the caller's
            # (in-place normalization would corrupt every later serve)
            return None if cached_vec is None else list(cached_vec)
    row = (
        load_embeddings_normed(spark, sf_dir)
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .head()
    )
    vec = None if row is None else [float(x) for x in row[0]]
    if _owns_warm(spark, sf_dir):
        _PARAM_CACHE[key] = (
            weakref.ref(spark),
            None if vec is None else list(vec),
        )
    return vec


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
    recomputed per lookup. Mirroring that here: when the sf_dir's
    embeddings are warm (warm_cache ran), the normed projection is
    cached and materialized once so every kNN serve pays only the dot
    products; cold paths get the identical plan lazily with no extra
    action or persistence."""
    from pyspark.sql import functions as F

    key = (sf_dir, "__embeddings_normed__")
    cached = _CACHE.get(key)
    if cached is not None:
        try:
            if cached.sparkSession is spark:  # same guard as load_table
                return cached
        except Exception:
            pass  # dead session object — treat as a miss
    en = load_table(spark, sf_dir, "embeddings").withColumn("nrm", F.expr(_NORM_SQL))
    # Materialize-and-store only when THIS session owns the warm
    # embeddings entry: presence alone also matches a dead/foreign
    # session's entry, which would make an unwarmed session pay a
    # surprise cache+count job AND overwrite another owner's normed
    # handle (a storage leak — the displaced frame stays persisted
    # with no handle left to unpersist it).
    if _owns_warm(spark, sf_dir):
        prev = _CACHE.get(key)
        if prev is not None:
            try:
                prev.unpersist()  # displaced generation: free its blocks
            except Exception:
                pass
        en = en.cache()
        en.count()
        _CACHE[key] = en
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
    """Load the requested tables and register each as a temp view
    (memoized per session: re-registering an unchanged (view, sf_dir)
    binding is pure py4j overhead — see _VIEW_MEMO)."""
    memo = _VIEW_MEMO.setdefault(spark, {})
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        if memo.get(name) != sf_dir:
            df.createOrReplaceTempView(name)
            memo[name] = sf_dir
        out[name] = df
    return out
