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

from pyspark.sql import DataFrame, SparkSession

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
# identical and saves a full Spark job per build (~0.1 s, the largest
# single line in plan_build_sec's round-6 creep). Cold sessions still
# re-fetch per build, preserving the contract's re-read semantics.
_PARAM_CACHE: dict[tuple[str, str], object] = {}

# Temp-view registration memo (per live SparkSession): load_tables used
# to re-issue createOrReplaceTempView on every call (~6 py4j round
# trips per star-join build); re-registering the same (view, sf_dir)
# binding is a no-op, so skip it. Invalidated whenever the cache state
# changes (warm_cache/clear_cache), because load_table's return — and
# therefore what the view must bind to — changes with it.
import weakref

_VIEW_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[str, str]]" = (
    weakref.WeakKeyDictionary()
)


# Sessions already inspected (or explicitly exempted) by
# _tune_bare_session: tuning is a one-time decision per session, and
# the per-call conf.get was a py4j round trip on EVERY load_table —
# including warm cache hits (round-12 review). session.get_spark
# registers its sessions here so a deliberately-configured session is
# never value-sniffed at all (a configured 200 used to be
# indistinguishable from the stock default and got clobbered).
_TUNED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()

# Sessions whose timezone stance WE control: built by session.get_spark
# (which pins UTC itself) or sniffed-bare and pinned by
# _tune_bare_session. An EXTERNAL session that configured its own
# shuffle/timezone lands in _TUNED without joining either set — the
# events read must not flip ITS timezone out from under it
# (round-13 review).
_OWN: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()
_BARE: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()

# Sessions already warned, once per session per WARNING KIND — the
# two warnings are different facts about different states (we pinned
# UTC over your JVM default / we left your explicit non-UTC alone and
# the oracle will diverge), so one shared set let the first suppress
# the second on the same session (round-14 review).
_TZ_PIN_WARNED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()
_TZ_SKIP_WARNED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()

# Zone IDs equivalent to UTC for oracle parity — shared by the
# JVM-default and explicit-conf branches below so the two can never
# drift apart again (session review: the round-15 ADVICE fix copied
# the tuple into the second branch; one list, one edit point).
_UTC_ALIASES = ("UTC", "Etc/UTC", "GMT")


def mark_session_configured(spark: SparkSession) -> None:
    """Exempt a session from bare-session tuning: it picked its own
    shuffle/AQE/timezone stance (session.get_spark calls this)."""
    _TUNED.add(spark)
    _OWN.add(spark)


def _tune_bare_session(spark: SparkSession) -> None:
    """The driver harness hands us ITS OWN bare session. On such a
    session every shuffle runs at the 200-partition default, and this
    testdata's single-row-group files give 1-task scans — so each query
    pays seconds of empty-task scheduling, which is what cut the
    round-1 correctness sweep off at 50/113 queries. If the session
    still has the stock default, drop shuffle parallelism to 8 (plenty
    for sf≤0.1 row counts) and let AQE coalesce further. A session that
    was explicitly configured (ours sets 32 in session.py) is left
    alone. Runtime-settable confs only — same pattern as nanosAsLong."""
    if spark in _TUNED:
        return
    try:
        tuned_bare = False
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            # Only the never-configured case: our own sessions
            # (session.py) pick shuffle partitions AND an AQE stance per
            # profile — the interactive profile deliberately disables
            # AQE, so don't override a configured session's choice
            # (get_spark sessions are exempted via _TUNED before this
            # sniff ever runs; an EXTERNAL session that deliberately
            # chose exactly 200 remains indistinguishable from the
            # stock default — documented residual).
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
            # The oracle computes in naive/UTC time: EVERY timestamp
            # literal comparison (op209's orders filter, not just the
            # events path) needs the session zone pinned, or a bare
            # session in a non-UTC container flips boundary rows
            # (round-12 review — the defensive pin lived only on the
            # events load path).
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            tuned_bare = True
        if tuned_bare:
            _BARE.add(spark)
    except Exception:
        pass  # never let a conf quirk break a read
    finally:
        # membership must stick even when the probe raised: otherwise
        # EVERY later load_table — warm hits included — re-pays the
        # failing py4j round trip the set exists to remove
        # (round-13 review)
        _TUNED.add(spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    _tune_bare_session(spark)
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
    if name == "events":
        # events.parquet is TIMESTAMP(NANOS), which Spark 4 rejects by
        # default. session.py sets this at build time, but the driver
        # harness may hand us ITS OWN bare session — the conf is
        # runtime-settable, so set it defensively before the read
        # (without it the read CRASHES, so this one is unconditional).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ→LTZ cast in _normalize_events (and every later
        # date_trunc/unix_micros) is session-timezone-dependent; the
        # DuckDB oracle computes in naive/UTC time. "Timezone stance is
        # ours" is decided from the TIMEZONE CONF ITSELF, not inferred
        # from the shuffle sniff (round-14 ADVICE: an external session
        # that configured shuffle — so skipped bare tuning — but left
        # the timezone UNSET silently lost the pin that used to apply
        # unconditionally, breaking oracle parity for every timestamp
        # op on that session):
        #   - _OWN sessions pinned UTC at build; re-pin is a no-op.
        #   - an UNSET spark.sql.session.timeZone means the session is
        #     running on the JVM default nobody chose — pin UTC.
        #   - an EXPLICIT non-UTC setting is a deliberate choice: leave
        #     it (the caller's own timestamps must not silently shift
        #     because they read one table through us — round-13
        #     review), but warn loudly once per session that timestamp
        #     ops will diverge from the naive/UTC oracle.
        if spark in _OWN or spark in _BARE:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        else:
            try:
                tz = spark.conf.get("spark.sql.session.timeZone", None)
            except Exception:
                tz = "UTC"  # conf quirk — never break the read
            if tz is None:
                # The pin can still override a DELIBERATE JVM-level
                # choice (-Duser.timezone / TZ env with the SQL conf
                # intentionally left to its documented JVM default) —
                # round-14 review. Oracle parity needs the pin, but it
                # must not be silent when it actually changes the
                # effective zone: say so once and name the opt-out
                # (set the conf explicitly and we leave it alone).
                try:
                    jvm_tz = (
                        spark._jvm.java.util.TimeZone.getDefault().getID()
                    )
                except Exception:
                    jvm_tz = "UTC"
                if jvm_tz not in _UTC_ALIASES and (
                    spark not in _TZ_PIN_WARNED
                ):
                    import warnings

                    warnings.warn(
                        f"events load pins spark.sql.session.timeZone to "
                        f"UTC for oracle parity, overriding the JVM "
                        f"default {jvm_tz!r}; set the conf explicitly to "
                        f"keep a non-UTC zone",
                        stacklevel=2,
                    )
                    _TZ_PIN_WARNED.add(spark)
                spark.conf.set("spark.sql.session.timeZone", "UTC")
            elif (
                # same UTC-equivalence whitelist as the jvm_tz branch
                # above: an explicit 'Etc/UTC'/'GMT' causes no oracle
                # divergence, so warning on it was a false alarm the
                # JVM-default path already avoided (round-15 ADVICE)
                tz not in _UTC_ALIASES
                and spark not in _TZ_SKIP_WARNED
            ):
                import warnings

                warnings.warn(
                    f"events loaded on a session with explicit "
                    f"spark.sql.session.timeZone={tz!r}; timestamp "
                    f"operators assume UTC and will diverge from the "
                    f"naive/UTC oracle on this session",
                    stacklevel=2,
                )
                _TZ_SKIP_WARNED.add(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = _normalize_events(df)
    return df


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

    The sizing was RE-DERIVED round 9 under the fresh-instance
    protocol (the old 10k-rows/slice [8, cores] clamp was tuned with
    repeat-mode timings, which hide the map-stage wave each fresh
    execution actually pays), then SMOOTHED round 10 (round-9 ADVICE —
    the 20k-row special case was a 1→4 step at an unmeasured boundary):

    - one curve: ~18k rows/slice clamped to [1, 4×cores]. Tiny dims
      (<18k rows) land on ONE slice — their dominant consumption is
      the build side of a BroadcastExchange, and each broadcast build
      is a JOB over the cached slices; an 8-slice 25-row nation makes
      that job an 8-task wave of nothing (interleaved at sf0.1: op39's
      five broadcast builds, 150 → 136 ms). Bigger tables grow
      smoothly: interleaved ABAB sweeps at sf0.1 found the per-table
      optima (lineitem 600k: 24 ≈ 32-33 > 16; orders 150k: 8 > 6 >
      15; events 100k: 4-5 > 10), and the formula lands each inside
      its measured plateau — identical values at every measured size;
      only the never-measured 20k-72k gap changed (e.g. 30k rows:
      1 slice, was 4). Old vs new r9 formula, 3 interleaved rounds,
      best-of-7 per query: comparable-5 532 → 464 ms, 7-query total
      803 → 722 ms, NO query regressed. The cap scales with cores,
      not a constant: an absolute cap tuned at sf0.1 would throttle
      a 60M-row stress table to 24 giant slices (the "would this
      hold at 100×?" trap); 4×cores keeps slices memory-bounded
      while allowing a few task waves on big inputs.

    Compute-heavy text/vector tables keep their 16-slice floor (the
    per-row work dominates scheduling there)."""
    cores = spark.sparkContext.defaultParallelism
    for name in names:
        # Re-warming without clear_cache() must not leak: the frame
        # being replaced stays persisted forever once its only handle
        # is overwritten (round-12 review). Unpersist it, and — only
        # when the table being replaced is 'embeddings' — the derived
        # normed-embeddings entry built on that generation (itself
        # cached — unpersist, don't just forget it). Re-warming an
        # unrelated table must NOT discard the still-valid normed
        # cache (round-12 ADVICE: that forced a surprise rebuild).
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
        # One smooth curve, ~18k rows/slice clamped to [1, 4×cores]
        # (round-9 ADVICE: the old `n<=20k → 1 else max(4, …)` form
        # was a 1→4 step discontinuity at an unmeasured boundary).
        # Same values at every measured point: tiny dims (<18k) → 1
        # slice (broadcast builds stop paying multi-task waves),
        # events 100k → 5, orders 150k → 8, lineitem 600k → 33 —
        # all inside their r9 interleaved-ABAB plateaus.
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
    # when embeddings itself re-warmed — dropping them on an unrelated
    # re-warm forced a pointless 1-row head() job on the next plan
    # build (round-13 review, the normed-cache ADVICE fix's sibling).
    _VIEW_MEMO.clear()
    if "embeddings" in names:
        _PARAM_CACHE.clear()


def clear_cache() -> None:
    """Unpersist and forget every cached frame. Exception-safe per
    entry (round-12 review): if the owning session was stopped,
    unpersist raises — the cache MUST still empty, or the next
    session would be served frames bound to a dead SparkContext
    (same guard registry.release_pool carries)."""
    for df in _CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # stopped session — nothing to free
    _CACHE.clear()
    _PARAM_CACHE.clear()
    _VIEW_MEMO.clear()


def _owns_warm(spark: SparkSession, sf_dir: str) -> bool:
    """Does THIS session own the warm embeddings entry? The invariant
    (warm presence + live-session identity + exception-as-miss) lives
    once — it used to be copy-pasted in query_vector and
    load_embeddings_normed, where a future fix to one copy would
    silently miss the other (round-13 review)."""
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
        # Session guard (round-12 review): parameters captured under a
        # PREVIOUS session's warm cache must not serve a new session
        # over possibly-regenerated data — same rule _CACHE enforces.
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
    # embeddings entry (round-12 review): presence alone also matched
    # a dead/foreign session's entry, making an unwarmed session pay a
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
    """Normalize events.ts to TIMESTAMP (LTZ) regardless of how the
    driver generated the file that round:

    - TIMESTAMP(NANOS) layout (rounds 1-2): Spark 4 reads it as a
      nanos-since-epoch long (spark.sql.legacy.parquet.nanosAsLong).
      Truncate to µs with INTEGER division (a double division would
      lose precision at 1e18 magnitudes) — same truncation DuckDB
      applies casting TIMESTAMP_NS → TIMESTAMP, so the oracle agrees.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) layout (observed round
      3): Spark's inferTimestampNTZ maps it to TIMESTAMP_NTZ; cast to
      LTZ (session tz is UTC on every session we build AND on this
      container's bare sessions, so the cast is value-identical) —
      functions like unix_micros require LTZ, and round 1's gate
      proved LTZ output hash-matches the naive DuckDB oracle."""
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
