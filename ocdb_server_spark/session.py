"""The engine's session stance, and the SparkSession factory built on it.

One table, ``STANCE``, holds the confs every session the engine runs on
needs. Two paths read it:

- ``get_spark`` builds a session with it, plus per-profile tuning;
- ``adopt`` applies it, once, to a stock session the engine did not
  build (``__spark_entry__``'s caller may create its own bare session
  and hand it over); ``io.load_table`` adopts it on first use.

Local testing runs on local[N]; the configuration is chosen to also be
the right *shape* at cluster scale: AQE on (runtime coalescing +
skew-join handling), Arrow for any Python exchange, and a shuffle
partition count sized to the data at hand rather than the 200 default.
On a real 1000-executor cluster the same builder is used with
``master`` unset and ``spark.sql.shuffle.partitions`` raised to ~2-3x
total cores (or left to AQE's coalescing from a high initial number).
"""

from __future__ import annotations

import os
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

_DAEMON = "spark.python.daemon.module"

STANCE: dict[str, str] = {
    # sf<=0.1 row counts: 8 reducers saturate every shuffle, while the
    # stock 200 pays seconds of empty-task scheduling per query on
    # single-row-group inputs; AQE coalesces further.
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # The DuckDB oracle computes in naive/UTC time: every timestamp
    # literal comparison and the events NTZ→LTZ cast need this zone.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet may carry TIMESTAMP(NANOS), which Spark 4 rejects by
    # default; read as long and normalized to µs in io._normalize_events.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Workers import pyspark from its directory install, not from Spark's
    # zip archives, which every task re-reads (daemon.py). Workers find
    # the package through PYTHONPATH (_vendor.add_worker_path).
    _DAEMON: "ocdb_server_spark.daemon",
}


@dataclass
class Stance:
    """What the engine knows of one session. ``kind`` is "own" (built by
    get_spark), "bare" (a stock session adopt moved to the stance) or
    "external" (configured by its caller and left as it is);
    ``warned`` names the time-zone warnings io raised on it. ``warm``
    holds the frames io.warm_cache cached, by (sf_dir, table);
    ``params`` the query vectors io.query_vector captured over warm
    embeddings, by (sf_dir, vec_id); ``views`` the sf_dir each temp
    view is bound to."""

    kind: str
    warned: set[str] = field(default_factory=set)
    warm: dict[tuple[str, str], DataFrame] = field(default_factory=dict)
    params: dict[tuple[str, int], list[float] | None] = field(default_factory=dict)
    views: dict[str, str] = field(default_factory=dict)


_STANCES: "weakref.WeakKeyDictionary[SparkSession, Stance]" = (
    weakref.WeakKeyDictionary()
)


def adopt(spark: SparkSession) -> Stance:
    """The session's stance, decided on the first call and kept.

    A session still on the stock 200 shuffle partitions takes the whole
    stance: its SQL confs are runtime-settable, and its Python workers
    move to the engine daemon while none has started. A session that
    set its own partition count is external and left alone (one that
    chose exactly 200 cannot be told from the stock default). A refused
    conf call leaves the session external, and is not retried: later
    calls cost one dictionary lookup."""
    stance = _STANCES.get(spark)
    if stance is not None:
        return stance
    stance = _STANCES[spark] = Stance("external")
    try:
        if spark.conf.get("spark.sql.shuffle.partitions", "200") != "200":
            return stance
        for key, value in STANCE.items():
            if key != _DAEMON:
                spark.conf.set(key, value)
    except Exception:
        return stance  # never let a conf quirk break a read
    stance.kind = "bare"
    _use_engine_daemon(spark)
    return stance


def _use_engine_daemon(spark: SparkSession) -> None:
    """Point a live context's Python workers at the engine daemon.

    Python runners read the daemon module from the live conf and key
    their worker factory by it, so a change after a factory exists would
    start a second daemon beside the first: the conf is set only while
    none exists, and a session whose workers already started keeps
    them. `SparkContext.conf` and `SparkEnv.pythonWorkers` are private
    to Spark; on any py4j failure the stock daemon stays."""
    from ocdb_server_spark._vendor import PACKAGE_ROOT, add_worker_path

    sc = spark.sparkContext
    try:
        env = sc._jvm.org.apache.spark.SparkEnv.get()
        workers = env.getClass().getDeclaredField("pythonWorkers")
        workers.setAccessible(True)
        if not workers.get(env).isEmpty():
            return
        add_worker_path(PACKAGE_ROOT)
        sc._jsc.sc().conf().set(_DAEMON, STANCE[_DAEMON])
    except Exception:
        pass


def get_spark(
    app_name: str = "ocdb_server_spark",
    master: str | None = None,
    profile: str = "batch",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """profile:
    - 'batch' (default): the stance, with AQE skew-join handling — the
      right shape for cluster-scale jobs where runtime stats beat
      estimates.
    - 'interactive': AQE off. For sub-second queries over small/hot
      data, AQE's per-shuffle query-stage materialization adds ~0.2 s
      latency per query (measured at sf0.1) while its re-planning has
      nothing to improve — tiny exact stats are already known. Same
      knob any Spark deployment tunes per workload. The barrier cost
      is LARGER on a real cluster: each stage materialization is a
      full RPC round across processes, measured at ~0.1-0.15 s per
      barrier on a 2-executor standalone cluster vs ~0.03 s in-JVM —
      AQE-on was >half of the star join's cluster-vs-local premium
      at 30x data (BASELINE.md Round 11e).
    extra_conf: overrides applied last (only effective at session
    creation — getOrCreate ignores confs on an existing session).
    perfbench sets its fixed heap and scratch dirs through it, and
    both perfbench and scripts/op_profile.py keep every job and stage
    in the status store their counters read.
    """
    if profile not in ("batch", "interactive"):
        raise ValueError(f"unknown profile {profile!r}")
    # Vendored-protobuf fallback must be wired BEFORE the session
    # exists: transformWithState's state server runs in Python
    # WORKERS, which inherit $PYTHONPATH at daemon launch (_vendor.py).
    # Workers also import this package (the daemon, and every
    # module-level kernel) whatever the driver's working directory.
    from ocdb_server_spark._vendor import PACKAGE_ROOT, add_worker_path, ensure_protobuf

    ensure_protobuf()
    add_worker_path(PACKAGE_ROOT)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf = {
        **STANCE,
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Tiny dims (region/nation/...) must always broadcast; the batch
        # profile keeps the stock 10 MB bar (at cluster scale a bigger
        # build side belongs in a shuffle join / AQE's runtime call).
        "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.inMemoryColumnarStorage.compressed": "true",
    }
    if profile == "interactive":
        conf.update({
            # Sub-second queries over hot cached data shuffle kilobytes;
            # 8 reducers saturate that while 32 adds ~0.3 s of
            # empty-task scheduling across a 7-query run (measured at
            # sf0.1: 1.97 s → 1.65 s total). AQE coalescing would do
            # this sizing automatically but costs per-stage
            # materialization latency — the trade described above.
            "spark.sql.shuffle.partitions": str(min(8, cpus)),
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.adaptive.skewJoin.enabled": "false",
            # The working set is hot in memory, so broadcasting a cached
            # mid-size side (e.g. Q3's date-filtered orders) beats
            # shuffling the fact table — measured interleaved at sf0.1:
            # op114 198→178 ms, op39 162→145 ms.
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
            # Skip dictionary/RLE compression in the in-memory column
            # cache — decompression sat on the Q1 scan's critical path
            # (164→129 ms at sf0.1, interleaved). Batch keeps it: at
            # cluster scale cache memory is the scarcer resource.
            "spark.sql.inMemoryColumnarStorage.compressed": "false",
        })
    conf.update(extra_conf or {})
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # getOrCreate may return a live session: keep its warm frames
    _STANCES.setdefault(spark, Stance("own")).kind = "own"
    return spark
