"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the configuration below is chosen to
also be the right *shape* at cluster scale: AQE on (runtime coalescing
+ skew-join handling), Arrow for any Python exchange, and a shuffle
partition count sized to the parallelism at hand rather than the 200
default. On a real 1000-executor cluster the same builder is used with
``master`` unset and ``spark.sql.shuffle.partitions`` raised to
~2-3x total cores (or left to AQE's coalescing from a high initial
number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ocdb_server_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    profile: str = "batch",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """profile:
    - 'batch' (default): AQE on (runtime coalescing + skew-join) — the
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
    # Workers also import this package (the daemon below, and every
    # module-level kernel) whatever the driver's working directory.
    from ocdb_server_spark._vendor import PACKAGE_ROOT, add_worker_path, ensure_protobuf

    ensure_protobuf()
    add_worker_path(PACKAGE_ROOT)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # batch: one reducer per core — the cluster-scale shape (raised
        # to ~2-3x total cores on a real cluster, AQE coalesces down).
        # interactive: sub-second queries over hot cached data shuffle
        # kilobytes; 8 reducers saturate that while 32 adds ~0.3 s of
        # empty-task scheduling across a 7-query run (measured at
        # sf0.1: 1.97 s → 1.65 s total). AQE coalescing would do this
        # sizing automatically but costs per-stage materialization
        # latency — the same trade documented for the profile split.
        shuffle_partitions = cpus if profile == "batch" else min(8, cpus)

    adaptive = "true" if profile == "batch" else "false"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", adaptive)
        .config("spark.sql.adaptive.coalescePartitions.enabled", adaptive)
        .config("spark.sql.adaptive.skewJoin.enabled", adaptive)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Workers import pyspark from its directory install, not from
        # Spark's zip archives, which every task re-reads (daemon.py).
        .config("spark.python.daemon.module", "ocdb_server_spark.daemon")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
        # default; read as long and normalize to µs timestamps in io.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Tiny dims (region/nation/...) must always broadcast; the batch
        # profile keeps the stock 10 MB bar (at cluster scale a bigger
        # build side belongs in a shuffle join / AQE's runtime call).
        # Interactive raises it to 64 MB: the working set is hot in
        # memory, so broadcasting a cached mid-size side (e.g. Q3's
        # date-filtered orders) beats shuffling the fact table —
        # measured interleaved at sf0.1: op114 198→178 ms, op39
        # 162→145 ms.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            str((10 if profile == "batch" else 64) * 1024 * 1024),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Interactive: skip dictionary/RLE compression in the in-memory
        # column cache — decompression sat on the Q1 scan's critical
        # path (164→129 ms at sf0.1, interleaved). Batch keeps it: at
        # cluster scale cache memory is the scarcer resource.
        .config(
            "spark.sql.inMemoryColumnarStorage.compressed",
            "true" if profile == "batch" else "false",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # This session chose its own shuffle/AQE/timezone stance — exempt
    # it from io._tune_bare_session's value-sniffing (a deliberate
    # shuffle_partitions=200 was indistinguishable from the stock
    # default and got clobbered to 8; round-12 review).
    from ocdb_server_spark.io import mark_session_configured

    mark_session_configured(spark)
    return spark
