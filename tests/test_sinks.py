"""Upsert-sink tests: keep-latest merge semantics and the dynamic
partition overwrite property (untouched partitions' files are not
rewritten)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.sinks import upsert_partitioned


def write_partitioned(df, path: str, partition_col: str) -> None:
    df.write.partitionBy(partition_col).mode("overwrite").parquet(path)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "serving")
    base = spark.createDataFrame(
        [
            (1, "a", 1, "p1"),
            (2, "b", 1, "p1"),
            (3, "c", 1, "p2"),
            (4, "d", 1, "p3"),
        ],
        "id long, val string, version int, part string",
    )
    write_partitioned(base, path, "part")
    return path


def test_upsert_keeps_latest_per_key(spark, table):
    updates = spark.createDataFrame(
        [
            (2, "b2", 2, "p1"),   # newer version of key 2
            (5, "e", 1, "p2"),    # brand-new key in existing partition
        ],
        "id long, val string, version int, part string",
    )
    upsert_partitioned(spark, table, updates, keys=["id"], order_col="version", partition_col="part")
    got = {
        r["id"]: (r["val"], r["version"])
        for r in spark.read.parquet(table).collect()
    }
    assert got == {
        1: ("a", 1),
        2: ("b2", 2),
        3: ("c", 1),
        4: ("d", 1),
        5: ("e", 1),
    }


def test_stale_update_loses(spark, table):
    updates = spark.createDataFrame(
        [(1, "stale", 0, "p1")], "id long, val string, version int, part string"
    )
    upsert_partitioned(spark, table, updates, keys=["id"], order_col="version", partition_col="part")
    got = {r["id"]: r["val"] for r in spark.read.parquet(table).collect()}
    assert got[1] == "a"  # version 0 < 1 → existing row survives


def test_untouched_partitions_not_rewritten(spark, table):
    """p3's files must be byte-identical after an update touching only
    p1 — the dynamic-overwrite property that bounds merge cost."""
    p3_dir = os.path.join(table, "part=p3")
    before = {
        f: os.path.getmtime(os.path.join(p3_dir, f))
        for f in os.listdir(p3_dir)
        if f.endswith(".parquet")
    }
    updates = spark.createDataFrame(
        [(2, "b3", 3, "p1")], "id long, val string, version int, part string"
    )
    upsert_partitioned(spark, table, updates, keys=["id"], order_col="version", partition_col="part")
    after = {
        f: os.path.getmtime(os.path.join(p3_dir, f))
        for f in os.listdir(p3_dir)
        if f.endswith(".parquet")
    }
    assert before == after  # same files, same mtimes: never rewritten
    got = {r["id"]: r["val"] for r in spark.read.parquet(table).collect()}
    assert got[2] == "b3" and got[4] == "d"


def test_empty_update_is_noop(spark, table):
    updates = spark.createDataFrame([], "id long, val string, version int, part string")
    before = spark.read.parquet(table).count()
    upsert_partitioned(spark, table, updates, keys=["id"], order_col="version", partition_col="part")
    assert spark.read.parquet(table).count() == before


def test_python_datasource_partitions_and_determinism(spark):
    """op152's synth source: one task per declared partition, rows
    deterministic across reads."""
    from ocdb_server_spark.sources import pyds

    pyds.register(spark)
    df = (
        spark.read.format("synth_events")
        .option("rows", 1000)
        .option("partitions", 8)
        .load()
    )
    parts = sorted(r.part for r in df.select("part").distinct().collect())
    assert parts == list(range(8))
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, df.collect()))
    assert a == b and len(a) == 1000
    # hval formula matches the documented Knuth hash
    assert all(h == (i * 2654435761) % 10000 for i, _, h in a)


def test_gzip_jsonl_files_are_one_task_each(spark, sf_dir, tmp_path):
    """op207's documented scale trade: gzip is not splittable, so each
    .gz shard maps to exactly ONE read task regardless of
    maxPartitionBytes — which is why the export shards into many
    moderate files. Also proves the shard-size knob works and the
    round-trip loses nothing."""
    import glob

    from ocdb_server_spark.io import load_table

    out = str(tmp_path / "gz")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    n = d.count()
    (
        d.repartition(1)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .option("maxRecordsPerFile", max(1, n // 4))
        .json(out)
    )
    files = glob.glob(out + "/*.json.gz")
    assert len(files) >= 2, "fixture must produce multiple shards"
    back = spark.read.schema("doc_id long, text string, lang string").json(out)
    assert back.count() == n
    assert back.rdd.getNumPartitions() == len(files)


def test_orc_roundtrip_pushdown_and_fidelity(spark, sf_dir, tmp_path):
    """op209's scale claims: the ORC re-read scan prunes columns
    (ReadSchema) and pushes the timestamp predicate to the reader
    (PushedFilters — ORC search arguments skip stripes on min/max),
    and the round-trip is value-exact including timestamps."""
    from ocdb_server_spark.io import load_table

    out = str(tmp_path / "orc")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"
    )
    o.write.mode("overwrite").option("compression", "zstd").orc(out)
    back = spark.read.orc(out)
    q = back.filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).select("o_orderkey", "o_orderpriority")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderdate" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], plan
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_totalprice" not in rs, rs
    # value fidelity: exact same (key, date) multiset both directions
    orig = {
        (r.o_orderkey, r.o_orderdate, round(r.o_totalprice, 2))
        for r in o.collect()
    }
    rt = {
        (r.o_orderkey, r.o_orderdate, round(r.o_totalprice, 2))
        for r in back.collect()
    }
    assert orig == rt


def test_xml_roundtrip_exact_one_task_per_file(spark, sf_dir, tmp_path):
    """op210's contract: XML round-trip with explicit schema is exact
    (quantized int64 values by construction), and — measured, not
    assumed — Spark 4's native XML reader does NOT split within a
    file (the rowTag parser needs whole-file context), so parallelism
    comes from sharding the export into many files, op207-style."""
    import glob

    from ocdb_server_spark.io import load_table

    out = str(tmp_path / "xml")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("value_q"),
    )
    n = ev.count()
    (
        ev.repartition(1)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .option("maxRecordsPerFile", max(1, n // 4))
        .save(out)
    )
    files = glob.glob(out + "/*.xml")
    assert len(files) >= 2, "fixture must produce multiple shards"
    schema = "event_id long, user_id long, value_q long"
    back = (
        spark.read.format("xml").option("rowTag", "event").schema(schema).load(out)
    )
    assert back.count() == n
    orig = {(r.event_id, r.user_id, r.value_q) for r in ev.collect()}
    rt = {(r.event_id, r.user_id, r.value_q) for r in back.collect()}
    assert orig == rt
    # unsplittable-within-file: small maxPartitionBytes still yields
    # exactly one task per shard file
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        nparts = (
            spark.read.format("xml")
            .option("rowTag", "event")
            .schema(schema)
            .load(out)
            .rdd.getNumPartitions()
        )
        assert nparts == len(files), (nparts, len(files))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_bzip2_single_file_splits_into_many_tasks(spark, sf_dir, tmp_path):
    """op256's contract — the inverse of the gzip/xml assertions
    above: ONE .bz2 JSONL file, once maxPartitionBytes is below the
    file size, fans out to MULTIPLE input partitions (BZip2Codec is
    splittable), and the split never tears a record: the re-read
    row multiset matches the export exactly."""
    import glob

    from ocdb_server_spark.io import load_table

    out = str(tmp_path / "bz2")
    # keep the text column: without it the whole export compresses
    # below one 4 KiB split and nothing CAN fan out
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )
    n = d.count()
    (
        d.coalesce(1)
        .write.mode("overwrite")
        .option("compression", "bzip2")
        .json(out)
    )
    files = glob.glob(out + "/*.bz2")
    assert len(files) == 1, files
    schema = "doc_id long, lang string, n_chars long"
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        back = spark.read.schema(schema).json(out)
        nparts = back.rdd.getNumPartitions()
        assert nparts > 1, (
            f"single bz2 file read as {nparts} partition(s) — split never happened"
        )
        assert back.count() == n
        orig = {(r.doc_id, r.lang, r.n_chars) for r in d.collect()}
        rt = {(r.doc_id, r.lang, r.n_chars) for r in back.collect()}
        assert orig == rt
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_scratch_dir_isolation_and_reaping(tmp_path, monkeypatch):
    """scratch_dir must (a) give each process its own dir, (b) reap
    same-prefix dirs whose suffix is a DEAD pid, (c) leave everything
    else alone — live PIDs, other tags, and NON-NUMERIC suffixes: a
    'foreign' name like <prefix>v2_1234 may be a LIVE sibling
    session's dir for a nesting tag ('sf0_001' vs 'sf0_001_v2'), so
    reaping it would recreate the cross-session race this module
    exists to prevent (round-8 review finding; the previous contract
    treated non-numeric suffixes as dead litter)."""
    import os

    from ocdb_server_spark import scratch

    monkeypatch.setattr(
        scratch.tempfile, "gettempdir", lambda: str(tmp_path)
    )
    # a dead-PID sibling (no live pid is > pid_max), a live-PID
    # sibling (our own pid in a different kind), and a foreign dir
    dead = tmp_path / "ocdb_spark_demo_sf0_001_99999999"
    foreign = tmp_path / "ocdb_spark_demo_sf0_001_notapid"
    other_tag = tmp_path / "ocdb_spark_demo_sf0_01_99999999"
    for d in (dead, foreign, other_tag):
        d.mkdir()
        (d / "f").write_text("x")

    mine = scratch.scratch_dir("demo", "/data/sf0.001")
    assert mine == str(tmp_path / f"ocdb_spark_demo_sf0_001_{os.getpid()}")
    assert os.path.isdir(mine) and not os.listdir(mine)
    assert not dead.exists(), "dead-PID sibling not reaped"
    assert foreign.exists(), (
        "non-PID suffix reaped — could be a live nesting-tag sibling"
    )
    assert other_tag.exists(), "different sf tag must not be touched"

    # re-entry clears the caller's own dir
    with open(os.path.join(mine, "stale"), "w") as f:
        f.write("x")
    again = scratch.scratch_dir("demo", "/data/sf0.001")
    assert again == mine and not os.listdir(again)


def test_scratch_dir_age_gates_recycled_pid_orphans(tmp_path, monkeypatch):
    """PID-recycling backstop (round-8 ADVICE): os.kill(pid, 0) says
    'alive' for a crashed session's PID that an unrelated process has
    since recycled, so liveness alone would keep that orphaned table
    copy forever. A same-prefix dir owned by a LIVE pid must still be
    reaped once its mtime exceeds the age gate — and must survive
    while fresh."""
    import os
    import time

    from ocdb_server_spark import scratch

    monkeypatch.setattr(
        scratch.tempfile, "gettempdir", lambda: str(tmp_path)
    )
    # PID 1 is always alive — the stand-in for a recycled PID
    fresh_live = tmp_path / "ocdb_spark_demo_sf0_001_1"
    fresh_live.mkdir()
    (fresh_live / "f").write_text("x")
    scratch.scratch_dir("demo", "/data/sf0.001")
    assert fresh_live.exists(), "fresh live-PID dir must not be reaped"

    old = time.time() - scratch._REAP_AGE_S - 60
    # round-9 ADVICE: the gate is the NEWEST mtime over the root AND
    # its direct children (ops write into subdirs without touching the
    # root's own mtime) — an old root with a fresh child is a LIVE
    # long-running session's working set, not an orphan
    os.utime(fresh_live, (old, old))
    scratch.scratch_dir("demo", "/data/sf0.001")
    assert fresh_live.exists(), (
        "old root with a FRESH child is in use — must not be reaped"
    )
    os.utime(fresh_live / "f", (old, old))
    scratch.scratch_dir("demo", "/data/sf0.001")
    assert not fresh_live.exists(), (
        "age-gated live-PID orphan (recycled PID) not reaped"
    )


def test_upsert_equal_order_prefers_update(spark, tmp_path):
    """Equal order_col: the UPDATE must win deterministically — an
    idempotent replay or same-timestamp correction must never lose to
    the stale row on partition evaluation order (round-12 review)."""
    table = str(tmp_path / "tie")
    base = spark.createDataFrame(
        [(1, 5, "old", "a")], "id int, version int, val string, part string"
    )
    write_partitioned(base, table, "part")
    updates = spark.createDataFrame(
        [(1, 5, "corrected", "a")], "id int, version int, val string, part string"
    )
    upsert_partitioned(
        spark, table, updates, keys=["id"], order_col="version", partition_col="part"
    )
    [row] = spark.read.parquet(table).collect()
    assert row.val == "corrected"


def test_upsert_bootstraps_missing_table(spark, tmp_path):
    """First publish: no table on disk — the updates become the table
    (used to crash with PATH_NOT_FOUND on the read)."""
    table = str(tmp_path / "fresh")
    updates = spark.createDataFrame(
        [(1, 1, "x", "a"), (2, 1, "y", "b")],
        "id int, version int, val string, part string",
    )
    upsert_partitioned(
        spark, table, updates, keys=["id"], order_col="version", partition_col="part"
    )
    got = {r.id: r.val for r in spark.read.parquet(table).collect()}
    assert got == {1: "x", 2: "y"}


def test_upsert_null_partition_rows_survive(spark, tmp_path):
    """NULL partition values: isin() never matches NULL but dynamic
    overwrite still rewrites the null partition — pre-existing
    null-partition rows absent from the batch must survive the merge
    (they used to be silently deleted)."""
    table = str(tmp_path / "nullpart")
    base = spark.createDataFrame(
        [(1, 1, "keep-me", None), (2, 1, "old", None), (3, 1, "other", "a")],
        "id int, version int, val string, part string",
    )
    write_partitioned(base, table, "part")
    updates = spark.createDataFrame(
        [(2, 2, "new", None)], "id int, version int, val string, part string"
    )
    upsert_partitioned(
        spark, table, updates, keys=["id"], order_col="version", partition_col="part"
    )
    got = {r.id: r.val for r in spark.read.parquet(table).collect()}
    assert got == {1: "keep-me", 2: "new", 3: "other"}


def test_upsert_movable_partition_full_merge(spark, tmp_path):
    """immutable_partitions=False: an update that MOVES a key's
    partition must not leave a stale duplicate behind (the pruned
    merge never reads the old partition — the documented contract;
    the full-merge mode trades pruning for correctness)."""
    table = str(tmp_path / "move")
    base = spark.createDataFrame(
        [(1, 1, "old", "a"), (2, 1, "other", "b")],
        "id int, version int, val string, part string",
    )
    write_partitioned(base, table, "part")
    updates = spark.createDataFrame(
        [(1, 2, "moved", "b")], "id int, version int, val string, part string"
    )
    upsert_partitioned(
        spark, table, updates, keys=["id"], order_col="version",
        partition_col="part", immutable_partitions=False,
    )
    rows = spark.read.parquet(table).collect()
    got = {(r.id): (r.val, r.part) for r in rows}
    assert len(rows) == 2 and got[1] == ("moved", "b") and got[2] == ("other", "b")


def test_upsert_failing_collect_does_not_leak_persist(spark, tmp_path):
    """The touched-partition collect itself can raise (missing
    partition_col → AnalysisException); the persisted `updates` frame
    must be unpersisted on that path too, not only after a successful
    write (round-14 ADVICE — the persist sat outside the try/finally)."""
    import pytest as _pytest

    table = str(tmp_path / "leak")
    base = spark.createDataFrame(
        [(1, 1, "x", "a")], "id int, version int, val string, part string"
    )
    write_partitioned(base, table, "part")
    updates = spark.createDataFrame(
        [(1, 2, "y", "a")], "id int, version int, val string, part string"
    )
    with _pytest.raises(Exception):
        upsert_partitioned(
            spark, table, updates,
            keys=["id"], order_col="version",
            partition_col="no_such_column",   # collect raises mid-merge
        )
    assert not updates.storageLevel.useMemory and (
        not updates.storageLevel.useDisk
    ), "updates frame left persisted after a failed merge"


def test_upsert_reserved_working_columns_raise(spark, tmp_path):
    """An input already carrying _src/_rn would mint duplicate columns
    mid-merge and fail later with AMBIGUOUS_REFERENCE — the boundary
    must reject it loudly instead (round-12 ADVICE, mirroring
    skew.salted_topk_per_key's guard)."""
    import pytest as _pytest

    table = str(tmp_path / "clash")
    base = spark.createDataFrame(
        [(1, 1, "x", "a")], "id int, version int, val string, part string"
    )
    write_partitioned(base, table, "part")
    poisoned = spark.createDataFrame(
        [(1, 2, "y", "a", 1)],
        "id int, version int, val string, part string, _src int",
    )
    with _pytest.raises(ValueError, match="_src"):
        upsert_partitioned(
            spark, table, poisoned,
            keys=["id"], order_col="version", partition_col="part",
        )
