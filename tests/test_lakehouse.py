"""Behavioral tests for the lakehouse operators
(operators/lakehouse.py) and the CDC merge kernel (functions/cdc.py):
layout (z-order, Hilbert, compaction, sorted export, skipping),
snapshot diff and merge-on-read deletes, the op255 table log's crash
window and snapshot isolation, and CDC apply-changes semantics — batch
(op264), incremental and streaming (op265)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.functions.cdc import (
    apply_changes,
    apply_changes_incremental,
    finish_store,
    seed_store,
)
from ocdb_server_spark.io import load_table
from ocdb_server_spark.operators.lakehouse import (
    _CDC_BASE_MIN_KEY,
    _parquet_files,
    build_table_log,
    log_commit,
    log_dir,
    op264_cdc_apply_changes,
    read_log,
    read_snapshot,
)
from ocdb_server_spark.registry import load_all

OPS = load_all()


def test_bucketed_cojoin_matches_plain_join(spark, sf_dir):
    """The bucketed-table join must return exactly what the plain
    (shuffle/broadcast) join over the raw tables returns."""
    from ocdb_server_spark.io import load_table

    got = {
        (r["o_orderstatus"], r["n_items"], r["sum_qty"])
        for r in OPS["op159_bucketed_cojoin"].fn(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40)
    o = load_table(spark, sf_dir, "orders")
    plain = {
        (r["o_orderstatus"], r["n_items"], r["sum_qty"])
        for r in li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)").alias(
                "sum_qty"
            ),
        )
        .collect()
    }
    assert got == plain


# ---------------------------------------------------------------- op161


def test_zorder_blocks_partition_the_plane(spark, sf_dir):
    """Each z-block's bbox must be a small tile of the 256×256 plane
    (Morton property: a 1024-value z-range spans a 32×32 tile), blocks
    are disjoint in z, and row counts sum to the full table."""
    out = OPS["op161_zorder_layout"].fn(spark, sf_dir).collect()
    li_rows = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert sum(r["n_rows"] for r in out) == li_rows
    for r in out:
        # a 10-bit z block = 5 bits x + 5 bits y -> 32×32 tile max
        assert r["max_x"] - r["min_x"] + 1 <= 32
        assert r["max_y"] - r["min_y"] + 1 <= 32
        assert r["bbox_area"] <= 32 * 32
    assert len({r["z_block"] for r in out}) == len(out)


def test_morton_bit_interleave_exact(spark):
    """Spot-check the Morton code against a Python reference."""
    from ocdb_server_spark.operators.lakehouse import _morton

    def py_morton(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(
        [(0, 0), (255, 255), (255, 0), (0, 255), (170, 85), (1, 2)], "x long, y long"
    ).withColumn("z", F.expr(_morton(True, "x", "y")))
    for r in df.collect():
        assert r["z"] == py_morton(r["x"], r["y"]), (r["x"], r["y"])


# ---------------------------------------------------------------- op168


def test_snapshot_diff_planted_all_statuses(spark):
    import tempfile, os

    rows = [
        # user 1: value changes after T1 -> changed
        (1, "2024-01-10 00:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-20 00:00:00", 1, "view", 2.0, "{}"),
        # user 2: no events after T1, latest state identical -> unchanged
        (3, "2024-01-11 00:00:00", 2, "click", 5.0, "{}"),
        # user 3: first event after T1 -> added
        (4, "2024-01-21 00:00:00", 3, "purchase", 7.0, "{}"),
        # user 4: same value re-emitted after T1 -> unchanged
        (5, "2024-01-12 00:00:00", 4, "view", 9.0, "{}"),
        (6, "2024-01-22 00:00:00", 4, "view", 9.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "events.parquet"))
        out = {r["user_id"]: r["status"] for r in OPS["op168_snapshot_diff"].fn(spark, tmp).collect()}
    assert out == {1: "changed", 2: "unchanged", 3: "added", 4: "unchanged"}


# ---------------------------------------------------------------- op172


def test_dpp_join_reads_only_conversion_partitions(spark, sf_dir):
    """Result must only contain the two conversion event types, and
    row counts must match a direct filtered scan."""
    from ocdb_server_spark.io import load_table

    out = {r["event_type"]: r["n_events"] for r in OPS["op172_dpp_join"].fn(spark, sf_dir).collect()}
    assert set(out) == {"signup", "purchase"}
    e = load_table(spark, sf_dir, "events")
    direct = {
        r["event_type"]: r["n"]
        for r in e.filter(F.col("event_type").isin("signup", "purchase"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert out == direct


def test_compaction_bins_respect_target(spark, sf_dir):
    """Next-fit packing invariant: a bin accumulates files only while
    its cumulative start offset is below the next target boundary, so
    every bin's total is < target + its largest file (only the file
    that straddles the boundary can overshoot)."""
    from ocdb_server_spark.operators.lakehouse import _COMPACT_TARGET

    rows = OPS["op178_compaction_plan"].fn(spark, sf_dir).collect()
    assert rows, "planner must emit at least one bin"
    bins = sorted(r["bin"] for r in rows)
    assert bins == list(range(len(bins))), f"bins must be dense: {bins}"
    for r in rows:
        assert r["total_bytes"] < _COMPACT_TARGET + r["max_file_bytes"], (
            f"bin {r['bin']} overfilled: {r['total_bytes']}"
        )
        assert r["n_files"] >= 1 and r["min_file_bytes"] <= r["max_file_bytes"]


def test_sorted_export_files_really_are_sorted(spark, sf_dir, tmp_path):
    """op179's contract is about the FILES: write the export frame,
    read every parquet file back independently, and assert rows inside
    each file are (lang, doc_id)-sorted and shard-pure. This is what
    gives downstream per-lang scans their row-group skipping."""
    import glob

    import pyarrow.parquet as pq

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.lakehouse import (
        _N_SHARDS,
        sorted_export_frame,
    )

    out = str(tmp_path / "export")
    sorted_export_frame(
        load_table(spark, sf_dir, "documents")
    ).write.partitionBy("shard").parquet(out)
    shard_dirs = sorted(glob.glob(f"{out}/shard=*"))
    assert len(shard_dirs) == _N_SHARDS
    for d in shard_dirs:
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) == 1, f"{d}: expected ONE file, got {len(files)}"
        t = pq.read_table(files[0]).to_pandas()
        assert not t.empty
        keys = list(zip(t["lang"], t["doc_id"]))
        assert keys == sorted(keys), f"{files[0]}: not (lang, doc_id)-sorted"


def test_skipping_audit_matches_layout_truth(spark, sf_dir):
    """The clustered column (month-partitioned o_orderdate) must make
    every pre-cutoff file skippable and every post-cutoff file not;
    the unclustered o_totalprice must make (almost) nothing skippable
    — the contrast the audit exists to measure."""
    rows = OPS["op181_file_skipping_audit"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["date_skippable"] == (r["month"] < "2000-01"), r
        assert r["min_price"] <= r["max_price"]
    n_price_skip = sum(r["price_skippable"] for r in rows)
    assert n_price_skip <= len(rows) // 2, (
        "unclustered price column should rarely be skippable"
    )


def test_union_schema_evolution_counts_add_up(spark, sf_dir):
    """Sentinel bucket must hold exactly the pre-1998 rows; the other
    buckets partition the post-1998 slice by priority."""
    from ocdb_server_spark.io import load_table

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")
    n_old = o.filter(F.col("o_orderdate") < cut).count()
    n_new = o.filter(F.col("o_orderdate") >= cut).count()
    rows = OPS["op189_union_schema_evolution"].fn(spark, sf_dir).collect()
    got = {r["priority"]: r["n_orders"] for r in rows}
    assert got.pop("<pre-schema>") == n_old
    assert sum(got.values()) == n_new
    assert all(not p.startswith("<") for p in got)


def test_mor_deletes_are_positional_and_exact(spark, sf_dir):
    """op228: the delete file must carry ONLY (file_path, row_index)
    — no keys — and the MoR read must equal the predicate-filtered
    base exactly."""
    import glob
    import os
    import tempfile

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.lakehouse import op228_mor_position_deletes

    out = {r.o_orderpriority: r for r in op228_mor_position_deletes(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders")
    exp = {
        r.o_orderpriority: r
        for r in o.filter("o_orderkey % 7 <> 0")
        .groupBy("o_orderpriority")
        .count()
        .collect()
    }
    assert {k: v.n_live for k, v in out.items()} == {
        k: v["count"] for k, v in exp.items()
    }
    # READ-ONLY scratch accessor (calling scratch_dir() here would
    # reap and EMPTY the dir under inspection)
    from ocdb_server_spark.scratch import scratch_path

    tag = scratch_path("mor", sf_dir)
    deletes = spark.read.parquet(os.path.join(tag, "deletes"))
    assert set(deletes.columns) == {"_file", "_pos"}, deletes.columns
    n_deleted = o.filter("o_orderkey % 7 = 0").count()
    assert deletes.count() == n_deleted
    assert len(glob.glob(os.path.join(tag, "base", "*.parquet"))) >= 4


def test_hilbert_recurrence_is_true_hilbert_curve():
    """op230's unrolled steps, evaluated in pure python over the FULL
    256×256 grid: the mapping must be a bijection onto [0, 65536)
    with unit-step adjacency (consecutive d are grid neighbours) —
    the two properties that define a Hilbert-class curve. Also checks
    the locality win over Z-order: every one of the 256 curve chunks
    is a contiguous connected region (Z-order chunks can seam-jump)."""
    from ocdb_server_spark.operators.lakehouse import _HIL_N, _hilbert_steps

    steps = _hilbert_steps("//")

    def xy2d(x, y):
        d = 0
        for d_expr, x_expr, y_expr in steps:
            # evaluate the SAME expressions the engines run
            s = int(d_expr.split("+ ")[1].split(" *")[0]) ** 0.5
            s = int(s)
            rx = (x // s) % 2
            ry = (y // s) % 2
            d = d + s * s * (3 - ry if rx == 1 else ry)
            nx = ((_HIL_N - 1) - y if rx == 1 else y) if ry == 0 else x
            ny = ((_HIL_N - 1) - x if rx == 1 else x) if ry == 0 else y
            x, y = nx, ny
        return d

    pos = {}
    for x in range(_HIL_N):
        for y in range(_HIL_N):
            d = xy2d(x, y)
            assert 0 <= d < _HIL_N * _HIL_N
            assert d not in pos
            pos[d] = (x, y)
    for i in range(_HIL_N * _HIL_N - 1):
        (x1, y1), (x2, y2) = pos[i], pos[i + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (i, pos[i], pos[i + 1])


def test_hilbert_chunks_have_tight_boxes(spark, sf_dir):
    """op230's layout claim, measured: each 256-cell chunk's bounding
    box must be at most 32x32 cells (a perfect square chunk is 16x16;
    Hilbert guarantees small constant-factor boxes — a linear or
    row-major layout would span the full 256-wide dimension)."""
    from ocdb_server_spark.operators.lakehouse import op230_hilbert_layout

    rows = op230_hilbert_layout(spark, sf_dir).collect()
    assert len(rows) <= 256
    for r in rows:
        assert r.max_x - r.min_x <= 31, r
        assert r.max_y - r.min_y <= 31, r


def test_footer_stats_never_read_data_pages(spark, sf_dir):
    """op249's structural claim: the metadata pass reads only footer
    bytes. Proxy assertions: the footer-derived stats equal a full
    scan's, and the per-file metadata walk visits every file exactly
    once (months partition the output)."""
    from collections import Counter

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.lakehouse import op249_footer_stats_read

    out = op249_footer_stats_read(spark, sf_dir).collect()
    months = [r.month for r in out]
    assert len(months) == len(set(months))
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "date_format(o_orderdate, 'yyyy-MM') as month",
        "o_orderkey",
        "o_totalprice",
    ).collect()
    truth = {}
    for r in o:
        t = truth.setdefault(r.month, [0, None, None, None, None])
        t[0] += 1
        t[1] = r.o_orderkey if t[1] is None else min(t[1], r.o_orderkey)
        t[2] = r.o_orderkey if t[2] is None else max(t[2], r.o_orderkey)
        t[3] = r.o_totalprice if t[3] is None else min(t[3], r.o_totalprice)
        t[4] = r.o_totalprice if t[4] is None else max(t[4], r.o_totalprice)
    for r in out:
        n, mnk, mxk, mnp, mxp = truth[r.month]
        assert (r.n_rows, r.min_key, r.max_key) == (n, mnk, mxk)
        assert r.min_price == mnp and r.max_price == mxp


def latest_version(root: str) -> int:
    """Highest committed version (0 = empty table), read from the log
    directory alone."""
    try:
        names = os.listdir(log_dir(root))
    except FileNotFoundError:
        return 0
    vs = [
        int(n[1:-5])
        for n in names
        if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
    ]
    return max(vs, default=0)


@pytest.fixture()
def root():
    d = os.path.join(
        tempfile.gettempdir(), f"ocdb_tablelog_test_{os.getpid()}"
    )
    shutil.rmtree(d, ignore_errors=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_crash_window_uncommitted_data_is_invisible(spark, sf_dir, root):
    """A crash BETWEEN a data write and its log commit must leave the
    table at the previous version: orphan files exist on disk but no
    reader resolves them (op234's exactly-once argument, per version)."""
    build_table_log(spark, sf_dir, root, upto_version=1)
    n_v1 = read_snapshot(spark, root, 1).count()
    n_full = load_table(spark, sf_dir, "orders").count()
    assert n_v1 == n_full

    # --- crash window for v2: delete file written, commit never runs
    del_path = os.path.join(root, "data", "deletes-v2")
    (
        spark.read.parquet(*read_log(root, 1)["files"])
        .select(
            F.col("_metadata.file_path").alias("_file"),
            F.col("_metadata.row_index").alias("_pos"),
            "o_orderkey",
        )
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("_file", "_pos")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(del_path)
    )
    assert latest_version(root) == 1, "uncommitted delete bumped the version"
    assert read_snapshot(spark, root, 1).count() == n_full, (
        "orphan delete file leaked into the committed snapshot"
    )

    # --- the commit lands: version 2 becomes visible, v1 unchanged
    log_commit(root, 2, read_log(root, 1)["files"], _parquet_files(del_path))
    assert latest_version(root) == 2
    n_v2 = read_snapshot(spark, root, 2).count()
    assert n_v2 < n_full
    assert read_snapshot(spark, root, 1).count() == n_full

    # --- crash window for v3: compacted files written, commit never runs
    compact_path = os.path.join(root, "data", "compact-v3")
    read_snapshot(spark, root, 2).repartition(2).write.mode(
        "overwrite"
    ).parquet(compact_path)
    assert latest_version(root) == 2, "uncommitted compaction bumped the version"
    log_commit(root, 3, _parquet_files(compact_path), [])
    assert latest_version(root) == 3
    assert read_snapshot(spark, root, 3).count() == n_v2


def test_snapshot_isolation_and_compaction_equivalence(spark, sf_dir, root):
    """After all three commits: v1 still reads the PRE-delete table
    (immutable files + log-only resolution), and v3 is row-for-row
    identical to v2 (compaction invisible to readers) while actually
    rewritten (2 data files, 0 delete files)."""
    build_table_log(spark, sf_dir, root)

    n_full = load_table(spark, sf_dir, "orders").count()
    assert read_snapshot(spark, root, 1).count() == n_full

    v2 = read_snapshot(spark, root, 2)
    v3 = read_snapshot(spark, root, 3)
    assert v2.exceptAll(v3).count() == 0
    assert v3.exceptAll(v2).count() == 0
    # v2 kept exactly the predicate's survivors
    assert v2.filter(F.col("o_orderkey") % 7 == 0).count() == 0

    entry3 = read_log(root, 3)
    assert len(entry3["files"]) == 2 and not entry3["delete_files"]
    entry2 = read_log(root, 2)
    assert len(entry2["files"]) == 4 and len(entry2["delete_files"]) == 1
    # merge-on-read: v2 reuses v1's base files byte-for-byte
    assert entry2["files"] == read_log(root, 1)["files"]


# --------------------------------------------------------------------------
# op264: CDC apply-changes
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def cdc_pdf(spark, sf_dir):
    return op264_cdc_apply_changes(spark, sf_dir).toPandas()


@pytest.fixture(scope="module")
def cdc_feed(spark, sf_dir):
    """Independent recomputation of the change feed's last-writer rows
    (plain pandas sort, no window functions — a different algorithm
    than the op's)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .toPandas()
    )
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    last = ev.groupby("user_id").tail(1).set_index("user_id")
    counts = ev.groupby("user_id").size()
    return last, counts


def test_op264_statuses_partition_the_keyspace(cdc_pdf, spark, sf_dir):
    """inserted ⇔ key below the base floor; unchanged ⇔ key never in
    the feed; updated ⇔ base key with a surviving upsert. All three
    outcomes must actually occur at every shipped SF."""
    assert set(cdc_pdf["status"].unique()) == {"inserted", "updated", "unchanged"}
    ins = cdc_pdf[cdc_pdf.status == "inserted"]
    assert (ins.user_id < _CDC_BASE_MIN_KEY).all()
    assert (ins.n_changes >= 1).all()
    unch = cdc_pdf[cdc_pdf.status == "unchanged"]
    assert (unch.user_id >= _CDC_BASE_MIN_KEY).all()
    assert (unch.n_changes == 0).all()
    upd = cdc_pdf[cdc_pdf.status == "updated"]
    assert (upd.user_id >= _CDC_BASE_MIN_KEY).all()
    assert (upd.n_changes >= 1).all()
    # no key appears twice: MERGE output is a table, not a log
    assert cdc_pdf.user_id.is_unique


def test_op264_last_writer_wins_and_deletes_drop(cdc_pdf, cdc_feed):
    """Every feed key's fate matches the independently recomputed
    last event: terminal 'error' → absent from the output; terminal
    upsert → present with balance == that event's value."""
    last, counts = cdc_feed
    out = cdc_pdf.set_index("user_id")
    n_deleted = 0
    for uid, ev in last.iterrows():
        if ev.event_type == "error":
            assert uid not in out.index, uid
            n_deleted += 1
        else:
            assert uid in out.index, uid
            assert out.loc[uid, "balance"] == ev.value, uid
            assert out.loc[uid, "n_changes"] == counts[uid], uid
    assert n_deleted >= 1, "the feed must exercise the delete path"


def test_op264_unchanged_rows_pass_base_through(cdc_pdf, cdc_feed, spark, sf_dir):
    """Keys untouched by the feed keep their exact base balance (the
    MERGE must never rewrite rows it didn't match)."""
    last, _ = cdc_feed
    base = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") >= _CDC_BASE_MIN_KEY)
        .select("c_custkey", "c_acctbal")
        .toPandas()
        .set_index("c_custkey")
    )
    out = cdc_pdf.set_index("user_id")
    untouched = base.index.difference(last.index)
    assert len(untouched) > 0
    assert (out.loc[untouched, "status"] == "unchanged").all()
    assert (out.loc[untouched, "balance"] == base.loc[untouched, "c_acctbal"]).all()
    # and row accounting closes: base − deletions-of-base + inserts
    deleted_base = [
        uid
        for uid, ev in last.iterrows()
        if ev.event_type == "error" and uid >= _CDC_BASE_MIN_KEY
    ]
    inserted = [
        uid
        for uid, ev in last.iterrows()
        if ev.event_type != "error" and uid < _CDC_BASE_MIN_KEY
    ]
    assert len(out) == len(base) - len(deleted_base) + len(inserted)


# --------------------------------------------------------------------------
# functions/cdc.py: the generic combinator on a planted feed
# --------------------------------------------------------------------------


def test_apply_changes_planted_feed(spark):
    """The library combinator on a hand-built base/feed covering every
    path at once: multi-column payload, non-payload base columns
    preserved through updates, delete-of-existing, delete-of-
    nonexistent (no row), insert, unchanged, and a key whose EARLIER
    delete is superseded by a later upsert (last-writer-wins on the
    op itself, not just the payload)."""
    from ocdb_server_spark.functions.cdc import apply_changes

    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"), (4, 40.0, "d")],
        "k bigint, bal double, tag string",
    )
    # (k, s, op, bal): key1 updated twice (last wins), key2 deleted,
    # key3 delete-then-upsert (upsert wins), key5 inserted,
    # key6 delete-of-nonexistent, key4 untouched
    feed = spark.createDataFrame(
        [
            (1, 1, "U", 11.0),
            (1, 2, "U", 12.0),
            (2, 1, "U", 21.0),
            (2, 2, "D", None),
            (3, 1, "D", None),
            (3, 2, "U", 33.0),
            (5, 1, "U", 55.0),
            (6, 1, "D", None),
        ],
        "k bigint, s bigint, op string, bal double",
    )
    out = {
        r.k: r
        for r in apply_changes(
            base, feed, key="k", seq=["s"], op_col="op", payload=["bal"]
        ).collect()
    }
    assert set(out) == {1, 3, 4, 5}  # 2 deleted, 6 never existed
    assert (out[1].bal, out[1].tag, out[1].status, out[1].n_changes) == (
        12.0, "a", "updated", 2,
    )
    assert (out[3].bal, out[3].tag, out[3].status, out[3].n_changes) == (
        33.0, "c", "updated", 2,
    )
    assert (out[4].bal, out[4].tag, out[4].status, out[4].n_changes) == (
        40.0, "d", "unchanged", 0,
    )
    # inserted key: payload set, non-payload base columns NULL
    assert (out[5].bal, out[5].tag, out[5].status, out[5].n_changes) == (
        55.0, None, "inserted", 1,
    )


def test_apply_changes_idempotent_on_collapsed_feed(spark):
    """Re-applying an already-applied upsert feed must be a no-op on
    values (every key flips to 'updated'/'inserted' status but the
    merged table is value-identical) — the MERGE property that makes
    at-least-once CDC delivery safe when the feed is replayed."""
    from ocdb_server_spark.functions.cdc import apply_changes

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k bigint, bal double"
    )
    feed = spark.createDataFrame(
        [(1, 1, "U", 11.0), (3, 1, "U", 31.0)],
        "k bigint, s bigint, op string, bal double",
    )
    once = apply_changes(base, feed, key="k", seq=["s"], payload=["bal"])
    # feed the FULL previous output back in — status/n_changes are
    # reserved bookkeeping and must be dropped+rewritten, not
    # duplicated into ambiguous columns
    twice = apply_changes(once, feed, key="k", seq=["s"], payload=["bal"])
    assert twice.columns.count("status") == 1
    assert twice.columns.count("n_changes") == 1
    vals_once = sorted((r.k, r.bal) for r in once.collect())
    vals_twice = sorted((r.k, r.bal) for r in twice.collect())
    assert vals_once == vals_twice == [(1, 11.0), (2, 20.0), (3, 31.0)]
    # statuses reflect THIS application: both feed keys re-matched
    st = {r.k: r.status for r in twice.collect()}
    assert st == {1: "updated", 2: "unchanged", 3: "updated"}


def test_apply_changes_null_keys_and_unknown_ops(spark):
    """Merge edge cases: (a) a NULL-key base row must pass through
    'unchanged' (NULL never matches — standard MERGE ON semantics),
    not be mislabeled 'inserted'; (b) any non-delete op value upserts
    (Debezium-style 'I' feeds work unmodified), never a silent
    NULL-payload touch."""
    from ocdb_server_spark.functions.cdc import apply_changes

    base = spark.createDataFrame(
        [(None, 99.0), (1, 10.0), (2, 20.0)], "k bigint, bal double"
    )
    feed = spark.createDataFrame(
        [(1, 1, "I", 11.0), (3, 1, "c", 33.0), (2, 1, "D", None)],
        "k bigint, s bigint, op string, bal double",
    )
    rows = apply_changes(
        base, feed, key="k", seq=["s"], payload=["bal"]
    ).collect()
    out = {r.k: r for r in rows}
    # NULL-key base row: untouched, correct status, exact balance
    nul = [r for r in rows if r.k is None]
    assert len(nul) == 1 and nul[0].status == "unchanged"
    assert nul[0].bal == 99.0 and nul[0].n_changes == 0
    # 'I' upserts an existing key; 'c' (any non-delete token) inserts
    assert (out[1].bal, out[1].status) == (11.0, "updated")
    assert (out[3].bal, out[3].status) == (33.0, "inserted")
    assert 2 not in out  # the delete still lands


FEED_DDL = "user_id int, ts long, event_id long, op string, balance double"


SEQ = ["ts", "event_id"]


SEQ_TYPES = ["long", "long"]


# one feed exercising every merge outcome, with per-key seq order
# deliberately NOT arrival order
FEED_ROWS = [
    (5, 10, 1, "U", 5.1),   # update base key...
    (5, 20, 2, "D", None),  # ...then terminal delete → dropped
    (6, 15, 3, "U", 6.1),   # last writer
    (6, 5, 4, "U", 6.9),    # stale older change — must lose
    (2, 8, 5, "U", 2.1),    # insert (no base row)
    (3, 9, 6, "D", None),   # delete-of-nonexistent → no row
    (7, 30, 7, "D", None),  # delete base key...
    (7, 40, 8, "U", 7.7),   # ...then re-insert at higher seq → updated
]


@pytest.fixture(scope="module")
def cdc_base(spark):
    return spark.createDataFrame(
        [(5, 50.0), (6, 60.0), (7, 70.0), (8, 80.0)],
        "user_id int, balance double",
    )


@pytest.fixture(scope="module")
def oneshot_expected(spark, cdc_base):
    feed = spark.createDataFrame(FEED_ROWS, FEED_DDL)
    return [
        tuple(r)
        for r in apply_changes(
            cdc_base, feed, key="user_id", seq=SEQ, payload=["balance"]
        )
        .orderBy("user_id")
        .collect()
    ]


def _run_incremental(spark, base, batches):
    store = seed_store(base, "user_id", SEQ, SEQ_TYPES)
    for rows in batches:
        b = spark.createDataFrame(rows, FEED_DDL)
        store = apply_changes_incremental(
            store, b, key="user_id", seq=SEQ, payload=["balance"]
        )
    return [
        tuple(r)
        for r in finish_store(store, "user_id", SEQ)
        .orderBy("user_id")
        .collect()
    ]


def test_incremental_equals_oneshot_any_split(spark, cdc_base, oneshot_expected):
    """The op265 contract: applying the feed as micro-batches — under
    ANY split, including ones that put OLDER changes in LATER batches —
    ends byte-identical to one apply_changes over the whole feed."""
    splits = [
        lambda r: r[2] % 2,          # interleaved by event_id (op265's split)
        lambda r: 0 if r[1] > 12 else 1,  # newest changes arrive FIRST
        lambda r: 0,                 # single batch
        lambda r: r[2] % 3,
    ]
    for f in splits:
        batches: dict[int, list] = {}
        for r in FEED_ROWS:
            batches.setdefault(f(r), []).append(r)
        got = _run_incremental(
            spark, cdc_base, [batches[k] for k in sorted(batches)]
        )
        assert got == oneshot_expected, f"split {f} diverged"


def test_replayed_batch_is_idempotent(spark, cdc_base, oneshot_expected):
    """Applying the same batch TWICE through the seq watermark changes
    no value (the manifest skip in the job is the first line of
    defense; the watermark makes even a re-applied batch value-safe —
    only n_changes would inflate, which is exactly why the job's
    marker check must exist and is asserted in-op)."""
    store = seed_store(cdc_base, "user_id", SEQ, SEQ_TYPES)
    b = spark.createDataFrame(FEED_ROWS, FEED_DDL)
    once = apply_changes_incremental(
        store, b, key="user_id", seq=SEQ, payload=["balance"]
    )
    twice = apply_changes_incremental(
        once, b, key="user_id", seq=SEQ, payload=["balance"]
    )
    vals = lambda df: [  # noqa: E731
        (r.user_id, r.balance)
        for r in finish_store(df, "user_id", SEQ).orderBy("user_id").collect()
    ]
    assert vals(twice) == vals(once) == [
        (u, bal) for (u, bal, _s, _n) in oneshot_expected
    ]


def test_tombstone_keeps_watermark_alive(spark, cdc_base):
    """A deleted key must retain its applied-seq watermark: a LATER
    batch carrying an OLDER upsert must not resurrect it (physical
    deletion would lose the watermark and wrongly re-insert)."""
    store = seed_store(cdc_base, "user_id", SEQ, SEQ_TYPES)
    b1 = spark.createDataFrame([(5, 20, 1, "D", None)], FEED_DDL)
    b2 = spark.createDataFrame([(5, 10, 2, "U", 5.5)], FEED_DDL)  # stale
    store = apply_changes_incremental(
        store, b1, key="user_id", seq=SEQ, payload=["balance"]
    )
    store = apply_changes_incremental(
        store, b2, key="user_id", seq=SEQ, payload=["balance"]
    )
    out = finish_store(store, "user_id", SEQ)
    assert out.filter(F.col("user_id") == 5).count() == 0
    # ...and n_changes still counted the stale change for survivors’ audit
    raw = store.filter(F.col("user_id") == 5).collect()
    assert len(raw) == 1 and raw[0]["n_changes"] == 2


def test_seed_store_guards(spark, cdc_base):
    with pytest.raises(ValueError, match="seq_types"):
        seed_store(cdc_base, "user_id", SEQ, ["long"])
    # __-prefixed bookkeeping names are a hard error — never a
    # legitimate user column
    poisoned = cdc_base.withColumn("__deleted", F.lit(True))
    with pytest.raises(ValueError, match="reserve"):
        seed_store(poisoned, "user_id", SEQ, SEQ_TYPES)
    # status/n_changes are apply_changes' RESERVED output names:
    # seeding from a previous application's output (the replay-chain
    # case) drops and rewrites them, mirroring the one-shot path —
    # a 'status' that slipped through would make finish_store mint a
    # DUPLICATE status column
    chained = cdc_base.withColumn("status", F.lit("updated")).withColumn(
        "n_changes", F.lit(9).cast("bigint")
    )
    store = seed_store(chained, "user_id", SEQ, SEQ_TYPES)
    out = finish_store(store, "user_id", SEQ)
    assert out.columns.count("status") == 1
    assert [r.status for r in out.collect()] == ["unchanged"] * 4
    assert all(r.n_changes == 0 for r in out.collect())


def test_null_key_merge_semantics_match_oneshot(spark):
    """NULL keys follow MERGE ON semantics (never match the BASE) in
    BOTH paths, and the incremental path must not re-insert a new
    NULL row per batch: one-shot collapses all NULL-key changes to one
    winner; incremental's previously-INSERTED NULL row (and only that
    one) absorbs later NULL changes."""
    base = spark.createDataFrame(
        [(None, 99.0), (8, 80.0)], "user_id int, balance double"
    )
    feed_rows = [
        (None, 10, 1, "U", 1.0),
        (None, 20, 2, "U", 2.0),   # later writer, lands in batch 2
        (8, 15, 3, "U", 8.5),
    ]
    feed = spark.createDataFrame(feed_rows, FEED_DDL)
    exp = sorted(
        (tuple(r) for r in apply_changes(
            base, feed, key="user_id", seq=SEQ, payload=["balance"]
        ).collect()),
        key=repr,
    )
    # split so each batch carries one NULL-key change
    store = seed_store(base, "user_id", SEQ, SEQ_TYPES)
    for rows in ([feed_rows[0], feed_rows[2]], [feed_rows[1]]):
        b = spark.createDataFrame(rows, FEED_DDL)
        store = apply_changes_incremental(
            store, b, key="user_id", seq=SEQ, payload=["balance"]
        )
    got = sorted(
        (tuple(r) for r in finish_store(store, "user_id", SEQ).collect()),
        key=repr,
    )
    assert got == exp
    # the NULL base row passed through unchanged AND exactly one
    # NULL-key insert exists (not one per batch)
    nulls = [t for t in got if t[0] is None]
    assert len(nulls) == 2
    assert {t[2] for t in nulls} == {"unchanged", "inserted"}
    ins = next(t for t in nulls if t[2] == "inserted")
    assert ins[1] == 2.0 and ins[3] == 2  # last writer won, both counted


def test_op265_streaming_matches_op264_batch(spark, sf_dir):
    """The streamed, micro-batched, replay-hardened op265 ends EXACTLY
    where op264's one-shot batch MERGE ends on the same feed (the in-op
    asserts additionally prove a duplicated batch commits nothing —
    they run inside this call)."""
    from ocdb_server_spark.operators.lakehouse import (
        op264_cdc_apply_changes,
        op265_stream_cdc_apply_changes,
    )

    got = sorted(
        tuple(r) for r in op265_stream_cdc_apply_changes(spark, sf_dir).collect()
    )
    exp = sorted(
        tuple(r) for r in op264_cdc_apply_changes(spark, sf_dir).collect()
    )
    assert got == exp


def test_collapse_feed_keep_seq_tolerates_overlap(spark):
    """keep_seq must not double-select a seq column that is also the
    key or a payload column — the duplicate made every downstream
    F.col reference ambiguous."""
    from ocdb_server_spark.functions.cdc import collapse_feed

    feed = spark.createDataFrame(
        [(1, 10, 5, "U"), (1, 20, 6, "U")],
        "id int, ts long, event_id long, op string",
    )
    out = collapse_feed(
        feed, key="id", seq=["ts", "event_id"], op_col="op",
        payload=["ts"], keep_seq=True,
    )
    assert out.columns.count("ts") == 1
    [row] = out.collect()
    assert (row.ts, row.event_id, row.n_changes) == (20, 6, 2)
