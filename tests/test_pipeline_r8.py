"""op255 mini table-log: crash-window atomicity, snapshot isolation,
and compaction equivalence (round-7 verdict item 5's "done" bar:
one new SQL-certified op + a crash-window test in the op234 style)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.io import load_table
from ocdb_server_spark.operators.lakehouse import (
    _parquet_files,
    build_table_log,
    log_commit,
    log_dir,
    read_log,
    read_snapshot,
)


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


# ------------------------------------------------------------------ op257


@pytest.mark.parametrize(
    "name",
    [
        "op235_holt_winters_seasonal",
        "op254_holt_winters_multiplicative",
        "op257_holt_winters_damped_multiplicative",
    ],
    ids=lambda name: name[:5],
)
def test_seasonal_hw_short_span_fails_loudly(name, spark, tmp_path):
    """A corpus spanning < 7 days must raise ONE loud error naming the
    minimum-span requirement: every seasonal kernel a ValueError from
    the shared seasonal init (not an executor IndexError). op257's
    DuckDB oracle raises too, an error() from the week1 CTE (not
    NULL-propagated seasonals); op235's and op254's oracles have no
    such guard and propagate NULLs."""
    import duckdb
    from pyspark.errors import PythonException

    from ocdb_server_spark.operators import forecast
    from ocdb_server_spark.operators.forecast import _op257_sql

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (i, f"2024-01-0{1 + i % 3} 0{i}:00:00", i, "click", 1.0, "{}")
            for i in range(6)
        ],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id", "cast(ts as timestamp) as ts", "user_id",
        "event_type", "value", "props",
    ).write.parquet(f"{sf}/events.parquet")

    with pytest.raises(PythonException, match=rf"{name[:5]}: events span 3 < 7 days"):
        getattr(forecast, name)(spark, sf).collect()

    if name != "op257_holt_winters_damped_multiplicative":
        return
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{sf}/events.parquet/*.parquet'"
    )
    with pytest.raises(duckdb.Error, match="span < 7 days"):
        con.execute(_op257_sql()).fetchall()


@pytest.mark.parametrize(
    "name", ["op231_holt_forecast", "op253_holt_damped"], ids=lambda name: name[:5]
)
def test_holt_single_day_span_returns_no_rows(name, spark, tmp_path):
    """Events that all fall on one day give no initial trend (y_1 − y_0
    needs a second day): the Spark kernel returns no row, as the
    oracle's day-0 × day-1 init join does, instead of failing in the
    executor."""
    import duckdb

    from ocdb_server_spark.operators import forecast

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (i, f"2024-01-01 0{i}:00:00", i, ("click", "view")[i % 2], 1.0, "{}")
            for i in range(4)
        ],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id", "cast(ts as timestamp) as ts", "user_id",
        "event_type", "value", "props",
    ).write.parquet(f"{sf}/events.parquet")

    assert getattr(forecast, name)(spark, sf).collect() == []
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{sf}/events.parquet/*.parquet'"
    )
    assert con.execute(getattr(forecast, f"_{name[:5]}_sql")()).fetchall() == []


def test_hw_damped_mult_matches_python_recurrence(spark, sf_dir):
    """op257: the grouped Arrow stage's damped multiplicative recurrence must
    equal an independent python implementation over the zero-filled
    spine — level, trend, seasonal state, and all seven damped
    forecasts (repeated-halving partial sums times the seasonal
    ratio)."""
    from collections import Counter

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.forecast import (
        _HWM_H,
        _HWM_M,
        _HWM_S,
        _HW_OFF,
        op257_holt_winters_damped_multiplicative,
    )

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "cast(ts as date) as d"
    ).collect()
    d0 = min(r.d for r in ev)
    d1 = max(r.d for r in ev)
    ndays = (d1 - d0).days + 1
    counts = Counter((r.event_type, (r.d - d0).days) for r in ev)
    f2 = lambda x: (x + _HW_OFF) // 2 - _HW_OFF // 2  # noqa: E731
    S = _HWM_S
    expect = {}
    for et in {r.event_type for r in ev}:
        ys = [counts.get((et, t), 0) for t in range(ndays)]
        l = sum(ys[:_HWM_M]) // _HWM_M
        bt = 0
        s = [(ys[i] * S) // max(l, 1) for i in range(_HWM_M)]
        for t in range(_HWM_M, len(ys)):
            y = ys[t]
            sp = s[t % _HWM_M]
            pb = f2(bt)
            l_new = f2((y * S) // max(sp, 1) + l + pb)
            bt = f2(pb + l_new - l)
            s[t % _HWM_M] = f2((y * S) // max(l_new, 1) + sp)
            l = l_new
        fcs, acc, p = [], l, bt
        for h in range(1, _HWM_H + 1):
            p = f2(p)
            acc += p
            fcs.append((acc * s[(ndays - 1 + h) % _HWM_M]) // S)
        expect[et] = (l, bt, fcs)
    got = {
        r.event_type: r
        for r in op257_holt_winters_damped_multiplicative(
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(expect)
    for et, (l, bt, fcs) in expect.items():
        r = got[et]
        assert (r.level, r.trend) == (l, bt), et
        for h in range(1, _HWM_H + 1):
            assert getattr(r, f"fc_{h}") == fcs[h - 1], (et, h)


def test_hw_damped_mult_trend_is_damped_vs_op254(spark, sf_dir):
    """The composition property, pinned EMPIRICALLY on the driver
    testdata (it is not a pointwise theorem — the two recurrences
    walk different level paths): op257 halves the carried trend at
    every use, so its terminal trend magnitude stays within one unit
    of op254's undamped one on every series at sf0.001 and sf0.01.
    The exactness gate is the recurrence-match test above; this test
    exists to flag testdata regenerations that change the damping
    story."""
    from ocdb_server_spark.operators.forecast import (
        _HWM_H,
        op254_holt_winters_multiplicative,
        op257_holt_winters_damped_multiplicative,
    )

    damped = {
        r.event_type: r
        for r in op257_holt_winters_damped_multiplicative(
            spark, sf_dir
        ).collect()
    }
    undamped = {
        r.event_type: r
        for r in op254_holt_winters_multiplicative(spark, sf_dir).collect()
    }
    assert set(damped) == set(undamped)
    for et, r in damped.items():
        # geometric-halving bound: the total damped trend contribution
        # |sum phi^i b| <= |b| (sum of halvings), so the far-horizon
        # forecast stays within one trend unit of the level times the
        # seasonal ratio — whereas op254's grows linearly with h.
        assert abs(r.trend) <= abs(undamped[et].trend) + 1, et
        assert len(r) == len(undamped[et]) == 3 + _HWM_H


def test_op258_ocf_files_are_multiblock_and_jvm_readable(spark, sf_dir):
    """op258's transport claims, pinned: the exported OCF files are
    MULTI-block (8-row blocks — block framing is exercised, not just
    one-block containers), both codec paths appear across the file
    set, and the JVM avro library on Spark's own classpath reads our
    bytes back to the exact same (dataset_id, field, value) triples —
    the interop gate op252 established, applied to the records sink."""
    import glob

    from ocdb_server_spark.operators.scans import (
        op258_avro_records_sink,
    )
    from ocdb_server_spark.sources.avro_ocf import read_ocf

    out = op258_avro_records_sink(spark, sf_dir)
    rows = {(r.dataset_id, r.field): (r.n_obs, r.sum_q) for r in out.collect()}
    assert rows[("ds1", "depth")] == (5, 26000)  # 1+2.5+5+7.5+10 → *1000

    # READ-ONLY scratch accessor (calling scratch_dir() again would
    # reap and EMPTY it) — a glob over all pids would pick up stale
    # dirs from other sessions/tags
    from ocdb_server_spark.scratch import scratch_path

    mine = scratch_path("avro_records", sf_dir)
    files = sorted(glob.glob(f"{mine}/obs-*.avro"))
    assert files, "no OCF files left on disk"
    total = []
    for p in files:
        with open(p, "rb") as f:
            blob = f.read()
        recs = read_ocf(blob)
        total.extend((r["dataset_id"], r["field"], r["value"]) for r in recs)
        if len(recs) > 8:
            # count sync markers: blocks = occurrences of the 16-byte
            # marker after the header; >2 means ≥2 data blocks
            marker = blob[-16:]
            assert blob.count(marker) >= 3, p  # header + ≥2 blocks
    assert len(total) == 39  # every fixture observation survived (16+13+10)

    # JVM interop: DataFileReader parses our bytes
    jvm = spark._jvm
    sf = jvm.java.io.File(files[0])
    dgr = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(sf, dgr)
    jvm_rows = []
    while dfr.hasNext():
        rec = dfr.next()
        jvm_rows.append(
            (
                str(rec.get("dataset_id")),
                str(rec.get("field")),
                float(rec.get("value")),
            )
        )
    dfr.close()
    ours = [
        (r["dataset_id"], r["field"], r["value"])
        for r in read_ocf(open(files[0], "rb").read())
    ]
    assert jvm_rows == ours and len(jvm_rows) > 0


def test_op259_croston_hand_computed_and_sba_bound(spark, sf_dir):
    """op259's recurrence against a hand-worked series, plus the SBA
    bias bound on the real output.

    Hand series y = [0,2,0,0,3,0,1] (t = 0..6):
      t=1 first demand: z=2, p=t+1=2
      t=4 (gap q=2):    z=(3+2)//2=2, p=(2+1+2)//2=2
      t=6 (gap q=1):    z=(1+2)//2=1, p=(1+1+2)//2=2
      nd=3, fc = 1000//2 = 500, sba = 3000//(4*2) = 375
    """
    from ocdb_server_spark.operators.forecast import op259_croston_sba

    # pin the hand series with a local loop that restates the kernel's
    # statements in the same order (the kernel itself is certified
    # bit-identical to the DuckDB recursion by the oracle hash):
    z = p = q = nd = 0
    for t, y in enumerate([0, 2, 0, 0, 3, 0, 1]):
        if nd == 0:
            if y > 0:
                z, p, q, nd = y, t + 1, 0, 1
        elif y > 0:
            z, p, q, nd = (y + z) // 2, (q + 1 + p) // 2, 0, nd + 1
        else:
            q += 1
    assert (z, p, nd) == (1, 2, 3)
    assert (z * 1000 // p, z * 3000 // (4 * p)) == (500, 375)

    rows = op259_croston_sba(spark, sf_dir).collect()
    assert rows, "every custkey bucket has at least one order"
    for r in rows:
        # SBA is a strict 3/4 shrink of Croston (integer-floored)
        assert r.fc_sba_q <= r.fc_croston_q
        assert r.fc_sba_q >= r.fc_croston_q * 3 // 4 - 1
        assert r.p_interval >= 1 and r.z_size >= 1 and r.n_demands >= 1
