"""io.py's table reads and warm cache: a session infers each table's
schema once per file version, and warm_cache fills its tables
concurrently, sized from Parquet footers, in two jobs per table with
AQE off."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ocdb_server_spark import io, session
from ocdb_server_spark.io import load_table
from ocdb_server_spark.metrics import JobGroup

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _bare(spark, aqe: bool = True):
    """A stock session on the shared context, adopted as bare. With
    aqe=False it plans like the interactive profile perfbench and
    op_profile warm their tables on (a cache fill is one job)."""
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "200")  # the stock default
    assert session.adopt(s).kind == "bare"
    if not aqe:
        s.conf.set("spark.sql.adaptive.enabled", "false")
    return s


def _jobs(spark, fn) -> tuple[object, int]:
    with JobGroup(spark, "test_io") as g:
        out = fn()
    return out, len(g.jobs)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _copy(sf_dir: str, dst, names: tuple[str, ...]) -> str:
    for name in names:
        shutil.copy(io.table_path(sf_dir, name), io.table_path(str(dst), name))
    return str(dst)


def test_first_load_infers_once_and_a_repeat_reads_none(spark, sf_dir):
    """The first load_table of a table costs its schema inference job;
    a repeat reads with the recorded schema and launches none, for the
    raw schema a stream source asks for too."""
    s = _bare(spark)
    first, n1 = _jobs(s, lambda: load_table(s, sf_dir, "nation"))
    again, n2 = _jobs(s, lambda: load_table(s, sf_dir, "nation"))
    raw, n3 = _jobs(s, lambda: io.raw_schema(s, sf_dir, "nation"))
    assert (n1, n2, n3) == (1, 0, 0)
    assert again.schema == first.schema == raw
    assert _rows(again) == _rows(first)


def test_rewritten_file_infers_again(spark, sf_dir, tmp_path):
    """A file rewritten in place (new mtime and size) is inferred again
    and its new column is read."""
    s = _bare(spark)
    d = _copy(sf_dir, tmp_path, ("nation",))
    _, n1 = _jobs(s, lambda: load_table(s, d, "nation"))
    t = pq.read_table(io.table_path(d, "nation"))
    pq.write_table(t.append_column("extra", pa.array([1] * t.num_rows)), io.table_path(d, "nation"))
    df, n2 = _jobs(s, lambda: load_table(s, d, "nation"))
    assert (n1, n2) == (1, 1)
    assert df.columns[-1] == "extra" and df.count() == t.num_rows


def _nanos_events(sf_dir: str, dst) -> str:
    """sf_dir's events in the TIMESTAMP(NANOS) layout."""
    t = pq.read_table(io.table_path(sf_dir, "events"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    path = io.table_path(str(dst), "events")
    pq.write_table(t, path, version="2.6", coerce_timestamps=None)
    assert "nanoseconds" in str(pq.ParquetFile(path).schema.column(i).logical_type)
    return str(dst)


def test_events_layouts_read_through_the_record(spark, sf_dir, tmp_path):
    """Events in the TIMESTAMP(NANOS) layout (read as longs) and the
    TIMESTAMP(MICROS) layout (read as NTZ) both serve a repeat read from
    the record, and both normalize to the same schema and rows."""
    s = _bare(spark)
    (tmp_path / "micros").mkdir()
    (tmp_path / "nanos").mkdir()
    micros = _copy(sf_dir, tmp_path / "micros", ("events",))
    nanos = _nanos_events(sf_dir, tmp_path / "nanos")
    got = {}
    for d in (micros, nanos):
        first, n1 = _jobs(s, lambda: load_table(s, d, "events"))
        again, n2 = _jobs(s, lambda: load_table(s, d, "events"))
        assert (n1, n2) == (1, 0), d
        assert again.schema == first.schema
        got[d] = (again.schema, _rows(again))
        assert got[d][1] == _rows(first)
    raw = {d: dict((f.name, f.dataType.simpleString()) for f in io.raw_schema(s, d, "events")) for d in got}
    assert (raw[micros]["ts"], raw[nanos]["ts"]) == ("timestamp_ntz", "bigint")
    assert got[micros] == got[nanos]


def test_other_nanos_as_long_infers_again(spark, sf_dir, tmp_path):
    """A session that get_spark re-configures with another nanosAsLong
    does not read the schema recorded under the old value: a NANOS
    layout then fails its inference, as a fresh read does; with the old
    value back, the record serves again."""
    d = _nanos_events(sf_dir, tmp_path)
    load_table(spark, d, "events").collect()
    _, n = _jobs(spark, lambda: load_table(spark, d, "events"))
    assert n == 0
    try:
        session.get_spark(app_name="ocdb_tests", master="local[8]", extra_conf={_NANOS: "false"})
        assert spark.conf.get(_NANOS) == "false"
        with pytest.raises(Exception, match="NANOS"):
            load_table(spark, d, "events")
    finally:
        session.get_spark(app_name="ocdb_tests", master="local[8]")
    assert spark.conf.get(_NANOS) == "true"
    _, n = _jobs(spark, lambda: load_table(spark, d, "events"))
    assert n == 0


def test_warm_cache_costs_two_jobs_per_table(spark, sf_dir):
    """Per table warm_cache launches the schema inference and the cache
    fill, and no count job: its slices are sized from the footers. AQE
    is off, as on the interactive profile; with it on a fill is more
    jobs.
    Warming again, with the schemas recorded, costs the fills alone."""
    s = _bare(spark, aqe=False)
    names = ("nation", "supplier", "orders", "events")
    try:
        _, n1 = _jobs(s, lambda: io.warm_cache(s, sf_dir, names))
        _, n2 = _jobs(s, lambda: io.warm_cache(s, sf_dir, names))
        assert (n1, n2) == (2 * len(names), len(names))
        assert list(session.adopt(s).warm) == [(sf_dir, n) for n in names]
    finally:
        io.clear_cache()


def test_warm_slices_follow_the_row_curve(spark, sf_dir):
    """Each warm table holds all its rows in min(4×cores, max(1,
    n // 18_000)) slices, compute-heavy tables at least min(cores, 16),
    with n read from the file's footer."""
    s = _bare(spark, aqe=False)
    cores = s.sparkContext.defaultParallelism
    try:
        io.warm_cache(s, sf_dir)
        warm = session.adopt(s).warm
        for name in io.TABLES:
            n = pq.ParquetFile(io.table_path(sf_dir, name)).metadata.num_rows
            p = min(4 * cores, max(1, n // 18_000))
            if name in ("documents", "embeddings"):
                p = max(p, min(cores, 16))
            df = warm[(sf_dir, name)]
            assert (df.rdd.getNumPartitions(), df.count()) == (p, n), name
    finally:
        io.clear_cache()


def test_missing_table_leaves_nothing_warm(spark, sf_dir, tmp_path):
    """When one table cannot be read, warm_cache raises its error and
    the tables filled beside it are unpersisted and not published."""
    s = _bare(spark, aqe=False)
    d = _copy(sf_dir, tmp_path, ("nation", "region"))
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        io.warm_cache(s, d, ("nation", "supplier", "region"))
    assert session.adopt(s).warm == {}
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted


def test_caller_job_group_reaches_the_warm_jobs(spark, sf_dir):
    """The warm threads run their jobs under the caller's job group,
    and the caller's group is its own again afterwards."""
    s = _bare(spark, aqe=False)
    sc = s.sparkContext
    names = ("nation", "region", "supplier")
    try:
        sc.setJobGroup("warm-caller", "warm-caller")
        io.warm_cache(s, sf_dir, names)
        assert sc.getLocalProperty("spark.jobGroup.id") == "warm-caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
        io.clear_cache()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("warm-caller")) == 2 * len(names)


def test_stream_sinks_read_back_with_the_schema_they_wrote(spark, sf_dir, monkeypatch):
    """op234 and op265 read every file they wrote with its schema, so on
    a session that recorded events and customer: op234's build launches
    only its stream's one micro-batch write, and no parquet read of
    either op infers."""
    from pyspark.sql.readwriter import DataFrameReader

    from ocdb_server_spark.registry import load_all

    ops = load_all()
    op234 = ops["op234_stream_exactly_once_sink"].fn
    op265 = ops["op265_stream_cdc_apply_changes"].fn
    want = {op: _rows(op(spark, sf_dir)) for op in (op234, op265)}

    inferred: list[str] = []
    real_schema, real_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._given = True
        return real_schema(self, s)

    def parquet(self, *paths, **kw):
        if not getattr(self, "_given", False):
            inferred.append(str(paths))
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    df, n = _jobs(spark, lambda: op234(spark, sf_dir))
    assert n == 1
    assert _rows(df) == want[op234]
    assert _rows(op265(spark, sf_dir)) == want[op265]
    assert inferred == []
