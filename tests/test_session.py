"""The engine's session stance on sessions it did not build: a stock
session's first `load_table` adopts it (8 shuffle partitions, AQE, UTC,
workers from the engine daemon) once, and a session whose Python
workers already started keeps Spark's daemon."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from ocdb_server_spark import session
from ocdb_server_spark._vendor import PACKAGE_ROOT
from ocdb_server_spark.io import load_table

_SQL_STANCE = {k: v for k, v in session.STANCE.items() if k.startswith("spark.sql.")}

# A process shaped like the correctness sweep's: a stock session built
# before the package is imported, run from a directory that cannot
# import the package.
_BARE = """
import json, sys
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[2]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")


def worker_pyspark(it):
    import pyarrow as pa
    import pyspark

    for _ in it:
        yield pa.RecordBatch.from_pylist([{{"f": pyspark.__file__}}])


def worker_files():
    df = spark.range(4, numPartitions=2).mapInArrow(worker_pyspark, "f string")
    return sorted({{r.f for r in df.collect()}})


before = worker_files() if {workers_first!r} else []
sys.path.insert(0, {root!r})
from ocdb_server_spark.io import load_table
from ocdb_server_spark.session import STANCE, adopt

load_table(spark, {sf_dir!r}, "nation").count()
print(json.dumps({{
    "kind": adopt(spark).kind,
    "sql": {{k: spark.conf.get(k) for k in STANCE if k.startswith("spark.sql.")}},
    "daemon": spark.sparkContext._jsc.sc().conf().get(
        "spark.python.daemon.module", "pyspark.daemon"
    ),
    "before": before,
    "after": worker_files(),
}}))
spark.stop()
"""


def _run_bare(tmp_path, sf_dir, workers_first: bool) -> dict:
    script = _BARE.format(root=PACKAGE_ROOT, sf_dir=sf_dir, workers_first=workers_first)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_stock_session_adopts_the_stance_and_the_engine_daemon(tmp_path, sf_dir):
    """After its first load_table a stock local[N] session runs on the
    stance, and its mapInArrow tasks import pyspark from a directory,
    not from pyspark.zip, through the engine daemon found on the
    workers' path."""
    got = _run_bare(tmp_path, sf_dir, workers_first=False)
    assert got["kind"] == "bare"
    assert got["sql"] == _SQL_STANCE
    assert got["daemon"] == session.STANCE["spark.python.daemon.module"]
    assert got["after"], got
    for f in got["after"]:
        assert os.path.isfile(f) and ".zip" not in f, f


def test_session_with_started_workers_keeps_the_stock_daemon(tmp_path, sf_dir):
    """A session that ran a Python task before its first load_table
    still takes the SQL stance, but its workers stay on Spark's
    pyspark.daemon: a new daemon module would start a second daemon
    beside the running one."""
    got = _run_bare(tmp_path, sf_dir, workers_first=True)
    assert got["kind"] == "bare"
    assert got["sql"] == _SQL_STANCE
    assert got["daemon"] == "pyspark.daemon"
    assert got["before"] == got["after"], got
    assert all("pyspark.zip" in f for f in got["after"]), got


def _count_conf_calls(conf, monkeypatch, refuse_set: bool = False) -> list[str]:
    calls: list[str] = []
    for name in ("get", "set", "unset"):
        real = getattr(conf, name)

        def spy(*args, _real=real, _name=name, **kwargs):
            calls.append(_name)
            if refuse_set and _name == "set":
                raise RuntimeError("conf refused")
            return _real(*args, **kwargs)

        monkeypatch.setattr(conf, name, spy)
    return calls


def test_adopted_session_makes_no_conf_call_after_the_first(spark, sf_dir, monkeypatch):
    """The stance is decided once per session: later load_table calls,
    events included, make no conf read or write."""
    bare = spark.newSession()
    bare.conf.set("spark.sql.shuffle.partitions", "200")  # the stock default
    bare.conf.set("spark.sql.session.timeZone", "America/New_York")
    load_table(bare, sf_dir, "events").limit(1).collect()
    assert {k: bare.conf.get(k) for k in _SQL_STANCE} == _SQL_STANCE
    calls = _count_conf_calls(bare.conf, monkeypatch)
    for name in ("events", "nation", "events"):
        load_table(bare, sf_dir, name).limit(1).collect()
    assert calls == []
    assert session.adopt(bare).kind == "bare"


def test_refused_conf_call_still_reads_the_table(spark, sf_dir, monkeypatch):
    """A session whose conf writes are refused is read as it is, left
    external, and not probed again; a py4j failure on the worker
    factory check leaves the daemon conf untouched."""
    bare = spark.newSession()
    bare.conf.set("spark.sql.shuffle.partitions", "200")
    calls = _count_conf_calls(bare.conf, monkeypatch, refuse_set=True)
    want = load_table(spark, sf_dir, "nation").count()
    assert load_table(bare, sf_dir, "nation").count() == want
    assert calls == ["get", "set"]
    assert session.adopt(bare).kind == "external"
    assert load_table(bare, sf_dir, "region").count() > 0
    assert calls == ["get", "set"]

    from py4j.protocol import Py4JError

    class _Refusing:
        def __getattr__(self, name):
            raise Py4JError(f"{name} is private")

    class _Session:
        sparkContext = _Refusing()

    session._use_engine_daemon(_Session())  # keeps the stock daemon, no raise


def test_each_session_sees_only_its_own_warm_state(spark, sf_dir, monkeypatch):
    """Warm frames, captured query vectors and view bindings belong to
    the session that made them: a second session on the same context
    reads cold, is not served the first one's parameters, and keeps
    its view bindings when the first re-warms; clear_cache empties
    every session's record."""
    from ocdb_server_spark import io

    other = spark.newSession()
    mine, theirs = session.adopt(spark), session.adopt(other)
    try:
        io.warm_cache(spark, sf_dir, ("nation", "embeddings"))
        cold = io.load_table(other, sf_dir, "nation")
        assert cold.sparkSession is other
        assert cold is not mine.warm[(sf_dir, "nation")]
        assert io.load_embeddings_normed(other, sf_dir).sparkSession is other
        assert theirs.warm == {}

        want = io.query_vector(spark, sf_dir)
        assert want and mine.params[(sf_dir, 0)] == want
        mine.params[(sf_dir, 0)] = [9.0]  # only the first session may serve it
        assert io.query_vector(spark, sf_dir) == [9.0]
        assert io.query_vector(other, sf_dir) == want
        assert theirs.params == {}

        io.load_tables(other, sf_dir, ("nation",))
        registered: list[str] = []
        real = type(cold).createOrReplaceTempView

        def spy(df, name):
            registered.append(name)
            real(df, name)

        monkeypatch.setattr(type(cold), "createOrReplaceTempView", spy)
        io.warm_cache(spark, sf_dir, ("nation",))
        io.load_tables(other, sf_dir, ("nation",))
        assert registered == []
        assert theirs.views == {"nation": sf_dir}

        io.warm_cache(other, sf_dir, ("region",))
        assert theirs.warm
    finally:
        io.clear_cache()
    for stance in (mine, theirs):
        assert stance.warm == {} and stance.params == {}
