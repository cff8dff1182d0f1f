"""Self-tests of the benchmark: ``python -m pytest perfbench/tests -q``
from the repository root. The end-to-end tests run the benchmark itself
and take a few minutes."""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import check, datagen, searchgen
from perfbench.tracing import Tracer
from ocdb_server_spark.search import DatasetQuery

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+\Z")
N_ORDERS = 1_500  # orders at sf0.001


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_requests_are_deterministic_per_seed():
    a = searchgen.requests(7, 60, N_ORDERS)
    assert a == searchgen.requests(7, 60, N_ORDERS)
    assert a != searchgen.requests(8, 60, N_ORDERS)
    repeats = sum(1 for i, q in enumerate(a) if q in a[:i])
    assert repeats == round(60 * searchgen.REPEAT_SHARE)


def test_every_seed_sends_the_same_mix():
    blocks = 4
    for seed in (1, 2, 3):
        reqs = searchgen.requests(seed, blocks * searchgen.BLOCK, N_ORDERS)
        fresh = [q for i, q in enumerate(reqs) if q not in reqs[:i]]
        assert len(fresh) == blocks * len(searchgen._PAGING)
        assert sum(q.after is not None for q in fresh) == blocks * 2
        assert sum(q.offset >= 1000 for q in fresh) == blocks * 2
        assert sum(q.geojson for q in fresh) == blocks * 3
        assert sum(q.region is not None for q in fresh) == blocks * 5
        assert sum(q.time is not None for q in fresh) == blocks * 4


def test_digest_ignores_row_order():
    import pyarrow as pa

    t = pa.table({"b": [2.5, 1.0], "a": [1, 2]})
    assert check.digest(t) == check.digest(t.take([1, 0]))
    assert check.digest(t) != check.digest(pa.table({"b": [2.5, 1.5], "a": [1, 2]}))


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("parent"):
        with t.span("child"):
            pass
    parent, child = t.spans
    selfs = t.self_times()
    assert selfs["child"] == pytest.approx(child.end - child.start)
    assert selfs["parent"] == pytest.approx(
        (parent.end - parent.start) - (child.end - child.start)
    )


def test_names_match_pattern():
    from perfbench import worker

    b = _bench()
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += list(worker.LAYER_SUMS)
    names += [k for _, k in worker.BATCH_OPS]
    assert names and all(NAME_RE.match(n) for n in names), [
        n for n in names if not NAME_RE.match(n)
    ]
    assert len({w["name"] for w in b["workloads"]}) == len(b["workloads"])


# ------------------------------------------------- renderer vs find_datasets


def _shape_requests() -> list[DatasetQuery]:
    """Every expr form, paging kind, filter and geojson at least once."""
    out = []
    for kind in range(len(searchgen._EXPRS) + 1):
        for paging in ("shallow", "deep", "keyset"):
            slot = {
                "paging": paging,
                "bbox": kind % 3,
                "time": None if kind % 2 else kind % 3,
                "geojson": paging == "keyset" or kind % 4 == 0,
                "pgroup": (None, "returned", "kept", "none")[kind % 4],
                "count": 50,
            }
            q = searchgen._fresh(random.Random(kind), N_ORDERS, slot, kind)
            if paging == "deep":
                # deep enough to skip pages, shallow enough to land on hits
                q = DatasetQuery(**{**q.__dict__, "offset": 120, "region": None})
            out.append(q)
    out.append(DatasetQuery(count=10))
    out.append(DatasetQuery(offset=3000, count=20, geojson=True))
    out.append(DatasetQuery(after=(700, 3), count=30, pgroup=["kept"]))
    return out


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    return datagen.generate(str(tmp_path_factory.mktemp("data") / "sf0.001"), 0.001)


@pytest.fixture(scope="module")
def spark():
    from ocdb_server_spark.session import get_spark

    s = get_spark(app_name="perfbench_tests", master="local[2]", profile="interactive")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_renderer_agrees_with_find_datasets(spark, tiny):
    from pyspark.sql import functions as F

    from ocdb_server_spark.search import find_datasets

    frame = spark.read.parquet(f"{tiny}/lineitem.parquet").select(
        "*",
        (F.col("l_orderkey") % 360 - 180).alias("x"),
        ((F.col("l_partkey") * 7) % 180 - 90).alias("y"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("sku"),
    )
    con = check.connect(tiny)
    nonempty = 0
    for q in _shape_requests():
        res = find_datasets(frame, q, searchgen.COLUMNS)
        page = res.datasets.toArrow()
        nonempty += page.num_rows > 0
        why = check.search_mismatch(con, q, res.total_count, page)
        assert why is None, f"{q}: {why}"
    assert nonempty >= len(_shape_requests()) // 2


# ------------------------------------------------------------ end to end


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


_RUNS: dict[tuple[str, str], subprocess.CompletedProcess] = {}


def _bench_run(workload: str, trace: str) -> subprocess.CompletedProcess:
    """One run per (workload, trace), shared by the tests below."""
    key = (workload, trace)
    if key not in _RUNS:
        _RUNS[key] = _run(
            ROOT, "--workload", workload, "--seed", "3", "--seconds", "4", "--trace", trace
        )
    r = _RUNS[key]
    assert r.returncode == 0, r.stderr[-3000:]
    return r


def _detail(r: subprocess.CompletedProcess) -> dict:
    line = next(ln for ln in r.stdout.splitlines() if ln.startswith("perfbench-detail "))
    return json.loads(line.split(" ", 1)[1])


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", ["search", "batch"])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    b = _bench()
    r = _bench_run(workload, trace)
    last = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    spec = b["end_to_end"] if trace == "0" else b["per_layer"]
    assert set(last["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if trace == "0":
            assert got["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", ["search", "batch"])
def test_traced_jobs_are_the_pass_jobs(workload):
    """The spans' job counters add up to the jobs the measured pass
    started, no more: the warm-up and job-floor jobs stay out."""
    traced = _bench_run(workload, "1")
    spans_jobs = json.loads(traced.stdout.strip().splitlines()[-1])["metrics"]["spark.jobs"]
    assert spans_jobs["value"] == _detail(traced)["jobs"] > 0
    if workload == "search":
        # requests are deterministic plans: an untraced pass of the same
        # seed starts the same jobs
        assert _detail(_bench_run(workload, "0"))["jobs"] == spans_jobs["value"]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    r = _run(str(tmp_path), "--workload", "search", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert r.returncode != 0
    assert r.stdout.strip() == ""
