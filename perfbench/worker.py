"""One benchmark run in a fresh process: set up, run a workload, check it.

Started by ``run.py`` with the environment it prepares; writes its
result as JSON to ``--out``. Every measurement is taken from outside
the engine, around calls to its public functions.

Workloads:

- ``search``: a closed loop with one client sending seeded
  ``DatasetQuery`` requests to ``search.find_datasets`` over the warm
  lineitem cache. A request's latency is the ``find_datasets`` call
  plus ``datasets.toArrow()``.
- ``batch``: one pass, in a seeded order, over LLM-data-pipeline
  operators (graph, text, codec families) and write-side operators
  (stream, fixpoint, io families). ``release_pool()`` runs before each
  operator; an operator's time is its ``Op.fn`` build plus
  ``toArrow()``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time

from perfbench.tracing import NullTracer, Tracer

SETUP_REPS = 3
SEARCH_SF = 0.02
BATCH_SF = 0.01
# The measured work is a fixed list sized from --seconds, never cut by
# the clock, so every seed measures the same amount of work at the same
# point of the JVM's warm-up: search sends REQUESTS_PER_S requests per
# second of --seconds; batch makes one pass per BATCH_PASS_S seconds.
# SEARCH_WARMUP requests of a fixed stream run untimed first, as a
# serving process is warm; the same warm-up for every seed leaves every
# run at the same point of the JVM's warm-up.
REQUESTS_PER_S = 4
BATCH_PASS_S = 25
SEARCH_WARMUP = 12
WARMUP_SEED = -1
BATCH_OPS = (
    ("graph", "op220_triangle_count"),
    ("text", "op132_editdist_neardup"),
    ("codec", "op195_wav_decode_features"),
    ("codec", "op205_png_decode_stats"),
    ("fixpoint", "op96_dedup_components"),
    ("stream", "op234_stream_exactly_once_sink"),
    ("io", "op05_sink_parquet_roundtrip"),
)
# a codec operator outside BATCH_OPS (see Run.batch)
BATCH_WARMUP_OP = "op202_jpeg_decode_stats"
# the tables BATCH_OPS read; the codec operators generate their inputs
BATCH_TABLES = ("lineitem", "supplier", "documents", "events")
FAMILIES = ("graph", "text", "codec", "stream", "fixpoint", "io")

# Per-layer sums over the traced run's spans; a layer a workload never
# enters reads 0.
LAYER_SUMS = (
    "operators.build_s", "operators.build_jobs", "operators.build_job_s",
    "spark.plan_s", "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "python.boot_s", "python.init_s", "python.total_s", "python.sent_mb",
    "python.received_mb",
    "streaming.batches", "streaming.query_planning_s", "streaming.add_batch_s",
    "streaming.commit_s",
    "sinks.bytes_written_mb", "sinks.files_written",
    "search.compile_s", "search.find_datasets_s", "search.page_s", "search.scan_rows",
    "registry.release_pool_s", "registry.pooled_released",
    "arrow.result_rows", "arrow.result_mb",
)
# spans that have children; their self time is the tracer's own work
# (counter reads between child spans)
PARENT_SPANS = ("request", "op")
# a run is marked as loaded when the hypervisor took more than this
# share of the machine's CPU time during it
STEAL_ELEVATED = 0.05


def _quantiles(xs: list[float]) -> tuple[float, float]:
    """(median, 90th percentile)."""
    if len(xs) == 1:
        return xs[0], xs[0]
    return statistics.median(xs), statistics.quantiles(xs, n=10, method="inclusive")[8]


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Run:
    """State of one run: the session, the counters and what was measured."""

    def __init__(self, args) -> None:
        self.args = args
        self.state = args.state
        self.traced = bool(args.trace)
        self.failures: list[str] = []
        self.attempted = 0
        self.spark = None
        self.jobs = None
        self.stream = None
        self.tracer = Tracer() if self.traced else NullTracer()

    # ------------------------------------------------------------ setup

    def conf(self) -> dict[str, str]:
        jtmp = os.path.join(self.state, "jtmp")
        os.makedirs(jtmp, exist_ok=True)
        return {
            "spark.ui.showConsoleProgress": "false",
            # A heap of fixed size (its maximum comes from
            # SPARK_DRIVER_MEMORY): a growing heap made the JVM's
            # resident size differ by 1.7x between identical runs.
            # No perf-data file, which the JVM would write under /tmp.
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ.get('SPARK_DRIVER_MEMORY', '1g')} -XX:-UsePerfData"
                f" -Djava.io.tmpdir={jtmp}"
            ),
            "spark.sql.warehouse.dir": os.path.join(self.state, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }

    def setup(self, sf_dir: str, tables: tuple[str, ...]) -> dict:
        """get_spark + load_all + warm_cache, SETUP_REPS times (the
        first launches the JVM); the last session stays up."""
        from ocdb_server_spark import io
        from ocdb_server_spark.registry import load_all
        from ocdb_server_spark.session import get_spark

        reps = []
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                io.clear_cache()
                self.spark.stop()
            with self.tracer.span("setup", request=f"setup{rep}"):
                t0 = time.perf_counter()
                with self.tracer.span("session.get_spark"):
                    self.spark = get_spark(profile="interactive", extra_conf=self.conf())
                    self.spark.sparkContext.setLogLevel("ERROR")
                t1 = time.perf_counter()
                with self.tracer.span("registry.load_all"):
                    self.ops = load_all()
                t2 = time.perf_counter()
                with self.tracer.span("io.warm_cache"):
                    io.warm_cache(self.spark, sf_dir, tables)
                t3 = time.perf_counter()
            reps.append({"get_spark_s": t1 - t0, "load_all_s": t2 - t1, "warm_cache_s": t3 - t2})
        from perfbench.counters import JobCounters, StreamProgress, cached_mb

        if self.traced:
            self.jobs = JobCounters(self.spark)
            self.stream = StreamProgress()
            self.spark.streams.addListener(self.stream)
        med = lambda k: statistics.median(r[k] for r in reps)
        return {
            "setup_s": statistics.median(sum(r.values()) for r in reps),
            "reps": reps,
            "session.get_spark_s": med("get_spark_s"),
            "registry.load_all_s": med("load_all_s"),
            "io.warm_cache_s": med("warm_cache_s"),
            "io.cached_mb": cached_mb(self.spark),
        }

    def fail(self, name: str, why: str) -> None:
        first_line = (why.strip().splitlines() or ["?"])[0]
        self.failures.append(f"{name}: {first_line[:300]}")

    # ----------------------------------------------------------- search

    def search(self, sf_dir: str) -> dict:
        from pyspark.sql import functions as F

        from ocdb_server_spark.io import load_table
        from ocdb_server_spark.search import find_datasets
        from perfbench import searchgen

        frame = load_table(self.spark, sf_dir, "lineitem").select(
            "*",
            (F.col("l_orderkey") % 360 - 180).alias("x"),
            ((F.col("l_partkey") * 7) % 180 - 90).alias("y"),
            F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("sku"),
        )
        n_orders = int(1_500_000 * SEARCH_SF)
        cols = searchgen.COLUMNS
        for q in searchgen.requests(WARMUP_SEED, SEARCH_WARMUP, n_orders):
            find_datasets(frame, q, cols).datasets.toArrow()
        reqs = searchgen.requests(
            self.args.seed, max(10, round(self.args.seconds * REQUESTS_PER_S)), n_orders
        )
        done: list[tuple] = []  # (index, query, seconds, total, page)

        def one(i: int, q) -> None:
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                res = find_datasets(frame, q, cols)
                page = res.datasets.toArrow()
                dt = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 - a failing request is counted, not fatal
                self.fail(f"search#{i}({searchgen.shape(q)})", repr(e))
                return
            done.append((i, q, dt, res.total_count, page))

        def one_traced(i: int, q) -> None:
            from ocdb_server_spark.metrics import profile
            from ocdb_server_spark.plans.expr_compiler import compile_expr

            self.attempted += 1
            t = self.tracer
            self.drop_counters()
            try:
                with t.span("request", request=f"search#{i}") as req:
                    if q.expr:
                        # an extra call, only to time the compiler;
                        # find_datasets compiles the expr again inside
                        with t.span("search.compile") as comp:
                            compile_expr(q.expr, list(cols.default_text_fields))
                    with t.span("search.find_datasets") as s:
                        res = find_datasets(frame, q, cols)
                    s.counters = self.jobs.take()
                    with t.span("spark.plan") as s:
                        res.datasets._jdf.queryExecution().executedPlan()
                    s.counters = self.jobs.take()
                    with t.span("search.page") as s:
                        page = res.datasets.toArrow()
                    s.counters = {
                        **self.jobs.take(),
                        "scan_rows": profile(res.datasets, materialize=False).scan_rows,
                        "result_rows": page.num_rows,
                        "result_bytes": page.nbytes,
                    }
                    req.counters = {"total_count": res.total_count}
            except Exception as e:  # noqa: BLE001
                self.fail(f"search#{i}({searchgen.shape(q)})", repr(e))
                return
            dt = (req.end - req.start) - ((comp.end - comp.start) if q.expr else 0.0)
            done.append((i, q, dt, res.total_count, page))

        out = self.run_list(list(enumerate(reqs)), one_traced if self.traced else one)
        lat = [d[2] for d in done]
        out["latencies"] = lat
        out["wall_s"] = sum(lat)
        out["repeat_share_measured"] = (
            sum(1 for j, q in enumerate(reqs[: len(lat)]) if q in reqs[:j]) / max(1, len(lat))
        )
        self._search_done = done
        return out

    def check_search(self, sf_dir: str) -> None:
        from perfbench import check, searchgen

        con = check.connect(sf_dir)
        try:
            for i, q, _, total, page in self._search_done:
                why = check.search_mismatch(con, q, total, page)
                if why:
                    self.fail(f"search#{i}({searchgen.shape(q)})", why)
        finally:
            con.close()

    # ------------------------------------------------------------ batch

    def batch(self, sf_dir: str) -> dict:
        from perfbench import check

        order = list(BATCH_OPS)
        random.Random(self.args.seed).shuffle(order)
        # One untimed operator first starts the Python worker pool and
        # warms the job path, so whichever operator the seed puts first
        # does not also pay for that.
        self.ops[BATCH_WARMUP_OP].fn(self.spark, sf_dir).toArrow()
        times: dict[str, list[float]] = {key: [] for _, key in order}
        self._digests: dict[str, tuple[int, str]] = {}

        def one(key: str) -> None:
            from ocdb_server_spark.registry import release_pool

            self.attempted += 1
            release_pool()
            try:
                t0 = time.perf_counter()
                df = self.ops[key].fn(self.spark, sf_dir)
                tbl = df.toArrow()
                dt = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001
                self.fail(key, repr(e))
                return
            self._digests.setdefault(key, check.digest(tbl))
            times[key].append(dt)

        def one_traced(key: str) -> None:
            from ocdb_server_spark.registry import release_pool
            from perfbench.counters import python_node_metrics

            self.attempted += 1
            t = self.tracer
            tmp = os.environ.get("TMPDIR", "")
            self.drop_counters()
            try:
                with t.span("op", request=key) as op:
                    with t.span("registry.release_pool") as rel:
                        released = release_pool()
                    rel.counters = {"released": released}
                    files_before = _files(tmp)
                    with t.span("operators.build") as s:
                        df = self.ops[key].fn(self.spark, sf_dir)
                    s.counters = {
                        **self.jobs.take(),
                        **self.stream.take(),
                        "files_written": len(_files(tmp) - files_before),
                    }
                    with t.span("spark.plan") as s:
                        df._jdf.queryExecution().executedPlan()
                    s.counters = self.jobs.take()
                    with t.span("spark.exec") as s:
                        tbl = df.toArrow()
                    s.counters = {
                        **self.jobs.take(),
                        **self.stream.take(),
                        **python_node_metrics(df),
                        "result_rows": tbl.num_rows,
                        "result_bytes": tbl.nbytes,
                    }
            except Exception as e:  # noqa: BLE001
                self.fail(key, repr(e))
                return
            self._digests.setdefault(key, check.digest(tbl))
            dt = (op.end - op.start) - (rel.end - rel.start)
            times[key].append(dt)

        passes = max(1, round(self.args.seconds / BATCH_PASS_S))
        items = [(key,) for _ in range(passes) for _, key in order]
        out = self.run_list(items, one_traced if self.traced else one)
        per_op = {k: statistics.median(v) for k, v in times.items() if v}
        out["op_s"] = per_op
        out["order"] = [k for _, k in order]
        out["passes"] = max((len(v) for v in times.values()), default=0)
        out["latencies"] = list(per_op.values())
        out["wall_s"] = sum(per_op.values())
        for fam in FAMILIES:
            out[f"{fam}_s"] = sum(per_op.get(k, 0.0) for f, k in BATCH_OPS if f == fam)
        return out

    def check_batch(self, sf_dir: str) -> None:
        from perfbench import check, datagen

        exp = check.Expected(
            sf_dir,
            datagen.fingerprint(sf_dir),
            os.path.join(self.state, "expected_cache.json"),
        )
        try:
            for key, (n, d) in self._digests.items():
                want_n, want_d = exp.get(self.ops[key].oracle)
                if n != want_n:
                    self.fail(key, f"rows {n} != oracle {want_n}")
                elif d != want_d:
                    self.fail(key, f"value digest differs from oracle ({n} rows)")
        finally:
            exp.close()

    def drop_counters(self) -> None:
        """Throw away the jobs and micro-batches started since the last
        read (warm-up, job floor, a failed item), so each traced item's
        counters hold only its own."""
        self.jobs.take()
        self.stream.take()

    def run_list(self, items: list[tuple], one) -> dict:
        """Call ``one(*item)`` for each item; count the Spark jobs the
        whole list started, straight from the status store."""
        from perfbench.counters import jobs_started

        before = jobs_started(self.spark)
        for item in items:
            one(*item)
        return {"jobs": jobs_started(self.spark) - before}

    # ----------------------------------------------------------- layers

    def layers(self, setup: dict, work: dict) -> dict:
        """Per-layer metrics from the spans of the traced run."""
        spans = self.tracer.spans
        tot: dict[str, float] = dict.fromkeys(LAYER_SUMS, 0.0)

        def add(key: str, v: float) -> None:
            tot[key] += v

        n_units = 0
        for s in spans:
            c = s.counters
            dur = s.end - s.start
            if s.name in ("op", "request"):
                n_units += 1
            if s.name in ("operators.build", "search.find_datasets"):
                add("operators.build_s", dur)
                add("operators.build_jobs", c.get("jobs", 0))
                add("operators.build_job_s", c.get("job_ms", 0) / 1000)
            if s.name == "spark.plan":
                add("spark.plan_s", dur)
            if s.name in ("spark.exec", "search.page"):
                add("spark.exec_s", dur)
                add("arrow.result_rows", c.get("result_rows", 0))
                add("arrow.result_mb", c.get("result_bytes", 0) / 2**20)
            if s.name == "registry.release_pool":
                add("registry.release_pool_s", dur)
                add("registry.pooled_released", c.get("released", 0))
            if s.name in ("search.compile", "search.find_datasets", "search.page"):
                add(s.name + "_s", dur)
            if "jobs" in c:
                add("spark.jobs", c["jobs"])
                add("spark.stages", c["stages"])
                add("spark.tasks", c["tasks"])
                add("spark.executor_run_s", c["executor_run_ms"] / 1000)
                add("spark.executor_cpu_s", c["executor_cpu_ns"] / 1e9)
                add("spark.gc_s", c["gc_ms"] / 1000)
                add("spark.shuffle_read_mb", c["shuffle_read_bytes"] / 2**20)
                add("spark.shuffle_write_mb", c["shuffle_write_bytes"] / 2**20)
                add("sinks.bytes_written_mb", c["output_bytes"] / 2**20)
            if "boot_ms" in c:
                add("python.boot_s", c["boot_ms"] / 1000)
                add("python.init_s", c["init_ms"] / 1000)
                add("python.total_s", c["total_ms"] / 1000)
                add("python.sent_mb", c["sent_bytes"] / 2**20)
                add("python.received_mb", c["received_bytes"] / 2**20)
            if "batches" in c:
                add("streaming.batches", c["batches"])
                add("streaming.query_planning_s", c["query_planning_ms"] / 1000)
                add("streaming.add_batch_s", c["add_batch_ms"] / 1000)
                add("streaming.commit_s", c["commit_ms"] / 1000)
            if "scan_rows" in c:
                add("search.scan_rows", c["scan_rows"])
            if "files_written" in c:
                add("sinks.files_written", c["files_written"])
        if self.args.workload == "search":
            tot["search.jobs_per_request"] = tot["spark.jobs"] / max(1, n_units)
            tot["search.rows_scanned_per_returned"] = tot["search.scan_rows"] / max(
                1, tot["arrow.result_rows"]
            )
        else:
            tot["search.jobs_per_request"] = tot["search.rows_scanned_per_returned"] = 0.0
        del tot["search.scan_rows"]
        selfs = self.tracer.self_times()
        tot["session.get_spark_s"] = setup["session.get_spark_s"]
        tot["registry.load_all_s"] = setup["registry.load_all_s"]
        tot["io.warm_cache_s"] = setup["io.warm_cache_s"]
        tot["io.cached_mb"] = setup["io.cached_mb"]
        tot["trace.wall_s"] = work["wall_s"]
        tot["trace.overhead_s"] = sum(selfs.get(name, 0.0) for name in PARENT_SPANS)
        tot["trace.spans"] = len(spans)
        return tot


def _files(root: str) -> set[str]:
    """Data files under ``root`` (hidden and ``_``-prefixed markers left out)."""
    out = set()
    for d, _, names in os.walk(root):
        out.update(os.path.join(d, n) for n in names if n[0] not in "._")
    return out


def _versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=("search", "batch"), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--state", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)

    from perfbench import datagen
    from perfbench.counters import job_floor_ms, peak_rss_mb, steal_s

    load_start = os.getloadavg()
    steal_start = steal_s()
    t_start = time.monotonic()
    run = Run(args)
    if args.workload == "search":
        sf_dir = datagen.generate(os.path.join(args.state, "data", f"sf{SEARCH_SF}"), SEARCH_SF)
        tables: tuple[str, ...] = ("lineitem",)
    else:
        sf_dir = datagen.generate(os.path.join(args.state, "data", f"sf{BATCH_SF}"), BATCH_SF)
        tables = BATCH_TABLES
    setup = run.setup(sf_dir, tables)
    floor_before = job_floor_ms(run.spark)
    work = run.search(sf_dir) if args.workload == "search" else run.batch(sf_dir)
    floor_after = job_floor_ms(run.spark)
    rss = peak_rss_mb()
    layers = run.layers(setup, work) if run.traced else {}
    if run.traced:
        layers["spark.job_floor_ms"] = floor_before
        run.tracer.dump(
            os.path.join(args.state, f"trace-{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed},
        )
    run.spark.stop()
    if args.workload == "search":
        run.check_search(sf_dir)
    else:
        run.check_batch(sf_dir)

    steal = steal_s() - steal_start
    steal_share = steal / (os.cpu_count() * (time.monotonic() - t_start))
    floor_elevated = floor_after > 1.5 * floor_before
    lat = work["latencies"]
    p50, p90 = _quantiles(lat) if lat else (0.0, 0.0)
    e2e = {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (work["wall_s"], "s"),
        "op_p90_ms": (p90 * 1000, "ms"),
        "op_geomean_ms": (_geomean(lat) * 1000 if lat else 0.0, "ms"),
        "peak_rss_mb": (rss, "MB"),
    }
    failed = len(run.failures)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "samples": len(lat),
        "jobs": work["jobs"],
        "op_p50_ms": p50 * 1000,
        "latencies_ms": [round(x * 1000, 1) for x in lat],
        "failed_frac": failed / max(1, run.attempted),
        "failures": run.failures,
        "setup_reps": setup["reps"],
        "load": {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "job_floor_ms_before": floor_before,
            "job_floor_ms_after": floor_after,
            "cpu_steal_s": steal,
            "steal_share": steal_share,
            "load_elevated": floor_elevated or steal_share > STEAL_ELEVATED,
            "versions": _versions(),
            "commit": os.environ.get("PERFBENCH_COMMIT", "unknown"),
        },
    }
    if args.workload == "search":
        detail["repeat_share_measured"] = work["repeat_share_measured"]
    else:
        detail["passes"] = work["passes"]
        detail["order"] = work["order"]
        detail["op_s"] = work["op_s"]
        for fam in FAMILIES:
            detail[f"{fam}_s"] = work[f"{fam}_s"]
    with open(args.out, "w") as f:
        json.dump(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "e2e": e2e,
                "layers": layers,
                "detail": detail,
            },
            f,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
