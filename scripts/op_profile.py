#!/usr/bin/env python
"""Per-operator profile on the bench session: end to end, build included.

Usage:
  python scripts/op_profile.py sweep [sf_dir] [reps] [--only=opA,opB] > profile.json
  python scripts/op_profile.py explain opA [opB ...]

sf_dir defaults to $SPARK_GRAFT_SF_DIR. Both modes use the bench
session: the ``interactive`` profile over ``warm_cache``d tables.

``sweep`` times every registered op (or the ``--only`` subset) in op-key
order. Each op gets one untimed warm-up rep, then ``reps`` reps (default
3; 5 when the warm-up took more than 0.3 s, so loaded draws on the
expensive ops do not pass for regressions). A rep builds a fresh
DataFrame, since re-executing one instance skips finished map stages,
and times three phases:

  build  ``Op.fn()``: py4j plan construction plus any Spark jobs or
         streaming runs the op launches eagerly
  plan   ``queryExecution().executedPlan()``: JVM analyze/optimize/plan
  exec   ``toArrow()``: execution plus the Arrow fetch

``e2e_s``, the primary number, is their sum. Per op the record holds
the best and the median ``e2e_s`` and, for the best rep, its phase
split, the ``perfbench.counters`` readings of each phase (jobs, stages,
tasks, executor time, shuffle bytes, micro-batch phases), the executed
plan's Python-node metrics and the result's rows and bytes. A failing op
records ``err`` and the sweep goes on. The header carries the 1-task
job floor and the load average at the start and at the end, so a
loaded run says so in its own record.

``explain`` prints ``.explain("formatted")`` of each named op.

JSON goes to stdout, progress to stderr.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SLOW_OP_SEC = 0.3  # warm-up wall above this buys extra reps
SLOW_OP_REPS = 5
PHASES = ("build", "plan", "exec")


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _env_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR") or sys.exit(__doc__)


def _session(sf_dir: str):
    from ocdb_server_spark.io import warm_cache
    from ocdb_server_spark.registry import load_all
    from ocdb_server_spark.session import get_spark

    # perfbench's status-store retention: the job walk of
    # perfbench.counters.JobCounters starts at job 0 and stops at the
    # first id the store has dropped. No progress bars on stderr.
    spark = get_spark(
        app_name="op_profile",
        profile="interactive",
        extra_conf={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ops = load_all()
    warm_cache(spark, sf_dir)
    return spark, ops


class _Profiler:
    """Runs reps of one op and reads the counters around each phase."""

    def __init__(self, spark, sf_dir: str) -> None:
        from perfbench.counters import JobCounters, StreamProgress

        self.spark = spark
        self.sf_dir = sf_dir
        self.jobs = JobCounters(spark)
        self.stream = StreamProgress()
        spark.streams.addListener(self.stream)

    def counters(self) -> dict:
        return {**self.jobs.take(), **self.stream.take()}

    def rep(self, op) -> tuple[dict, dict]:
        """One fresh build + plan + exec: (seconds per phase, counters
        per phase). Counters are read between the timed regions."""
        from perfbench.counters import python_node_metrics

        self.counters()  # drop what ran before this rep
        t0 = time.perf_counter()
        df = op.fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        build = self.counters()
        t2 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t3 = time.perf_counter()
        plan = self.counters()
        t4 = time.perf_counter()
        tbl = df.toArrow()
        t5 = time.perf_counter()
        exec_ = {
            **self.counters(),
            **python_node_metrics(df),
            "result_rows": tbl.num_rows,
            "result_bytes": tbl.nbytes,
        }
        times = {"build": t1 - t0, "plan": t3 - t2, "exec": t5 - t4}
        return times, {"build": build, "plan": plan, "exec": exec_}


def _profile_op(prof: _Profiler, op, reps: int) -> dict:
    warm, _ = prof.rep(op)  # codegen/JIT/Arrow caches out of the numbers
    n_reps = max(reps, SLOW_OP_REPS) if sum(warm.values()) > SLOW_OP_SEC else reps
    runs = [prof.rep(op) for _ in range(n_reps)]
    times, counters = min(runs, key=lambda r: sum(r[0].values()))
    return {
        "e2e_s": round(sum(times.values()), 4),
        "e2e_median_s": round(statistics.median(sum(t.values()) for t, _ in runs), 4),
        **{f"{phase}_s": round(times[phase], 4) for phase in PHASES},
        "reps": n_reps,
        **counters,
    }


def _totals(out: dict[str, dict]) -> dict:
    timed = [r for r in out.values() if "e2e_s" in r]
    tot = {f"{k}_s": round(sum(r[f"{k}_s"] for r in timed), 3) for k in ("e2e", *PHASES)}
    for phase in PHASES:
        tot[f"{phase}_jobs"] = sum(r[phase]["jobs"] for r in timed)
    return {"timed": len(timed), "errors": len(out) - len(timed), **tot}


def sweep(argv: list[str]) -> None:
    from perfbench.counters import job_floor_ms

    args = [a for a in argv if not a.startswith("--")]
    sf_dir = args[0] if args else _env_sf_dir()
    reps = int(args[1]) if len(args) > 1 else 3
    only = next((a.split("=", 1)[1].split(",") for a in argv if a.startswith("--only=")), None)

    load_start = os.getloadavg()
    spark, ops = _session(sf_dir)
    prof = _Profiler(spark, sf_dir)
    floor_start = job_floor_ms(spark)

    names = [n for n in sorted(ops) if only is None or n in only]
    out: dict[str, dict] = {}
    for i, name in enumerate(names):
        spark.sparkContext.setJobDescription(f"op_profile:{name}")
        try:
            rec = _profile_op(prof, ops[name], reps)
            _log(
                f"[{i + 1}/{len(names)}] {name}: e2e {rec['e2e_s']:.3f}s = build "
                f"{rec['build_s']:.3f} + plan {rec['plan_s']:.3f} + exec {rec['exec_s']:.3f}"
            )
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            rec = {"err": f"{type(e).__name__}: {e}"[:200]}
            _log(f"[{i + 1}/{len(names)}] {name}: {traceback.format_exc()}")
        out[name] = rec
        spark.sparkContext.setJobDescription(None)

    header = {
        "sf_dir": sf_dir,
        "reps": reps,
        "cores": spark.sparkContext.defaultParallelism,
        "job_floor_ms_start": round(floor_start, 2),
        "job_floor_ms_end": round(job_floor_ms(spark), 2),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
    }
    json.dump({"header": header, "totals": _totals(out), "ops": out}, sys.stdout, indent=1)
    print()


def explain(names: list[str]) -> None:
    sf_dir = _env_sf_dir()
    spark, ops = _session(sf_dir)
    for name in names:
        df = ops[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        print(f"== {name} ==\n{plan}")


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else None
    if mode == "sweep":
        sweep(sys.argv[2:])
    elif mode == "explain":
        explain(sys.argv[2:])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
    # Exit hard: the transformWithState ops' state server can leave
    # non-daemon threads behind, and a plain return would then hang the
    # process after all output is written.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)
