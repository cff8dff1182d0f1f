#!/usr/bin/env python
"""Executor-loss fault injection (round 11f): at 1000 executors,
executors die as a matter of course — the 100 TB story is incomplete
until a query has actually LOST one mid-flight and finished with the
right answer. This script SIGKILLs a live executor JVM in the middle
of real queries on the 2-worker standalone cluster and checks the
results against healthy-run fingerprints.

Four cases, two expected outcomes each — the point is that BOTH
recovery AND designed failure are measured, not assumed:

  A op39 star join at REP×, kill at ~40% of the healthy wall.
    Lineage is pure SQL over parquet + warm cache: Spark reschedules
    the dead executor's tasks, refetches/recomputes lost shuffle map
    outputs, recomputes lost CACHE blocks from the parquet lineage
    (the in-memory cache is self-healing), and the master relaunches
    a replacement executor. Expect: completes, fingerprint identical.
  B op114 Q3 top-10, same protocol. Expect: identical.
  C iterate_to_fixpoint in DEFAULT (localCheckpoint) mode over a
    synthetic chain graph, executor killed deterministically at
    iteration 3 (driver-side, inside the step). localCheckpoint
    truncates lineage and keeps the blocks ON the executors — the
    dead executor's state blocks are unrecoverable BY DESIGN.
    Expect: the job FAILS LOUDLY (this is the measured cost of the
    fast mode, not a bug — and why reliable=True exists).
  D the same loop with reliable=True (directory-backed checkpoint;
    the checkpoint dir stands in for HDFS/S3), same kill. Expect:
    completes, fixpoint fingerprint identical to a single-JVM
    local[16] reference.

Usage: python scripts/cluster_faultkill.py [REP]   (default 30;
       dataset from stress_scale — run it with --keep first, or let
       this script build it)
Emits a markdown table + one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cluster_smoke import (  # noqa: E402
    MASTER_URL,
    SHUFFLE_SERVICE_PORT,
    fingerprint_tuple,
    start_cluster,
    stop_cluster,
    wait_for_cores,
)
from stress_scale import ensure_dataset  # noqa: E402

CHAIN_GROUPS = 200_000  # parallel chains of length 8 → ~8 iterations
CHAIN_LEN = 8
KILL_AT_ITER = 3


def executor_pids() -> set[int]:
    out = subprocess.run(
        ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
        capture_output=True, text=True,
    )
    return {int(p) for p in out.stdout.split()}


def kill_one_executor(
    tag: str, candidates: set[int], holder: dict
) -> None:
    """SIGKILL one executor FROM THE GIVEN SET (the pids observed on
    THIS cluster after session start — a global pgrep could murder an
    unrelated app's executor, review finding) and record the victim in
    `holder`. Recording is what keeps the verdict honest: a case whose
    kill never landed must read NO-KILL, not pass vacuously."""
    pids = executor_pids() & candidates
    if not pids:
        print(f"  [{tag}] no candidate executor to kill!", file=sys.stderr)
        return
    victim = min(pids)
    os.kill(victim, signal.SIGKILL)
    holder["pid"] = victim
    print(f"  [{tag}] SIGKILLed executor pid {victim} "
          f"({len(pids)} candidates alive)", file=sys.stderr)


def cluster_session(name: str, cores: int = 8, shuffle_service: bool = False):
    from ocdb_server_spark.session import get_spark

    extra = {
        "spark.executor.memory": "6g",
        "spark.executor.cores": str(cores),
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(
            [REPO, os.path.join(REPO, "vendor")]
        ),
    }
    if shuffle_service:
        extra.update({
            "spark.shuffle.service.enabled": "true",
            "spark.shuffle.service.port": str(SHUFFLE_SERVICE_PORT),
        })
    spark = get_spark(
        app_name=name,
        master=MASTER_URL,
        shuffle_partitions=16,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    wait_for_cores(spark, 16)
    return spark


def run_query_case(
    op_name: str,
    data: str,
    n_workers: int = 2,
    shuffle_service: bool = False,
    label: str | None = None,
) -> dict:
    """Cases A/B (and the phase-2 shuffle-service A/B pair): healthy
    run for wall + fingerprint, then a fresh execution with an
    executor killed at ~40% of the healthy wall.

    Phase 2 runs 1 worker × 16 cores so exactly one external shuffle
    service owns the host's port (the service is per-HOST in real
    deployments): killing the ONLY executor then separates the two
    recovery paths cleanly — without the service every map output
    dies with the executor JVM that serves them; with it the worker
    keeps serving the files and only the in-flight tasks reschedule."""
    from ocdb_server_spark import io as eio
    from ocdb_server_spark.registry import load_all, release_pool

    label = label or op_name
    cores = 16 // n_workers
    procs, wds = start_cluster(
        n_workers=n_workers, cores=cores, shuffle_service=shuffle_service
    )
    try:
        spark = cluster_session(
            f"faultkill_{label}", cores=cores, shuffle_service=shuffle_service
        )
        ops = load_all()
        eio.clear_cache()
        eio.warm_cache(spark, data)
        fn = ops[op_name].fn
        fn(spark, data).toArrow()  # codegen warm
        t0 = time.perf_counter()
        healthy_fp = fingerprint_tuple(fn(spark, data))
        wall = time.perf_counter() - t0

        # Candidates recorded NOW: only this cluster's executors are
        # eligible victims (review finding — a global pgrep could hit
        # an unrelated app), and the holder makes the verdict require
        # that a kill actually LANDED before the result came back.
        candidates = executor_pids()
        holder: dict = {}
        df = fn(spark, data)
        timer = threading.Timer(
            max(0.2, 0.4 * wall),
            kill_one_executor,
            args=(label, candidates, holder),
        )
        timer.start()
        t0 = time.perf_counter()
        try:
            fault_fp = fingerprint_tuple(df)
            if "pid" not in holder:
                outcome = (
                    "NO-KILL (query finished before the timer / no "
                    "candidate executor) — protocol failure, not a pass"
                )
            elif fault_fp == healthy_fp:
                outcome = "recovered-identical"
            else:
                outcome = f"WRONG RESULT {fault_fp} vs {healthy_fp}"
        except Exception as e:  # noqa: BLE001 — record, don't crash the suite
            outcome = f"FAILED: {type(e).__name__}"
        fault_wall = time.perf_counter() - t0
        timer.cancel()
        eio.clear_cache()
        release_pool()
        spark.stop()
        time.sleep(2)
    finally:
        stop_cluster(procs, wds)
    return {
        "case": label,
        "healthy_sec": round(wall, 2),
        "fault_sec": round(fault_wall, 2),
        "outcome": outcome,
    }


def _chain_edges(spark):
    from pyspark.sql import functions as F

    n = CHAIN_GROUPS * CHAIN_LEN
    return (
        spark.range(n)
        .filter(F.col("id") % CHAIN_LEN != CHAIN_LEN - 1)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )


def _cc_agg_fingerprint(comp) -> tuple:
    """Distributed value-sensitive fingerprint of a (id, component)
    frame — 1.6M rows never hit the driver."""
    from pyspark.sql import functions as F

    row = comp.agg(
        F.count("*").alias("n"),
        F.countDistinct("component").alias("k"),
        F.sum(F.hash("id", "component").cast("long")).alias("h"),
    ).collect()[0]
    return (row.n, row.k, int(row.h))


def run_fixpoint_case(reliable: bool, reference: tuple) -> dict:
    """Cases C/D: connected components over the chain graph with the
    executor killed inside iteration KILL_AT_ITER."""
    from ocdb_server_spark.functions.iterate import iterate_to_fixpoint
    from pyspark.sql import functions as F

    tag = "cc-reliable" if reliable else "cc-local"
    ckpt = None
    procs, wds = start_cluster()
    try:
        spark = cluster_session(f"faultkill_{tag}")
        if reliable:
            ckpt = tempfile.mkdtemp(prefix="ocdb_faultkill_ckpt_")
            spark.sparkContext.setCheckpointDir(ckpt)
        edges = _chain_edges(spark)
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        sym = (
            sym.checkpoint(eager=True) if reliable else sym.localCheckpoint()
        )
        labels0 = sym.select(F.col("src").alias("id")).distinct().withColumn(
            "component", F.col("id")
        )
        candidates = executor_pids()
        holder: dict = {}
        it = {"n": 0}

        def step(labels):
            it["n"] += 1
            if it["n"] == KILL_AT_ITER:
                kill_one_executor(tag, candidates, holder)
            nm = (
                sym.join(labels, sym["dst"] == labels["id"])
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("component").alias("nc"))
            )
            return labels.join(nm, "id", "left").select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nc", "component")
                ).alias("component"),
            )

        t0 = time.perf_counter()
        try:
            fix = iterate_to_fixpoint(
                labels0, step, max_iter=2 * CHAIN_LEN, reliable=reliable,
                what=tag,
            )
            fp = _cc_agg_fingerprint(fix)
            if "pid" not in holder:
                outcome = "NO-KILL — protocol failure, not a pass"
            elif fp == reference:
                outcome = "recovered-identical"
            else:
                outcome = f"WRONG RESULT {fp} vs {reference}"
        except Exception as e:  # noqa: BLE001
            outcome = f"FAILED: {type(e).__name__}"
        wall = time.perf_counter() - t0
        spark.stop()
        time.sleep(2)
    finally:
        stop_cluster(procs, wds)
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
    return {
        "case": tag,
        "iterations_before_kill": KILL_AT_ITER,
        "fault_sec": round(wall, 2),
        "outcome": outcome,
    }


def chain_reference() -> tuple:
    """Single-JVM local[16] fixpoint fingerprint for the chain graph."""
    from ocdb_server_spark.operators.graph import connected_components
    from ocdb_server_spark.session import get_spark

    spark = get_spark(
        app_name="faultkill_ref", master="local[16]", shuffle_partitions=16
    )
    spark.sparkContext.setLogLevel("ERROR")
    fix = connected_components(_chain_edges(spark), max_iter=2 * CHAIN_LEN)
    ref = _cc_agg_fingerprint(fix.select("id", "component"))
    spark.stop()
    time.sleep(2)
    return ref


def _rep_arg(default: int = 30) -> int:
    """Positional REP, defaulting to 30 — the regime BASELINE's fault
    rounds document (stress_scale's parse_args defaults to 10, which
    silently measured the wrong regime for a bare invocation —
    review finding)."""
    positional = [a for a in sys.argv[1:] if not a.startswith("-")]
    return int(positional[0]) if positional else default


def main() -> int:
    from ocdb_server_spark.session import get_spark

    rep = _rep_arg()
    spark = get_spark(app_name="faultkill_build")
    spark.sparkContext.setLogLevel("ERROR")
    data = ensure_dataset(spark, rep)
    spark.stop()
    time.sleep(2)

    results = [
        run_query_case("op39_join_multiway_star", data),
        run_query_case("op114_join_topk_revenue", data),
    ]
    ref = chain_reference()
    results.append(run_fixpoint_case(reliable=False, reference=ref))
    results.append(run_fixpoint_case(reliable=True, reference=ref))
    # Phase 2: the executor-churn mitigation. Same kill, 1 worker x
    # 16 cores (one shuffle service per host), with vs without the
    # external shuffle service — both must recover identically; the
    # service run should recover cheaper (map outputs survive, no
    # map-stage recompute).
    results.append(run_query_case(
        "op39_join_multiway_star", data, n_workers=1,
        shuffle_service=False, label="op39-1w-noservice",
    ))
    results.append(run_query_case(
        "op39_join_multiway_star", data, n_workers=1,
        shuffle_service=True, label="op39-1w-service",
    ))

    expected = {
        "op39_join_multiway_star": "recovered-identical",
        "op114_join_topk_revenue": "recovered-identical",
        "cc-local": "FAILED",      # prefix match: designed unrecoverability
        "cc-reliable": "recovered-identical",
        "op39-1w-noservice": "recovered-identical",
        "op39-1w-service": "recovered-identical",
    }
    print("| case | outcome | expected | verdict |")
    print("|---|---|---|---|")
    ok = True
    for r in results:
        want = expected[r["case"]]
        got = r["outcome"]
        hit = got.startswith(want)
        ok &= hit
        print(f"| {r['case']} | {got} | {want}* "
              f"| {'as designed' if hit else 'UNEXPECTED'} |")
    print(json.dumps({
        "metric": "cluster_faultkill",
        "rep": rep,
        "all_as_designed": ok,
        "cases": results,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
