"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search|batch --seed N --seconds S --trace 0|1

Run from the repository root. The workload runs in a fresh worker
process (``perfbench/worker.py``) with ``SPARK_GRAFT_CPUS`` set to the
number of usable cores; its inputs are generated from ``--seed`` under
``.perfbench/`` in the root, and everything it writes stays there.

Output: a line ``perfbench-detail {...}`` with the load record, the
per-family times and every failing operation by name, then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}`` holding
the end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``) or its
per-layer metrics (``--trace 1``), each with its unit.

The run fails (non-zero exit, no result line) when the engine is not
beside this directory, the worker fails or overruns, a metric of
``BENCHMARK.json`` is missing, or the run changed a tracked file.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

WORKER_TIMEOUT_S = 150
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+\Z")
# file the registry would rewrite if its fingerprint book were stale
GUARDED = os.path.join("ocdb_server_spark", "oracle_fp.json")


def _tree_state(root: str) -> tuple[str, str]:
    """(``git status --porcelain`` or '' outside git, digest of GUARDED)."""
    status = ""
    if os.path.isdir(os.path.join(root, ".git")):
        status = subprocess.run(
            ["git", "status", "--porcelain"], cwd=root, capture_output=True, text=True, check=True
        ).stdout
    with open(os.path.join(root, GUARDED), "rb") as f:
        return status, hashlib.sha256(f.read()).hexdigest()


def _commit(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_group(pgid: int) -> None:
    """Stop every process left in the worker's group (the JVM and its
    Python workers) and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)
    if _group_pids(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def _select(spec: list[dict], measured: dict) -> dict:
    """The metrics ``spec`` names, each with its unit; a missing metric
    or unit mismatch is an error."""
    out = {}
    for m in spec:
        name = m["name"]
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if name not in measured:
            raise KeyError(f"metric {name} was not measured")
        value, unit = measured[name]
        if unit != m["unit"]:
            raise ValueError(f"metric {name}: unit {unit} != {m['unit']}")
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ocdb_server_spark", "__init__.py")):
        print("perfbench: run from the repository root (ocdb_server_spark/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    state = os.path.join(root, ".perfbench")
    tag = f"{args.workload}-{args.seed}-{args.trace}"
    tmp = os.path.join(state, f"tmp-{tag}")
    shutil.rmtree(tmp, ignore_errors=True)
    for d in (tmp, os.path.join(state, "spark-local")):
        os.makedirs(d, exist_ok=True)
    out_path = os.path.join(state, f"result-{tag}.json")
    log_path = os.path.join(state, f"worker-{tag}.log")
    if os.path.exists(out_path):
        os.remove(out_path)

    before = _tree_state(root)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=root,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY="1g",
        SPARK_LOCAL_DIRS=os.path.join(state, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PERFBENCH_COMMIT=_commit(root),
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--state", state, "--out", out_path,
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    shutil.rmtree(tmp, ignore_errors=True)

    if code != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: worker {why}; log {log_path}:\n{tail}", file=sys.stderr)
        return 1
    after = _tree_state(root)
    if after != before:
        print(
            f"perfbench: the run changed the tree\nbefore:\n{before[0]}{before[1]}\n"
            f"after:\n{after[0]}{after[1]}",
            file=sys.stderr,
        )
        return 3

    with open(out_path) as f:
        res = json.load(f)
    measured = res["e2e"] if args.trace == 0 else {
        k: (v, _unit(k)) for k, v in res["layers"].items()
    }
    metrics = _select(bench["end_to_end"] if args.trace == 0 else bench["per_layer"], measured)
    print("perfbench-detail " + json.dumps(res["detail"], sort_keys=True))
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def _unit(name: str) -> str:
    """Unit of a per-layer metric, read from its name's suffix."""
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    if name.endswith("_per_request") or name.endswith("_per_returned"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
