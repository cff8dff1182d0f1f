#!/usr/bin/env python
"""Simulate the driver's correctness sweep to measure budget fit.

The correctness sweep certifies operators inside a wall-clock budget
(VERDICT.md "What's wrong" #1). This script reproduces the sweep's
conditions as closely as we can observe them:

- a BARE SparkSession (stock confs; its first load_table adopts the
  engine's stance through session.adopt: 8 shuffle partitions, AQE,
  UTC, and Python workers from the engine daemon),
- sf0.01 testdata,
- every `queries()` entry executed via .toPandas(),
- every `oracle_sql()` entry executed in DuckDB via .arrow(),
- a pandas sort-by-all-columns canonicalization pass (the step whose
  cost/crashes showed up in CORRECTNESS_r01.json tracebacks).

Prints per-op wall seconds (slowest first) and the totals, so slow
outliers can be fixed before the real gate runs. Beside the totals it
prints the sum over the Python-stage ops (the ops whose row in
SCALE_AUDIT.md counts a Python-eval node) and the box's cores and
loadavg at start and end, so a record says whether the box was loaded.

Usage: python scripts/sweep_sim.py [sf_dir] [--dump-costs]

--dump-costs writes the measured per-op seconds to
ocdb_server_spark/op_costs.json, which evidence.sweep_order uses to
run never-certified ops cheapest-first inside the driver's budget.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession


def canon(pdf):
    """Approximation of the driver's _canon: name-sorted columns,
    lexicographic row sort, string-normalized cells."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].astype(object).where(pdf[cols].notna(), None)
    pdf = pdf.map(repr)
    return pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def _load(cpus: int) -> str:
    one, five, fifteen = os.getloadavg()
    return (f"cores={os.cpu_count()} master=local[{cpus}] "
            f"loadavg={one:.2f}/{five:.2f}/{fifteen:.2f}")


def _python_stage_ops() -> set[str]:
    """Ops whose SCALE_AUDIT.md row has a Python-eval node (pyudf > 0)."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_AUDIT.md",
    )
    ops = set()
    with open(path) as f:
        for line in f:
            cells = [c.strip() for c in line.split("|")]
            if len(cells) > 7 and cells[1].startswith("op") and cells[7].isdigit():
                if int(cells[7]) > 0:
                    ops.add(cells[1])
    return ops


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--dump-costs"]
    dump_costs = "--dump-costs" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"

    t_start = time.perf_counter()
    # Bare session: exactly what the driver builds (no engine confs),
    # on the box's cores (SPARK_GRAFT_CPUS, as get_spark reads it).
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    load_start = _load(cpus)
    spark = (
        SparkSession.builder.appName("sweep_sim")
        .master(f"local[{cpus}]")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    t_setup = time.perf_counter() - t_start

    # Warm-up: without it the FIRST timed op absorbs the session's
    # one-time costs (py4j bring-up, parquet footer cache; 4.6 s vs ~1 s
    # warmed for op03), which skews the cheapest-first ordering the dump
    # feeds. One throwaway scan amortizes that before any measurement
    # starts; it does not go through load_table, so the first op still
    # adopts the session.
    try:
        spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    except Exception:
        pass  # warm-up must never break the sweep

    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name, fn in queries.items():
        t0 = time.perf_counter()
        try:
            spdf = fn(spark, sf_dir).toPandas()
            if name in oracles:
                dpdf = con.execute(oracles[name]).arrow().to_pandas()
                sc, dc = canon(spdf), canon(dpdf)
                if len(sc) != len(dc):
                    failures[name] = f"rows {len(sc)} vs {len(dc)}"
                elif list(sc.columns) != list(dc.columns):
                    failures[name] = f"cols {list(sc.columns)} vs {list(dc.columns)}"
                elif not sc.equals(dc):
                    diff = (sc != dc).any(axis=1).sum()
                    failures[name] = f"{diff} differing canon rows"
            else:
                canon(spdf)  # rows-only ops still get canonicalized
        except Exception as exc:  # noqa: BLE001 - report, keep sweeping
            failures[name] = f"{type(exc).__name__}: {exc}"
        timings[name] = time.perf_counter() - t0

    if dump_costs:
        import json

        # Guardrails: costs drive the registry's sweep order, which
        # assumes sf0.01 wall seconds. Refuse to overwrite with timings
        # measured at another scale factor, and never record a failed
        # op's (possibly near-zero) timing — keep its previous
        # measurement if one exists.
        if os.path.basename(sf_dir.rstrip("/")) != "sf0.01":
            print(f"refusing --dump-costs: sf_dir {sf_dir!r} is not sf0.01 "
                  "(sweep-order costs must be sf0.01 wall seconds)")
        else:
            path = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "ocdb_server_spark",
                "op_costs.json",
            )
            prev: dict[str, float] = {}
            try:
                with open(path) as f:
                    prev = json.load(f)
            except Exception:
                pass
            merged = dict(prev)
            merged.update(
                {k: round(v, 3) for k, v in timings.items() if k not in failures}
            )
            with open(path, "w") as f:
                json.dump(merged, f, indent=1)
            print(f"wrote {path} ({len(failures)} failed ops kept stale/absent)")

    total = sum(timings.values())
    py_ops = _python_stage_ops() & set(timings)
    print(f"load start: {load_start}")
    print(f"load end:   {_load(cpus)}")
    print(f"setup: {t_setup:.1f}s  queries: {total:.1f}s  "
          f"grand: {t_setup + total:.1f}s  n={len(timings)}  "
          f"errors={len(failures)}")
    print(f"python-stage ops: {sum(timings[k] for k in py_ops):.1f}s  "
          f"n={len(py_ops)}")
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        print(f"{sec:8.2f}s  {name}")
    if failures:
        print("\nFAILURES (driver-sim canon — representational diffs are "
              "expected to be caught by test_oracle, so anything here is real):")
        for name, msg in failures.items():
            print(f"  {name}: {msg[:300]}")
    else:
        print("\nno canon failures")


if __name__ == "__main__":
    main()
    # Exit hard: the transformWithState ops' state server can leave
    # non-daemon threads behind, and a plain return would then hang the
    # process after all output is written. Everything is flushed by now.
    import sys

    sys.stdout.flush()
    sys.stderr.flush()
    import os

    os._exit(0)
