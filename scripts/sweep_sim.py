#!/usr/bin/env python
"""Simulate the driver's correctness sweep to measure budget fit.

Round 1's sweep certified only 50/113 operators before running out of
wall-clock (VERDICT.md "What's wrong" #1). This script reproduces the
sweep's conditions as closely as we can observe them:

- a BARE SparkSession (stock confs; load_table's _tune_bare_session is
  expected to drop shuffle partitions 200 -> 8 and enable AQE),
- sf0.01 testdata,
- every `queries()` entry executed via .toPandas(),
- every `oracle_sql()` entry executed in DuckDB via .arrow(),
- a pandas sort-by-all-columns canonicalization pass (the step whose
  cost/crashes showed up in CORRECTNESS_r01.json tracebacks).

Prints per-op wall seconds (slowest first) and the total, so slow
outliers can be fixed before the real gate runs.

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


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--dump-costs"]
    dump_costs = "--dump-costs" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"

    t_start = time.perf_counter()
    # Bare session: exactly what the driver builds (no engine confs).
    spark = (
        SparkSession.builder.appName("sweep_sim")
        .master("local[32]")
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

    # Warm-up: the FIRST timed op used to absorb the session's one-time
    # costs (py4j bring-up, bare-session tuning, parquet footer cache) —
    # the r14 dump recorded op03 at 4.6 s vs ~1 s warmed, which skews
    # the cheapest-first ordering the dump exists to feed. One throwaway
    # scan amortizes that before any measurement starts.
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

        # Guardrails (round-3 ADVICE): costs drive the registry's
        # sweep order, which assumes sf0.01 wall seconds. Refuse to
        # overwrite with timings measured at another scale factor, and
        # never record a failed op's (possibly near-zero) timing —
        # keep its previous measurement if one exists.
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
    print(f"setup: {t_setup:.1f}s  queries: {total:.1f}s  "
          f"grand: {t_setup + total:.1f}s  n={len(timings)}")
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
    # Exit hard: once the registry includes transformWithStateInPandas
    # ops, their state-server leaves non-daemon threads behind and a
    # plain return hangs the process after all output is written
    # (observed twice this round). Everything is flushed by now.
    import sys

    sys.stdout.flush()
    sys.stderr.flush()
    import os

    os._exit(0)
