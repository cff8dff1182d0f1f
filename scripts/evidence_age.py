#!/usr/bin/env python3
"""Generate EVIDENCE_AGE.md: per-op latest-green driver-evidence round.

States once per round which ops carry stale driver evidence: for every
registered op, the round of its LATEST green driver row (the same fold
as evidence.sweep_order, via evidence.certified_rounds), its oracle
kind, and the age histogram on top.

Usage: python scripts/evidence_age.py > EVIDENCE_AGE.md
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocdb_server_spark.evidence import ROOT, certified_rounds  # noqa: E402
from ocdb_server_spark.registry import load_all  # noqa: E402


def main() -> None:
    ops = load_all()
    certified = certified_rounds(ROOT, ops)
    hist = Counter(certified.get(name, 0) for name in ops)
    print("# EVIDENCE_AGE — per-op latest-green driver round")
    print()
    print("Generated by `scripts/evidence_age.py` from CORRECTNESS_r*.json")
    print("(green = latest row passed: hash-match for SQL-oracled ops, the")
    print("designed rows-ran check for ROWS ops). `r0` = no green driver row")
    print("yet: new this round, latest row failed, or the op's oracle was")
    print("upgraded since its last rows-only green (the hash gate has never")
    print("run for it), or its checker or plan changed since. The sweep")
    print("order (evidence.sweep_order) certifies r0 first, then stalest round.")
    print()
    print("Histogram (round → ops whose latest green evidence is that round):")
    parts = [f"r{r}: {n}" for r, n in sorted(hist.items())]
    print("  " + ", ".join(parts))
    print()
    print("| op | oracle | latest green |")
    print("|---|---|---|")
    for name in sorted(ops):
        kind = "SQL" if ops[name].oracle is not None else "ROWS"
        rnd = certified.get(name, 0)
        print(f"| {name} | {kind} | {'r' + str(rnd) if rnd else '—'} |")


if __name__ == "__main__":
    main()
