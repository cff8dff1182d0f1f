#!/usr/bin/env python
"""Capture `.explain("formatted")` for named ops into plans/<round>/.

Usage: python scripts/explain.py <round> <suffix> op17_agg_groupby [op42_...]
Writes plans/<round>/<op>_<suffix>.txt for each op (suffix: before/after).
Captured on the bench session (interactive profile, warm sf0.1 cache)
so the plans match what bench.py actually executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rnd, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from ocdb_server_spark.io import warm_cache
    from ocdb_server_spark.registry import load_all
    from ocdb_server_spark.session import get_spark

    spark = get_spark(app_name=f"explain_{rnd}", profile="interactive")
    spark.sparkContext.setLogLevel("ERROR")
    ops = load_all()
    warm_cache(spark, sf_dir)

    dest_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(dest_dir, exist_ok=True)
    for name in names:
        df = ops[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(dest_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
