"""scripts/plan_audit.py flags: each finding comes from one node line of
the executed plan's text."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts"))

from plan_audit import flags, flags_cell, py_nodes  # noqa: E402

from ocdb_server_spark.registry import load_all  # noqa: E402

# a keyless sketch aggregate above a keyed aggregate without a sketch
KEYLESS_SKETCH_OVER_KEYED = """\
HashAggregate(keys=[], functions=[approx_count_distinct(l_partkey#1L, 0.01, 0, 0)], output=[n#5L])
+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=10]
   +- HashAggregate(keys=[], functions=[partial_approx_count_distinct(l_partkey#1L, 0.01, 0, 0)], output=[MS[0]#7L])
      +- HashAggregate(keys=[l_partkey#1L], functions=[], output=[l_partkey#1L])
         +- Exchange hashpartitioning(l_partkey#1L, 8), ENSURE_REQUIREMENTS, [plan_id=9]
            +- HashAggregate(keys=[l_partkey#1L], functions=[partial_count(1)], output=[l_partkey#1L, count#8L])
               +- InMemoryTableScan [l_partkey#1L]
"""

KEYED_SKETCH = """\
ObjectHashAggregate(keys=[event_type#2], functions=[hll_sketch_agg(user_id#1L, 12, 0, 0)], output=[event_type#2, sk#4])
+- Exchange hashpartitioning(event_type#2, 8), ENSURE_REQUIREMENTS, [plan_id=3]
   +- ObjectHashAggregate(keys=[event_type#2], functions=[partial_hll_sketch_agg(user_id#1L, 12, 0, 0)], output=[event_type#2, buf#3])
      +- InMemoryTableScan [event_type#2, user_id#1L]
"""

DISTINCT_EXPAND = """\
HashAggregate(keys=[a#1, b#2, gid#9], functions=[], output=[a#1, b#2, gid#9])
+- Expand [[a#5, null, 1], [null, b#6, 2]], [a#1, b#2, gid#9]
   +- InMemoryTableScan [a#5, b#6]
"""

ROLLUP_EXPAND = """\
HashAggregate(keys=[a#1, b#2, spark_grouping_id#9L], functions=[count(1)], output=[a#1, b#2, n#10L])
+- Expand [[a#5, b#6, 0], [a#5, null, 1], [null, null, 3]], [a#1, b#2, spark_grouping_id#9L]
   +- InMemoryTableScan [a#5, b#6]
"""

# a grouped Arrow stage over a keyed shuffle (applyInArrow)
GROUPED_ARROW_STAGE = """\
FlatMapGroupsInArrow [event_type#3], _holt(event_type#3, t#46L, y#57L)#58, [event_type#59, level#60L, trend#61L]
+- Sort [event_type#3 ASC NULLS FIRST], false, 0
   +- Exchange hashpartitioning(event_type#3, 8), ENSURE_REQUIREMENTS, [plan_id=80]
      +- MapInPandas f(t#1L)#4, [t#1L], false
         +- InMemoryTableScan [event_type#3, t#1L]
"""


# three keyed shuffles over two round-robin repartition(n) shuffles
ROUND_ROBIN_SHUFFLES = """\
HashAggregate(keys=[lang#4], functions=[count(1)], output=[lang#4, n#9L])
+- Exchange hashpartitioning(lang#4, 8), ENSURE_REQUIREMENTS, [plan_id=50]
   +- HashAggregate(keys=[lang#4], functions=[partial_count(1)], output=[lang#4, count#8L])
      +- SortMergeJoin [doc_id#1L], [doc_id#5L], Inner
         :- Exchange hashpartitioning(doc_id#1L, 8), ENSURE_REQUIREMENTS, [plan_id=45]
         :  +- Exchange RoundRobinPartitioning(8), REPARTITION_BY_NUM, [plan_id=44]
         :     +- InMemoryTableScan [doc_id#1L, lang#4]
         +- Exchange hashpartitioning(doc_id#5L, 8), ENSURE_REQUIREMENTS, [plan_id=47]
            +- Exchange RoundRobinPartitioning(8), REPARTITION_BY_NUM, [plan_id=46]
               +- InMemoryTableScan [doc_id#5L]
"""


def test_round_robin_exchanges_count_as_shuffles():
    assert flags(ROUND_ROBIN_SHUFFLES) == ["5-shuffles"]


def test_python_nodes_include_grouped_arrow_stages():
    assert py_nodes(GROUPED_ARROW_STAGE) == 2
    assert py_nodes(KEYED_SKETCH) == 0


def test_keyless_sketch_does_not_blame_the_next_aggregate():
    assert flags(KEYLESS_SKETCH_OVER_KEYED) == []


def test_keyed_sketch_is_flagged():
    assert flags(KEYED_SKETCH) == ["keyed-sketch"]


def test_only_the_distinct_rewrite_expand_is_flagged():
    assert flags(DISTINCT_EXPAND) == ["expand-distinct"]
    assert flags(ROLLUP_EXPAND) == []


def test_expected_note_prints_with_or_without_flags():
    assert flags_cell([], "one grouped stage") == "expected: one grouped stage"
    assert flags_cell(["cartesian"], "K_n") == "cartesian — expected: K_n"
    assert flags_cell(["5-shuffles", "global-sort"], None) == "5-shuffles, global-sort"
    assert flags_cell([], None) == ""


def test_flags_on_real_plans(spark, sf_dir):
    ops = load_all()

    def plan(name: str) -> str:
        return ops[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    assert "keyed-sketch" in flags(plan("op26_agg_percentile_exact"))
    assert "expand-distinct" in flags(plan("op97_profile_columns"))
    # op20 counts distinct keys first, then sketches without keys
    assert not {"keyed-sketch", "expand-distinct"} & set(flags(plan("op20_agg_approx_count_distinct")))
