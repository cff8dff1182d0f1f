#!/usr/bin/env python
"""Generate SCALE_AUDIT.md: a physical-plan inventory for every operator.

For each registered op, build the DataFrame cold (no warm cache, so
parquet scans are visible) and summarize the executed plan:

- scans        : # parquet FileScans
- exch         : # shuffle Exchanges (hashpartitioning / SinglePartition /
                 rangepartitioning / RoundRobinPartitioning)
- bcast        : # BroadcastExchanges (small sides shipped, not shuffled)
- wscg         : # WholeStageCodegen spans (JVM-compiled pipelines)
- win          : # Window operators
- pyudf        : # Python-eval nodes (Batch/ArrowEvalPython, MapIn* and
                 FlatMapGroupsIn* stages, pandas or Arrow)
- pushed       : does at least one scan carry PushedFilters beyond []
- bjobs        : Spark jobs the op launches while it builds, its
                 streams' micro-batch jobs included (metrics.JobGroup).
                 An op that does its work eagerly (a fixpoint, a
                 stream, a sink) shows it here, where the returned
                 plan's columns read nearly free.
- flags        : scale-hostile shapes — CartesianProduct, a global Sort
                 that is not a TakeOrderedAndProject, >4 shuffles,
                 keyed-sketch (an aggregate with grouping keys whose
                 functions carry an approx_count_distinct / percentile /
                 HLL sketch: one wide sketch buffer per key, the shape
                 that cost op20 4.2 s), expand-distinct (the Expand of
                 Catalyst's multi-distinct rewrite, which multiplies
                 input rows by the number of distinct groups)

The point: "designed for 100 TB" should be checkable per operator, not
an essay claim. tests/test_plans.py asserts the load-bearing shapes;
this audit makes the whole inventory greppable.

Usage: python scripts/plan_audit.py [sf_dir] > SCALE_AUDIT.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_EXCH = re.compile(r"Exchange (hash|range|Single|RoundRobin)")
# one aggregate node line of executedPlan().toString():
#   HashAggregate(keys=[k#1], functions=[partial_count(1), ...], output=[...])
_AGG_NODE = re.compile(
    r"(?:Hash|ObjectHash|Sort)Aggregate\(keys?=\[(.*?)\], functions=\[(.*?)\], output="
)
_SKETCH_FN = re.compile(
    r"\b(?:partial_)?(?:approx_count_distinct|approx_percentile|percentile_approx"
    r"|percentile|hll_sketch_agg)\("
)
# RewriteDistinctAggregates tags the rows it expands with a `gid`
# column; ROLLUP/CUBE expands carry `spark_grouping_id` instead
_DISTINCT_EXPAND = re.compile(r"\bExpand \[.*\bgid#\d+")
# Python-eval nodes: row-at-a-time and Arrow UDFs, map and grouped-map stages
_PY_NODE = re.compile(
    r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapGroupsInArrow"
)


def py_nodes(plan: str) -> int:
    """Number of Python-eval nodes in an executed plan's text."""
    return len(_PY_NODE.findall(plan))


def flags(plan: str) -> list[str]:
    """Scale-hostile shapes in an executed plan's text, one match per
    node line so a finding never spans two nodes."""
    out = []
    if "CartesianProduct" in plan:
        out.append("cartesian")
    # a truly global sort materializes `Sort [...] true` outside
    # TakeOrderedAndProject
    if re.search(r"Sort \[[^\]]*\], true", plan) and "TakeOrderedAndProject" not in plan:
        out.append("global-sort")
    exch = len(_EXCH.findall(plan))
    if exch > 4:
        out.append(f"{exch}-shuffles")
    lines = plan.splitlines()
    for line in lines:
        m = _AGG_NODE.search(line)
        if m and m.group(1) and _SKETCH_FN.search(m.group(2)):
            out.append("keyed-sketch")
            break
    if any(_DISTINCT_EXPAND.search(line) for line in lines):
        out.append("expand-distinct")
    return out


def flags_cell(found: list[str], note: str | None) -> str:
    """The flags column: the flags found, then the op's expected-shape
    note, which shows whether or not a flag fires."""
    cell = ", ".join(found)
    if note:
        cell = f"{cell} — expected: {note}" if cell else f"expected: {note}"
    return cell


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from ocdb_server_spark.metrics import JobGroup
    from ocdb_server_spark.registry import load_all
    from ocdb_server_spark.session import get_spark

    # interactive profile: AQE off so the STATIC plan is visible (AQE
    # wraps everything in AdaptiveSparkPlan before first execution).
    spark = get_spark(app_name="plan_audit", profile="interactive")
    spark.sparkContext.setLogLevel("ERROR")
    ops = load_all()

    print("# SCALE_AUDIT — per-operator physical-plan inventory")
    print()
    print(f"Generated by `scripts/plan_audit.py` at `{sf_dir}` (cold plans,")
    print("AQE off so the static shape is visible; at cluster scale AQE")
    print("re-optimizes these same shapes at runtime). Columns: parquet")
    print("scans, shuffle exchanges, broadcast exchanges, WholeStageCodegen")
    print("spans, window operators, Python-eval nodes, filter pushdown")
    print("reached a scan, Spark jobs launched while the op builds (its")
    print("streams' micro-batch jobs included), and scale flags (empty = no")
    print("scale-hostile shape; an op's expected-shape note follows its")
    print("flags).")
    print()
    print("| op | scans | exch | bcast | wscg | win | pyudf | pushed | bjobs | flags |")
    print("|---|---|---|---|---|---|---|---|---|---|")

    # Ops where a nominally-hostile shape is the operator's documented
    # semantics (not a planning accident).
    expected = {
        "op05_sink_parquet_roundtrip": "orderBy on the <=4-row per-partition count result",
        "op89_ngram_jaccard": "ONE MapInArrow pair-count task over the token rows while the corpus fits the task budget; beyond it, the gram-blocked join pipeline (each shuffle carries grams/ids, never text)",
        "op120_tfidf_terms": "tf + df + N + top-k window; df/N sides are tiny and broadcast after their aggs",
        "op19_agg_count_distinct": "three exact COUNT(DISTINCT) over different columns IS the op; Catalyst's standard multi-distinct Expand",
        "op26_agg_percentile_exact": "exact per-key percentile IS the op: one buffer per return flag (3 keys)",
        "op34_join_cross": "cross join IS the op (broadcast nested loop)",
        "op35_join_theta_range": "theta join: broadcast nested loop by design",
        "op50_sort_multikey_nulls": "global sort IS the op",
        "op52_limit_offset_page": "deterministic paging needs the global order",
        "op84_udf_scalar": "UDF surface op",
        "op85_udf_pandas_vectorized": "UDF surface op",
        "op86_udaf_group_zscore": "UDF surface op",
        "op87_udtf_expand": "UDF surface op",
        "op97_profile_columns": "exact COUNT(DISTINCT) on different columns in one scan: the standard Expand x4 of narrow projected rows",
        "op104_multimodal_decode": "mapInArrow decode op",
        "op162_drift_psi": "5 aggs (source×bin, source, bin, total, final); all post-scan sides are #sources×12 rows max, 3 broadcast back",
        "op166_hll_sketch_rollup": "a per-event-type HLL sketch IS the op (a handful of event types)",
        "op183_bm25_topk": "tf + df + corpus-stats aggs + per-doc score agg; every shuffle is pruned to the query-term subset before it moves (at most n_terms rows/doc), df/stats broadcast back",
        "op186_pagerank": "5 unrolled message-passing iterations x (ranks-edges join + dst agg); the loop-invariant graph (edges/nodes/outdeg) is persist()ed and computes ONCE at runtime — the textual count re-prints the cached build subtree under every InMemoryTableScan reference",
        "op191_bigram_logprob": "3 deliberate shuffle-merge model joins (op120's no-vocab-broadcast rule) + bigram/unigram training aggs + the per-doc score agg; every shuffle carries gram keys + int64 counts, O(tokens)",
        "op201_bottomk_quantile_sketch": "per-type percentile buffers over a handful of event types; the merge cut is a window over the UNION OF SKETCHES (#groups x 64 rows — metadata-sized by construction), not over data; per-type cut is hash-partitioned",
        "op192_shingle_containment": "distinct-shingle agg + df-cap + semi-join + pair agg + size manifest joins; every shuffle carries (md5, doc_id) pairs, candidate pairs confined to shared-shingle buckets with df<=100 fanout cap",
        "op175_pmi_collocations": "unigram + bigram counts then 4 vocab-sized aggs; the PMI join itself is broadcast, corpus rows shuffle only into the two counts",
        "op212_kmeans_lloyd": "2 unrolled Lloyd iterations — per iter: one (vec,cid) partial agg, one per-vec window, one (cid,d) update agg; centroids broadcast, the quantized long form is persist()ed so the textual repeats read cache",
        "op213_bfs_reachability": "4 unrolled BFS hops over the COLD plan — each hop's frontier⋈edges + anti-join repeats the lineage textually; at runtime every frontier is persist()ed (the op's recomputation guard), so executed work is one edges-join + anti-join per hop",
        "op216_bpe_train": "3 unrolled merge rounds, each a vocab-sized pair agg + 1-row argmax broadcast — corpus rows shuffle once into the word-frequency table; everything after is ~|vocab| rows",
        "op217_bpe_apply": "op216's 3 unrolled rounds + the vocab-cost broadcast join back to the corpus — same vocab-sized economics",
        "op220_triangle_count": "distinct (part, supplier) rows coalesced and sorted into ONE MapInArrow task computing A·A∘A while the supplier count fits the task budget; beyond it, the co-supply projection (pair self-join + distinct) and the edge-iterator: broadcast-adjacency array_intersect per edge over the persist()ed edge cache",
        "op96_dedup_components": "op89's one-task pair count and ONE MapInArrow union-find, chained in one task with no exchange, while the corpus fits the task budget; beyond it, the gram-blocked pair pipeline (persist()ed capped grams) and the checkpointed min-label fixpoint",
        "op221_neardup_canonicalize": "op96's one-task pair count and union-find (relational pairs and fixpoint beyond the budget), then one window partitioning per cluster for the keep-best rank and the cluster totals",
        "op231_holt_forecast": "spine fill (distinct types × day range broadcast) + counts agg + one grouped Arrow stage keyed on event_type; the recurrence runs inside the per-series task",
        "op235_holt_winters_seasonal": "op231's spine/counts shape and grouped Arrow stage, with the 9-int vector state inside the per-series task",
        "op237_theta_set_ops": "two per-slice distinct+bottom-k cuts feed k-row set math — every shuffle after the cuts carries <=2k signature rows plus the one exact-truth distinct agg the op emits alongside",
        "op241_chi2_independence": "contingency agg + row/col/total marginal aggs (tiny sides broadcast back) + the final <=25-row coalesced sum; cold plan recomputes the persisted contingency per marginal textually; the distinct rewrite is the final dof count over <=25 rows",
        "op245_dataset_card": "four independent 1-row aggregate branches (base stats, token explode, dedup md5, top-lang) each fold to a single row before their broadcast cross-joins; a production datasheet computes multi-branch aggs over one cached scan",
        "op263_rrf_hybrid_topk": "two retrieval legs: BM25's tf/df/stats aggs (op183's pruned-before-shuffle shape) + the dense single-partition rank cut over its TakeOrdered 50 rows; every leg ends <=DEPTH rows before the 50x50 fusion join",
        "op266_rrf_hybrid_serving": "op263's lexical-leg shuffles (BM25 tf/df/stats aggs) + the two 50-row rank cuts; the dense leg itself is shuffle-FREE (broadcast codebook ADC over codes) — the persisted-index swap removes op80's agg, the remaining shuffles all carry <=DEPTH rows",
    }

    for name in ops:
        try:
            with JobGroup(spark, f"audit:{name}") as build:
                df = ops[name].fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            print(f"| {name} | - | - | - | - | - | - | - | - | BUILD ERROR: {type(exc).__name__} |")
            continue
        scans = plan.count("Scan parquet")
        exch = len(_EXCH.findall(plan))
        bcast = plan.count("BroadcastExchange")
        wscg = len(set(re.findall(r"\*\((\d+)\)", plan)))
        win = len(re.findall(r"\bWindow\b", plan))
        pyudf = py_nodes(plan)
        pushed = bool(re.search(r"PushedFilters: \[[^\]]", plan))
        found = flags(plan)
        print(
            f"| {name} | {scans} | {exch} | {bcast} | {wscg} | {win} | "
            f"{pyudf} | {'y' if pushed else '-'} | {len(build.jobs)} | "
            f"{flags_cell(found, expected.get(name))} |"
        )

    print()
    print("## Cost-floor notes (measured, not plan-shape)")
    print()
    print("- **transformWithState ops** (op206, op208, op218, op219,")
    print("  op226): the first TWS query in a session pays a **one-time")
    print("  cold init** (Python state-server handshake + RocksDB provider")
    print("  classloading + stateful-worker spin-up), ~8 s of op218's")
    print("  10.7 s first run at sf0.01; its later runs took **2.8 s**, of")
    print("  which 2.6 s is the availableNow micro-batch machinery")
    print("  (checkpoint + offset log + state commit), not the top-k")
    print("  compute. In a sweep the cold init lands on whichever TWS op")
    print("  runs first, so that op's per-op cost reads high. At")
    print("  production scale both terms amortize: the init is per-")
    print("  session, the micro-batch floor per-trigger.")
    print()
    print("## Eager-side shapes (not visible in the returned plan)")
    print()
    print("- **op261_zstd_seekable_ingest**: the registered entry first")
    print("  runs export_docs_archive — repartition(8) + mapInArrow, i.e.")
    print("  **8 concurrent seekable-zstd write tasks** — as an eager")
    print("  action, then returns the read plan the table row describes")
    print("  (manifest fan-out, payload bytes never shuffle). Write-side")
    print("  parallelism is pinned by tests/test_zstd_seekable.py::")
    print("  test_op261_registered_plan_writes_parallel (>=4 files).")
    print()
    print("- **op265_stream_cdc_apply_changes**: the table")
    print("  row is the FINAL-STORE read (one parquet scan, shuffle-")
    print("  free) — the merge work runs eagerly inside foreachBatch")
    print("  per micro-batch: ONE key-window over the (tiny) batch +")
    print("  ONE full-outer SMJ against the store generation, then an")
    print("  atomic manifest commit (functions/cdc.py:")
    print("  apply_changes_incremental; semantics + replay pinned in")
    print("  tests/test_lakehouse.py, plus in-op asserts).")


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
