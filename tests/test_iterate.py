"""functions/iterate.py — the general unbounded-recursion surface
(round-10 verdict "what's missing" item 2). Pins: default any-diff
probe convergence, telemetry shape, loud exhaustion, and that
connected_components through the helper still produces the exact
min-label fixpoint (with telemetry exposed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocdb_server_spark.functions.iterate import (
    any_row_differs,
    iterate_to_fixpoint,
)
from ocdb_server_spark.operators.graph import connected_components


def _chain_edges(spark, n):
    """0-1-2-...-n chain: min-label propagation needs ~n iterations —
    the diameter-bound shape."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )


def test_default_probe_converges_min_propagation(spark):
    """Generic exceptAll probe on a toy min-propagation over a chain:
    converges to all-zeros labels in ~diameter iterations."""
    edges = _chain_edges(spark, 5).localCheckpoint()
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels0 = sym.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )

    def step(labels):
        nm = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nc"))
        )
        return labels.join(nm, "id", "left").select(
            "id",
            F.least(F.col("component"), F.coalesce("nc", "component")).alias(
                "component"
            ),
        )

    tele = []
    out = iterate_to_fixpoint(labels0, step, telemetry=tele)
    got = {r.id: r.component for r in out.collect()}
    assert got == {i: 0 for i in range(6)}
    # telemetry: one row per iteration, monotone iteration index,
    # last probe result 0, every row carries the three keys
    assert [t["iteration"] for t in tele] == list(range(1, len(tele) + 1))
    assert tele[-1]["changed"] == 0 and all(
        set(t) == {"iteration", "changed", "seconds"} for t in tele
    )
    assert len(tele) >= 3  # a 5-chain can't converge in fewer


def test_exhaustion_raises_loudly(spark):
    edges = _chain_edges(spark, 8)
    with pytest.raises(ValueError, match="no fixpoint after 2"):
        connected_components(edges, max_iter=2)


def test_any_row_differs_probe(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    b = spark.createDataFrame([(1, "x"), (2, "z")], "k long, v string")
    assert any_row_differs(a, a.select("k", "v")) == 0
    assert any_row_differs(a, b) == 1


def test_connected_components_telemetry_and_fixpoint(spark):
    """Two triangles + an isolated edge: exact components, and the
    helper's telemetry shows the convergence trajectory (small-clique
    graphs converge in 2-3 iterations — the docstring's claim)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (20, 21)],
        "src long, dst long",
    )
    tele = []
    out = connected_components(edges, telemetry=tele)
    got = {r.id: r.component for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    assert 2 <= len(tele) <= 3 and tele[-1]["changed"] == 0


def test_reliable_mode_needs_checkpoint_dir_and_matches_local(spark, tmp_path):
    """reliable=True is the executor-loss-survivable durability
    (directory-backed checkpoint instead of executor-resident
    localCheckpoint blocks). Pins: (1) a missing checkpoint dir is a
    clear contract error BEFORE the loop runs, not a mid-loop Py4J
    stack; (2) with a dir set, the fixpoint is identical to the
    default mode — durability is a storage decision, never a result
    decision."""
    sc = spark.sparkContext
    edges = _chain_edges(spark, 6)

    had_dir = sc.getCheckpointDir() is not None
    if not had_dir:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            connected_components(edges, reliable=True).collect()

    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    local_fix = {
        (r.id, r.component)
        for r in connected_components(edges, reliable=False).collect()
    }
    reliable_fix = {
        (r.id, r.component)
        for r in connected_components(edges, reliable=True).collect()
    }
    assert reliable_fix == local_fix == {(i, 0) for i in range(7)}


def test_reliable_without_checkpoint_is_a_contract_error(spark):
    """reliable=True with checkpoint=False would silently run with no
    lineage truncation at all — neither the promised durability nor
    bounded plans. It must refuse up front."""
    edges = _chain_edges(spark, 3)
    with pytest.raises(ValueError, match="requires checkpoint=True"):
        iterate_to_fixpoint(
            edges, lambda df: df, checkpoint=False, reliable=True
        )


def test_reliable_mode_gcs_superseded_checkpoints(spark, tmp_path):
    """Round-11 ADVICE: reliable=True used to leave every iteration's
    checkpoint on shared storage for the app's lifetime (Spark only
    deletes them on context GC with cleanCheckpoints=true, default
    false) — state-size × iterations growth at exactly the
    1000-executor scale the mode exists for. Pins: after a multi-
    iteration reliable fixpoint, the checkpoint dir holds only the
    LIVE generation (+ the caller's loop-invariant checkpoint), and
    the returned frame is still readable — GC never deletes a
    generation before its last reader (the convergence probe) ran."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "gc_ckpt"))
    edges = _chain_edges(spark, 6)  # diameter 6 → ≥4 iterations
    tele = []
    out = connected_components(edges, reliable=True, telemetry=tele)
    got = {r.id: r.component for r in out.collect()}  # read AFTER gc
    assert got == {i: 0 for i in range(7)}
    assert len(tele) >= 4
    # getCheckpointDir() is the UUID-suffixed app dir; rdd-* dirs live
    # directly inside. Survivors: the final state generation + the one
    # loop-invariant (symmetrized edges) connected_components
    # checkpoints outside the loop — NOT one per iteration.
    jvm = sc._jvm
    p = jvm.org.apache.hadoop.fs.Path(sc.getCheckpointDir())
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    rdd_dirs = [
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.getPath().getName().startswith("rdd-")
    ]
    # 1 + iterations+1 generations were written; ≤2 survive
    assert len(rdd_dirs) <= 2, rdd_dirs


def test_gc_failed_listing_attributes_nothing(spark, tmp_path):
    """A transient FS failure during snapshot() must NOT attribute
    pre-existing dirs (e.g. a caller's loop-invariant checkpoint) to
    the new generation — that would let a later advance() delete live
    checkpoint files. A failed listing (None) degrades to keeping the
    generation forever, never to over-attribution."""
    from ocdb_server_spark.functions.iterate import _ReliableCkptGC

    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "gc_fail_ckpt"))
    df = spark.range(3).toDF("id")
    gc = _ReliableCkptGC(df)

    # a pre-existing dir that a conflating GC would misattribute
    pre = tmp_path / "gc_fail_ckpt"
    [appdir] = list(pre.iterdir()) if pre.exists() else [pre]
    victim = appdir / "rdd-preexisting"
    victim.mkdir(parents=True, exist_ok=True)
    (victim / "part-0").write_text("live")

    # snapshot FAILS (simulated), record sees the full listing
    gc.record(None)          # before=None → must attribute nothing
    assert gc._pending == set()
    gc.advance()             # promotes pending (empty) → live empty
    gc.advance()             # would delete misattributed dirs if any
    assert (victim / "part-0").read_text() == "live"

    # and the healthy path still tracks a genuine new generation
    before = gc.snapshot()
    assert before is not None and any("rdd-preexisting" in d for d in before)
    newdir = appdir / "rdd-new-generation"
    newdir.mkdir()
    gc.record(before)
    assert {d for d in gc._pending} and all(
        "rdd-new-generation" in d for d in gc._pending
    )


def test_shrinking_step_iterates_to_true_fixpoint(spark):
    """Round-12 review: new.exceptAll(old) alone is one-directional —
    a step that only REMOVES rows left it empty and the loop returned
    a non-fixpoint after one iteration. The default probe must treat
    multiset INEQUALITY in either direction as not-converged."""
    from pyspark.sql import functions as F

    from ocdb_server_spark.functions.iterate import iterate_to_fixpoint

    state = spark.range(4).toDF("id")  # {0,1,2,3}

    def shrink(df):
        # {0..n} -> {0..n-1}; fixpoint is the empty frame
        return df.filter(F.col("id") >= 1).select(
            (F.col("id") - 1).alias("id")
        )

    out = iterate_to_fixpoint(state, shrink, max_iter=10, checkpoint=False)
    assert out.count() == 0  # the TRUE fixpoint, not the first shrink
