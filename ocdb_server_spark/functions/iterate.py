"""Iterate-to-convergence for DataFrame fixpoints (SURVEY §4; the
round-10 verdict's "native recursive-query surface" item).

Spark has no recursive CTE: unbounded-depth recursions (connected
components, reachability closures, label propagation) are expressed as
a driver loop over a step function. Every hand-rolled version of that
loop has to re-solve the same three traps:

1. LINEAGE GROWTH — each iteration's plan contains the previous one's;
   without truncation the optimizer re-analyzes an exponentially
   deeper tree every round (and a failure recomputes from iteration
   0). `localCheckpoint` after each step keeps the per-iteration plan
   O(1).
2. CONVERGENCE PROBES ARE JOBS — detecting "nothing changed" costs an
   action per iteration; the probe should be the cheapest expression
   of "any difference exists" (LIMIT 1 semantics), not a full count.
3. SILENT NON-CONVERGENCE — exiting on range exhaustion ships labels
   that are NOT a fixpoint; the loop must fail loudly instead
   (op96's round-10 lesson, see connected_components).

`iterate_to_fixpoint` packages the three, plus per-iteration telemetry
(iteration index, probe result, wall seconds) so a 100 TB run's
convergence behavior is observable instead of a black box. op96's
connected_components is the in-repo adopter; bounded fixed-n loops
(op186's 5 PageRank steps, op213's 3 BFS hops) deliberately stay
unrolled — their iteration count is part of their oracle contract and
a convergence probe would add one job per step for nothing.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame


def any_row_differs(old: DataFrame, new: DataFrame) -> int:
    """Default convergence probe: 1 unless `new` and `old` are equal
    as MULTISETS. Two checks compose the equality (round-12 review):
    `new.exceptAll(old)` alone is one-directional — a step that only
    REMOVES rows (or reduces duplicate multiplicity) leaves it empty
    and would be declared converged mid-shrink, silently returning a
    non-fixpoint. So: equal counts AND no row of `new` outside `old`
    ⟺ multiset equality. The exceptAll probe keeps its LIMIT-1
    short-circuit; the count pair is one cheap aggregate per side.
    Steps that preserve a key column should pass a keyed probe
    instead (a join on the key compares only the evolving columns and
    prunes the rest; see connected_components)."""
    if new.count() != old.count():
        return 1
    return new.exceptAll(old).limit(1).count()


def _truncate_lineage(df: DataFrame, reliable: bool) -> DataFrame:
    """Per-iteration lineage truncation, two durabilities:

    - local (default): `localCheckpoint` — blocks live in EXECUTOR
      memory/disk with the lineage cut. Fastest, zero external
      storage, the right call in one JVM — but an executor death
      destroys blocks that, lineage gone, CANNOT be recomputed: the
      job fails. Fine where the retry story is "re-run the job".
    - reliable: `checkpoint(eager=True)` — blocks are WRITTEN to the
      SparkContext checkpoint directory (shared storage on a real
      cluster: HDFS/S3), so losing any executor mid-loop recomputes
      nothing and loses nothing. The production mode for long
      fixpoints at 1000 executors, bought with one write+read of the
      state per iteration. Requires `sc.setCheckpointDir(...)` —
      checked here so the failure is a clear contract error, not a
      mid-loop Py4J stack."""
    if not reliable:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        raise ValueError(
            "iterate_to_fixpoint(reliable=True) needs a checkpoint "
            "directory: call spark.sparkContext.setCheckpointDir(...) "
            "with shared storage first (HDFS/S3 on a cluster)"
        )
    return df.checkpoint(eager=True)


class _ReliableCkptGC:
    """Deletes superseded reliable-checkpoint directories as the loop
    advances. Spark itself removes reliable checkpoints only on
    context GC of the RDD and only when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (default
    FALSE) — so without this, a long fixpoint grows shared storage by
    one full copy of the loop state PER ITERATION for the lifetime of
    the application: exactly the 1000-executor use case reliable=True
    exists for. (Round-11 ADVICE; same shape as the periodic
    checkpointer Spark's own iterative algorithms use.)

    Tracking: ``df.checkpoint()``'s file location is not observable
    from the returned frame (its ``.rdd`` wraps a fresh
    deserialization RDD whose ``getCheckpointFile()`` is None —
    verified on Spark 4.1), so we diff the checkpoint directory's
    ``rdd-*`` listing across each of OUR OWN checkpoint calls via the
    Hadoop FileSystem API (works for file:// and HDFS/S3 alike). The
    loop is a sequential driver loop, so the only misattribution risk
    is a concurrent thread checkpointing in the same window — callers
    running fixpoints concurrently with other reliable checkpoints
    should disable GC by pointing them at different checkpoint dirs.
    All FS operations are best-effort: a listing/delete failure
    degrades to Spark's default keep-everything behavior, never to a
    loop failure."""

    def __init__(self, df: DataFrame) -> None:
        sc = df.sparkSession.sparkContext
        jvm = sc._jvm
        self._path = jvm.org.apache.hadoop.fs.Path(sc.getCheckpointDir())
        self._fs = self._path.getFileSystem(sc._jsc.hadoopConfiguration())
        self._jvm = jvm
        # dirs backing the frame the loop currently holds (≤1 generation)
        self._live: set[str] = set()

    def _ls(self) -> set[str] | None:
        """Listing, or None when the listing FAILED — the two must not
        conflate: an empty set means "nothing there", None means "we
        don't know what's there". Treating a failed snapshot() as
        empty would make record() attribute every PRE-EXISTING dir
        (including a caller's loop-invariant checkpoint) to the new
        generation, and a later advance() would delete live files —
        the opposite of the best-effort guarantee."""
        try:
            if not self._fs.exists(self._path):
                return set()
            return {
                st.getPath().toString()
                for st in self._fs.listStatus(self._path)
            }
        except Exception:
            return None

    def snapshot(self) -> set[str] | None:
        """Call immediately BEFORE a checkpoint materializes."""
        return self._ls()

    def record(self, before: set[str] | None) -> None:
        """Call immediately AFTER: the dirs that appeared across the
        checkpoint call are the new generation's backing files. If
        EITHER listing failed, attribute nothing — this generation is
        simply never GC'd (Spark's default keep-everything growth),
        never over-attributed."""
        after = self._ls()
        if before is None or after is None:
            self._pending = set()
        else:
            self._pending = after - before

    def advance(self) -> None:
        """The new generation is now the loop state and the previous
        one is no longer referenced (the convergence probe — the last
        reader of the OLD frame — has run): delete the old files."""
        for d in self._live:
            try:
                self._fs.delete(self._jvm.org.apache.hadoop.fs.Path(d), True)
            except Exception:
                pass  # best-effort: worst case is Spark's default growth
        self._live = getattr(self, "_pending", set())
        self._pending = set()


def iterate_to_fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    changed: Callable[[DataFrame, DataFrame], int] = any_row_differs,
    max_iter: int = 20,
    checkpoint: bool = True,
    reliable: bool = False,
    telemetry: list[dict] | None = None,
    what: str = "iterate_to_fixpoint",
) -> DataFrame:
    """Apply `step` to `state` until `changed(old, new)` returns 0,
    and return the fixpoint frame.

    - state: initial frame. Checkpointed up front when `checkpoint`
      (the loop references it every probe; an expensive upstream
      lineage would otherwise re-run per iteration).
    - step: pure DataFrame→DataFrame iteration body. Loop-INVARIANT
      frames the body joins against (edge lists, dimension tables)
      should be persisted/checkpointed by the caller ONCE, outside —
      with the same durability as the loop: under reliable=True an
      invariant held only in executor memory is still lost with the
      executor.
    - changed: probe returning 0 iff converged; any-difference
      short-circuit by default.
    - reliable: False (default) truncates lineage with
      localCheckpoint (fast, executor-resident — an executor loss
      mid-loop FAILS the job); True uses directory-backed
      checkpoint() so the loop SURVIVES executor loss (see
      _truncate_lineage).
    - telemetry: optional list; one dict per iteration is appended:
      {"iteration", "changed", "seconds"} — "changed" is whatever the
      probe returned (0/1 for the default probe, a change count only
      if the caller's probe counts).
    - raises ValueError on max_iter exhaustion: a non-fixpoint result
      must never ship silently.
    """
    if reliable and not checkpoint:
        # reliable IS a checkpointing strategy: accepting this combo
        # would run with no lineage truncation at all — neither the
        # promised durability nor bounded plans (review finding).
        raise ValueError(
            f"{what}: reliable=True requires checkpoint=True — reliable "
            "durability IS directory-backed checkpointing"
        )
    # Reliable mode garbage-collects each superseded generation's
    # checkpoint files once its last reader (the convergence probe) has
    # run — without this the loop grows shared storage by state-size
    # per iteration for the app's lifetime (see _ReliableCkptGC).
    # Constructed only after the dir-set contract is known to hold.
    gc: _ReliableCkptGC | None = None

    def _truncate(df: DataFrame) -> DataFrame:
        if gc is None:
            return _truncate_lineage(df, reliable)
        before = gc.snapshot()
        out = _truncate_lineage(df, reliable)
        gc.record(before)
        return out

    if checkpoint:
        if reliable:
            if state.sparkSession.sparkContext.getCheckpointDir() is None:
                _truncate_lineage(state, True)  # raises the contract error
            gc = _ReliableCkptGC(state)
        state = _truncate(state)
        if gc is not None:
            gc.advance()  # gen0 becomes live (nothing older to delete)
    n = -1
    for i in range(max_iter):
        t0 = time.time()
        new = step(state)
        if checkpoint:
            new = _truncate(new)  # O(1) plan per iter
        n = changed(state, new)
        if gc is not None:
            # The probe was the old generation's last read — its
            # checkpoint files are now garbage.
            gc.advance()
        state = new
        if telemetry is not None:
            telemetry.append(
                {
                    "iteration": i + 1,
                    "changed": n,
                    "seconds": round(time.time() - t0, 4),
                }
            )
        if n == 0:
            return state
    raise ValueError(
        f"{what}: no fixpoint after {max_iter} iterations — the result "
        "is not converged and would be silently wrong; raise max_iter"
    )
