"""Query profiler: execute a DataFrame and read back the per-node SQL
metrics Spark collected — shuffle bytes/records, scan rows/bytes, agg
peak memory, output rows — as plain Python data.

"Measure, don't guess" as an engine feature: the plan-string
assertions in tests/test_plans.py prove the SHAPE of a plan (pushdown,
broadcast, partial agg); this module proves its ARITHMETIC — e.g. that
op17's shuffle carries 6 records while its scan reads 600 k rows, the
quantitative form of "the shuffle carries one row per (partition ×
group), not the data". The reference has no analog (MongoDB's
explain() plays the same role there — SURVEY.md §4.1); this is the
Spark-native replacement, reading the same SQLMetric values the Spark
UI renders.

Works with and without AQE: AdaptiveSparkPlan and QueryStage wrappers
are unwrapped to the final executed physical plan. Driver-side only —
a few py4j calls per plan node after the action completes; nothing is
added to the executors' hot path.

``JobGroup`` counts the Spark jobs a block of driver code launches
(scripts/sweep_sim.py and scripts/plan_audit.py count build jobs with
it).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQueryListener


@dataclass(frozen=True)
class NodeMetrics:
    name: str
    depth: int
    metrics: dict[str, int]


@dataclass(frozen=True)
class QueryProfile:
    nodes: list[NodeMetrics]
    # headline totals (0 when the plan has no such node)
    scan_rows: int = 0
    scan_bytes: int = 0
    shuffle_records_written: int = 0
    shuffle_bytes_written: int = 0
    num_exchanges: int = 0
    output_rows: int = 0
    peak_memory: int = 0
    extra: dict[str, int] = field(default_factory=dict)

    def summary(self) -> str:
        return (
            f"scan {self.scan_rows} rows / {self.scan_bytes} B → "
            f"{self.num_exchanges} exchange(s) carrying "
            f"{self.shuffle_records_written} records / "
            f"{self.shuffle_bytes_written} B → {self.output_rows} rows out "
            f"(peak agg/join memory {self.peak_memory} B)"
        )


def _unwrap(p):
    """Strip adaptive-execution wrappers down to the real physical node.

    ReusedExchange is deliberately NOT unwrapped into its original's
    subtree: the reuse node marks data movement that happens ONCE, and
    recursing through the original a second time would double-count
    exchanges, shuffle bytes and scan rows in the totals of a tool
    whose whole purpose is the plan's arithmetic. The walk records the
    reuse marker itself and stops there."""
    name = p.nodeName()
    if name == "AdaptiveSparkPlan":
        return _unwrap(p.executedPlan())
    if name.endswith("QueryStage"):
        return _unwrap(p.plan())
    return p


def _walk(p, depth: int, out: list[NodeMetrics]) -> None:
    p = _unwrap(p)
    if p.nodeName().startswith("ReusedExchange"):
        out.append(
            NodeMetrics(name="ReusedExchange", depth=depth, metrics={})
        )
        return  # the original's subtree is walked exactly once elsewhere
    m = p.metrics()
    it = m.iterator()
    vals: dict[str, int] = {}
    while it.hasNext():
        kv = it.next()
        vals[kv._1()] = kv._2().value()
    out.append(NodeMetrics(name=p.nodeName(), depth=depth, metrics=vals))
    children = p.children()
    for i in range(children.size()):
        _walk(children.apply(i), depth + 1, out)


def profile(df: DataFrame, materialize: bool = True) -> QueryProfile:
    """Execute `df` (collect) and return its measured metrics.

    Uses collect() rather than a noop write because metrics attach to
    the DataFrame's OWN query execution; a write action builds a new
    plan and leaves this one unexecuted. Profile small/aggregated
    frames (or add a limit) — this is a diagnostic tool, not a sink.
    ``output_rows`` is the number of rows that collect() returned, so
    it is 0 when ``materialize`` is false.
    """
    rows = df.collect() if materialize else []
    nodes: list[NodeMetrics] = []
    _walk(df._jdf.queryExecution().executedPlan(), 0, nodes)

    scan_rows = scan_bytes = 0
    shuffle_recs = shuffle_bytes = exchanges = peak = 0
    for n in nodes:
        if n.name.startswith("Scan"):
            scan_rows += n.metrics.get("numOutputRows", 0)
            scan_bytes += n.metrics.get("filesSize", 0)
        elif n.name == "Exchange":
            exchanges += 1
            shuffle_recs += n.metrics.get("shuffleRecordsWritten", 0)
            shuffle_bytes += n.metrics.get("shuffleBytesWritten", 0)
        elif n.name == "InMemoryTableScan":
            scan_rows += n.metrics.get("numOutputRows", 0)
        peak = max(peak, n.metrics.get("peakMemory", 0))
    return QueryProfile(
        nodes=nodes,
        scan_rows=scan_rows,
        scan_bytes=scan_bytes,
        shuffle_records_written=shuffle_recs,
        shuffle_bytes_written=shuffle_bytes,
        num_exchanges=exchanges,
        output_rows=len(rows),
        peak_memory=peak,
    )


class JobGroup:
    """The Spark jobs a block launches, counted through job groups::

        with JobGroup(spark, "op17:build") as g:
            build()
        g.jobs  # their ids, once the block has ended

    The block runs under a fresh job group (the name plus a serial).
    A streaming query sets a group of its own, its run id, on its
    micro-batch jobs, so a listener notes the run id of every query
    the block starts. On exit the caller's group comes back, the
    listener bus is drained so every job started in the block is in
    the status store, and ``statusTracker().getJobIdsForGroup`` lists
    the jobs of the block's group and of its queries' runs. That holds
    however many jobs the session ran before, where a counter walking
    job ids up from 0 stops at the first id the store evicted."""

    _PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    _serial = itertools.count()

    def __init__(self, spark, name: str) -> None:
        self._spark = spark
        self._sc = spark.sparkContext
        self.name = f"{name}#{next(JobGroup._serial)}"
        self.jobs: list[int] = []

    def __enter__(self) -> "JobGroup":
        self._runs = _QueryRuns()
        self._spark.streams.addListener(self._runs)
        self._saved = {k: self._sc.getLocalProperty(k) for k in self._PROPS}
        self._sc.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc) -> None:
        for key, value in self._saved.items():
            self._sc.setLocalProperty(key, value)
        self._spark.streams.removeListener(self._runs)
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        self.jobs = sorted(
            {j for g in [self.name, *self._runs.ids] for j in tracker.getJobIdsForGroup(g)}
        )


class _QueryRuns(StreamingQueryListener):
    """Run ids of the streaming queries started while registered
    (onQueryStarted runs before start() returns)."""

    def __init__(self) -> None:
        self.ids: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
