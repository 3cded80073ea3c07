"""Per-query metrics surface: QueryExecutionListener + plan metrics.

The reference ships an (empty) stats hook (`h-stats.sh:1` — the HiveOS
agent polls it for miner stats); the engine analogue is a real metrics
layer with three entry points, all stock Spark:

1. `MetricsListener` — a `org.apache.spark.sql.util.
   QueryExecutionListener` implemented as a py4j callback proxy (the
   same mechanism PySpark uses for `StreamingQueryListener`). Once
   `install_listener(spark)` runs, EVERY action on the session is
   recorded passively: function name (collect/save/…), wall duration,
   and the executed plan's aggregated SQLMetrics. This is the
   fleet-monitoring surface: on a cluster the records stream to the
   metrics store; here they accumulate on the listener object.

2. `execution_metrics(df)` — active form: execute `df`'s own plan
   JVM-side (no sink, no driver transfer) and return the final
   (AQE-finalized) plan's per-node SQLMetrics plus a scale-relevant
   summary (rows scanned, shuffle bytes/rows, spill, peak memory). This is what BENCH-style tooling
   wants: "did this query shuffle 40 GB or 40 KB" measured, not
   guessed from the plan string.

3. `observed(df, name, *exprs)` — `df.observe(Observation)` wrapper:
   zero-cost accumulator metrics (row counts, sums, null counts)
   collected DURING the normal action with no extra pass over the
   data — the idiomatic Spark way to audit a pipeline at 100 TB,
   where "count the rows again" is a second full scan.

All metric extraction is read-only py4j traversal of the executed
plan; nothing here adds a job, a stage, or a byte of shuffle.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession

__all__ = [
    "MetricsListener",
    "QueryRecord",
    "execution_metrics",
    "install_listener",
    "observed",
    "plan_metrics",
    "uninstall_listener",
]


# ---------------------------------------------------------------- plan walk


def _walk_jplan(node: Any):
    """Yield every SparkPlan node, descending through AQE wrappers.

    AdaptiveSparkPlanExec hides the runtime-finalized tree behind
    `.executedPlan()`; QueryStageExec wraps its subtree in `.plan()`;
    plain nodes expose Scala `children()`. All traversal is read-only.
    """
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _walk_jplan(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _walk_jplan(node.plan())
        return
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk_jplan(it.next())


def _node_metrics(node: Any) -> dict[str, int]:
    """{metric display name: value} for one plan node."""
    out: dict[str, int] = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        label = metric.name().isDefined() and metric.name().get() or kv._1()
        try:
            out[str(label)] = int(metric.value())
        except Exception:  # uninitialized metric (-1 sentinel wrapped oddly)
            continue
    return out


def plan_metrics(qe_or_df: Any) -> list[dict[str, Any]]:
    """Per-node SQLMetrics of an executed plan.

    Accepts a DataFrame (uses its QueryExecution) or a JVM
    QueryExecution (as handed to QueryExecutionListener.onSuccess).
    Returns [{"node": str, "metrics": {name: int}}, ...] in top-down
    plan order. Values are meaningful only AFTER an action ran.
    """
    jqe = qe_or_df._jdf.queryExecution() if isinstance(qe_or_df, DataFrame) else qe_or_df
    rows = []
    for node in _walk_jplan(jqe.executedPlan()):
        m = _node_metrics(node)
        if m:
            rows.append({"node": str(node.nodeName()), "metrics": m})
    return rows


def _summarize(nodes: list[dict[str, Any]]) -> dict[str, int]:
    """Scale-relevant rollup of per-node metrics.

    rows_scanned sums scan output; shuffle_* sums exchange write
    metrics (each shuffle counted once, on the write side); spill and
    peak memory tell whether partitions fit executor memory — the
    first numbers to check before any 100× scale-up.
    """
    s = {
        "rows_scanned": 0,
        "rows_cache_read": 0,
        "files_read": 0,
        "shuffle_bytes_written": 0,
        "shuffle_records_written": 0,
        "spill_bytes": 0,
        "peak_execution_memory": 0,
        "output_rows": 0,
    }
    for i, row in enumerate(nodes):
        m = row["metrics"]
        # File-source scans only (ShuffleExchangeExec's nodeName is
        # plain "Exchange"; InMemoryTableScan is a CACHE read, counted
        # separately so cached plans don't inflate rows_scanned).
        if row["node"].startswith("Scan "):
            s["rows_scanned"] += m.get("number of output rows", 0)
            s["files_read"] += m.get("number of files read", 0)
        elif row["node"] == "InMemoryTableScan":
            s["rows_cache_read"] += m.get("number of output rows", 0)
        if row["node"] == "Exchange":
            s["shuffle_bytes_written"] += m.get("shuffle bytes written", 0)
            s["shuffle_records_written"] += m.get("shuffle records written", 0)
        s["spill_bytes"] += m.get("spill size", 0)
        s["peak_execution_memory"] = max(
            s["peak_execution_memory"], m.get("peak memory", 0)
        )
        if i == 0:
            s["output_rows"] = m.get("number of output rows", 0)
    return s


def execution_metrics(df: DataFrame) -> dict[str, Any]:
    """Execute `df` and return {"summary": {...}, "nodes": [...],
    "wall_sec": float}.

    Executes the DataFrame's OWN QueryExecution (a sink write would
    build a fresh one whose metrics this df never sees): the executed
    plan's row RDD is counted JVM-side — full execution, zero rows to
    the driver, and the SQLMetric accumulators populate on the exact
    nodes `plan_metrics` then reads."""
    jqe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    jqe.executedPlan().execute().count()
    wall = time.perf_counter() - t0
    nodes = plan_metrics(jqe)
    return {"summary": _summarize(nodes), "nodes": nodes, "wall_sec": round(wall, 3)}


# ----------------------------------------------------------- observe wrapper


def observed(df: DataFrame, name: str, *exprs) -> tuple[DataFrame, Observation]:
    """Attach an Observation: `df2, obs = observed(df, "audit", F.count(F.lit(1)).alias("n"))`;
    after any action on df2, `obs.get` holds the metric row — computed
    inside the same pass, no second scan."""
    obs = Observation(name)
    return df.observe(obs, *exprs), obs


# ------------------------------------------------- QueryExecutionListener


@dataclass
class QueryRecord:
    func_name: str
    duration_ms: float
    summary: dict[str, int] = field(default_factory=dict)
    error: str | None = None


class MetricsListener:
    """Python implementation of org.apache.spark.sql.util.
    QueryExecutionListener, registered through py4j's callback server
    (the exact transport PySpark's StreamingQueryListener uses).

    Spark's ExecutionListenerManager dispatches onSuccess/onFailure
    asynchronously from the listener bus after each action, so records
    appear shortly after the action returns; tests poll. On a real
    cluster this class would forward each QueryRecord to a metrics
    sink instead of a list — the capture side is identical.
    """

    def __init__(self) -> None:
        self.records: list[QueryRecord] = []
        self.active = True

    # -- QueryExecutionListener interface (called from the JVM) --

    def onSuccess(self, funcName: str, qe: Any, durationNs: int) -> None:
        if not self.active:
            return
        try:
            summary = _summarize(plan_metrics(qe))
        except Exception:
            summary = {}
        self.records.append(
            QueryRecord(str(funcName), durationNs / 1e6, summary)
        )

    def onFailure(self, funcName: str, qe: Any, exception: Any) -> None:
        if not self.active:
            return
        self.records.append(
            QueryRecord(str(funcName), 0.0, {}, error=str(exception))
        )

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def install_listener(spark: SparkSession) -> MetricsListener:
    """Start the py4j callback server (idempotent) and register a
    fresh MetricsListener on the session. Returns the listener; keep
    the reference — the JVM holds only a proxy."""
    from pyspark.java_gateway import ensure_callback_server_started

    gw = spark.sparkContext._gateway
    ensure_callback_server_started(gw)
    listener = MetricsListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def uninstall_listener(spark: SparkSession, listener: MetricsListener) -> None:
    """Stop the listener recording.

    Muting is Python-side by design: Spark's ListenerBus removes
    listeners by REFERENCE equality (`_ eq listener`), and py4j mints
    a fresh Java proxy on every conversion of a Python callback — the
    unregister proxy can never be `eq` to the registered one, so a
    JVM-side unregister of a Python QueryExecutionListener is
    structurally unreachable. The dormant proxy costs one no-op
    callback per action until the session ends; `active = False`
    guarantees no further records regardless."""
    listener.active = False
    # harmless if it ever starts matching (future Spark/py4j versions)
    spark._jsparkSession.listenerManager().unregister(listener)
