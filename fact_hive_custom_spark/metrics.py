"""Per-query metrics surface: QueryExecutionListener + plan metrics.

Five entry points, all stock Spark:

1. `MetricsListener` — a `org.apache.spark.sql.util.
   QueryExecutionListener` implemented as a py4j callback proxy (the
   same mechanism PySpark uses for `StreamingQueryListener`). Once
   `install_listener(spark)` runs, EVERY action on the session is
   recorded passively on the listener: function name
   (collect/save/…), wall duration, and the executed plan's
   aggregated SQLMetrics.

2. `execution_metrics(df)` — active form: execute `df`'s own plan
   JVM-side (no sink, no driver transfer) and return the final
   (AQE-finalized) plan's per-node SQLMetrics plus a scale-relevant
   summary (rows scanned, shuffle bytes/rows, spill, peak memory):
   "did this query shuffle 40 GB or 40 KB", measured.

3. `observed(df, name, *exprs)` — `df.observe(Observation)` wrapper:
   zero-cost accumulator metrics (row counts, sums, null counts)
   collected DURING the normal action with no extra pass over the
   data — the idiomatic Spark way to audit a pipeline at 100 TB,
   where "count the rows again" is a second full scan.

4. `codegen_compiles(spark)` — the JVM's running count of Janino
   compilations of generated code. The difference across a query run
   is the number of classes it compiled (0 when every class it needs
   is still in the generated-code cache; session.py sizes that cache).

5. `jit_compile_ms(spark)` — the JVM's running total of JIT compile
   milliseconds: across a run, the JIT layer of that run's CPU.

All metric extraction is read-only py4j access (a walk of the executed
plan, a JVM counter); nothing here adds a job, a stage, or a byte of
shuffle.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession

__all__ = [
    "MetricsListener",
    "QueryRecord",
    "codegen_compiles",
    "execution_metrics",
    "install_listener",
    "jit_compile_ms",
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
        "files_read": 0,
        "shuffle_bytes_written": 0,
        "shuffle_records_written": 0,
        "spill_bytes": 0,
        "peak_execution_memory": 0,
        "output_rows": 0,
    }
    for i, row in enumerate(nodes):
        m = row["metrics"]
        # Scans only: ShuffleExchangeExec's nodeName is plain "Exchange".
        if row["node"].startswith("Scan "):
            s["rows_scanned"] += m.get("number of output rows", 0)
            s["files_read"] += m.get("number of files read", 0)
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


# ------------------------------------------------------- codegen counter


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations so far in this JVM (all sessions): the count
    of Spark's `CodegenMetrics.METRIC_COMPILATION_TIME` histogram. A
    cache hit in `CodeGenerator.compile` does not count. Works with the
    UI off; read it before and after a run and take the difference."""
    source = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return int(source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def jit_compile_ms(spark: SparkSession) -> int:
    """Milliseconds the JVM's JIT compilers (HotSpot C1 and C2) have
    spent so far, for the whole JVM like `codegen_compiles`: read it
    before and after a run and take the difference."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return int(mf.getCompilationMXBean().getTotalCompilationTime())


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
    appear shortly after the action returns; tests poll.
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

    Muting is Python-side: Spark's ListenerBus removes listeners by
    reference (`_ eq listener`), and py4j mints a fresh Java proxy per
    conversion, so a JVM-side unregister never matches. The dormant
    proxy costs one no-op callback per action until the session ends."""
    listener.active = False
    # harmless if it ever starts matching (future Spark/py4j versions)
    spark._jsparkSession.listenerManager().unregister(listener)
