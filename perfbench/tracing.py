"""Per-layer tracing for the benchmark, all from outside the engine.

Three sources, none of which edits engine code:

- ``Tracer.install`` wraps the public functions of the engine modules
  (session, tables, materialize, operators.*, streaming.jobs, metrics)
  and rebinds every from-imported reference to them, so a call into a
  layer records a span: layer, function, start, end, parent span.
- ``read_jobs`` reads Spark's status store (jobs, stages, task-time
  quantiles) for the jobs of one pass.
- ``SqlMetricsListener`` (a ``metrics.MetricsListener``) folds the
  SQLMetrics of every executed plan: scan rows/files, file writes and
  Python-worker time; ``StreamListener`` folds streaming progress.

Spans and counters stay in memory; ``Tracer.dump`` writes them once.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from collections import defaultdict

from fact_hive_custom_spark import metrics as _metrics
from pyspark.sql.streaming import StreamingQueryListener

_plan_metrics = _metrics.plan_metrics  # unwrapped: the listener is not a traced caller
PKG = "fact_hive_custom_spark"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.pass_id = -1
        self.spans: list[tuple] = []  # (pass, layer, func, t0, t1, parent)
        self._local = threading.local()
        self._originals: dict[int, object] = {}
        self._wrapped: dict[int, object] = {}

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = self._local.__dict__.setdefault("stack", [])
            idx = len(self.spans)
            self.spans.append(None)
            parent = stack[-1] if stack else -1
            stack.append(idx)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                self.spans[idx] = (self.pass_id, layer, fn.__name__, t0,
                                   time.perf_counter(), parent)
        return traced

    def install(self, layers: dict[str, list]) -> None:
        """Wrap the public functions of each module under its layer name,
        then rebind from-imported references in every loaded engine module."""
        for layer, modules in layers.items():
            for mod in modules:
                for name, fn in vars(mod).copy().items():
                    if (inspect.isfunction(fn) and not name.startswith("_")
                            and fn.__module__ == mod.__name__):
                        w = self._wrap(layer, fn)
                        setattr(mod, name, w)
                        self._wrapped[id(fn)] = w
                        self._originals[id(fn)] = fn
        self.rebind()

    def rebind(self) -> None:
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith(PKG):
                continue
            for name, val in vars(mod).copy().items():
                w = self._wrapped.get(id(val))
                if w is not None and self._originals.get(id(val)) is val:
                    setattr(mod, name, w)

    def outer(self, pass_id: int, layer: str, funcs=None) -> tuple[int, float]:
        """(calls, seconds) of the outermost spans of `layer` (restricted to
        `funcs`) in a pass: spans with no ancestor that is counted too, so
        nested calls are not counted twice. Inclusive time: child layers
        are not subtracted."""
        n, s = 0, 0.0
        for sp in self.spans:
            if sp is None or sp[0] != pass_id or sp[1] != layer:
                continue
            if funcs is not None and sp[2] not in funcs:
                continue
            p, nested = sp[5], False
            while p >= 0:
                anc = self.spans[p]
                if anc is None or (anc[1] == layer and (funcs is None or anc[2] in funcs)):
                    nested = True
                    break
                p = anc[5]
            if not nested:
                n += 1
                s += sp[4] - sp[3]
        return n, s

    def dump(self, path: str, extra: dict) -> None:
        keys = ("pass", "layer", "func", "t0", "t1", "parent")
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(keys, sp)) for sp in self.spans if sp],
                       **extra}, f)


_PY_NODE_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


class SqlMetricsListener(_metrics.MetricsListener):
    """QueryExecutionListener folding SQLMetrics into `self.totals`.

    Callbacks arrive on the listener-bus thread; call `drain` (which
    waits for the bus to empty) before reading the totals."""

    def __init__(self) -> None:
        super().__init__()
        self.active = False
        self.totals: dict[str, float] = defaultdict(float)

    def onSuccess(self, funcName, qe, durationNs) -> None:
        if not self.active:
            return
        t = self.totals
        try:
            nodes = _plan_metrics(qe)
        except Exception:  # a plan the walk cannot read: count it, keep going
            t["listener.unreadable"] += 1
            return
        s = _metrics._summarize(nodes)
        t["tables.rows_scanned"] += s["rows_scanned"]
        t["tables.files_read"] += s["files_read"]
        wrote = False
        for row in nodes:
            m = row["metrics"]
            if "number of written files" in m:
                wrote = True
                t["write.files"] += m["number of written files"]
                t["write.bytes"] += m.get("written output", 0)
                t["write.rows"] += m.get("number of output rows", 0)
            for label, key in _PY_NODE_METRICS.items():
                if label in m:
                    t[key] += m[label] / (1000.0 if key.endswith("_s") else 1)
        if wrote:
            t["write.s"] += durationNs / 1e9

    def onFailure(self, funcName, qe, exception) -> None:
        if self.active:
            self.totals["listener.failures"] += 1


class StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.active = False
        self.totals: dict[str, float] = defaultdict(float)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if not self.active:
            return
        p, t = event.progress, self.totals
        d = p.durationMs
        t["streaming.batches"] += 1
        t["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1000.0
        t["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
        t["streaming.input_rows"] += p.numInputRows

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def install_listeners(spark) -> tuple[SqlMetricsListener, StreamListener]:
    """Register both listeners the way `metrics.install_listener` does
    (its stock listener keeps only the scan/shuffle rollup)."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    sql = SqlMetricsListener()
    spark._jsparkSession.listenerManager().register(sql)
    stream = StreamListener()
    spark.streams.addListener(stream)
    return sql, stream


def drain(spark) -> None:
    """Wait until every posted listener event has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def read_jobs(spark, t_start: float, t_end: float, tag: str,
              build_windows) -> dict[str, float]:
    """Status-store totals for the jobs submitted in [t_start, t_end]
    (epoch seconds). Jobs whose group is `<query>:action:<tag>` are the
    final action's. Build-phase jobs are those in a `<query>:build:<tag>`
    group, and jobs of any other group (a streaming query runs its
    micro-batches under its own run id) submitted inside one of
    `build_windows`, the (start, end) epoch intervals of the queries'
    build calls."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(jvm.java.util.ArrayList())
    out: dict[str, float] = defaultdict(float)
    build_iv, action_iv = [], []
    stage_ids, action_stages = set(), set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub, done = _opt_s(j.submissionTime()), _opt_s(j.completionTime())
        if sub is None or not (t_start <= sub <= t_end):
            continue
        done = done if done is not None else t_end
        group = j.jobGroup().get() if j.jobGroup().isDefined() else ""
        sids = set(j.stageIds().apply(k) for k in range(j.stageIds().size()))
        stage_ids |= sids
        if group.endswith(f":action:{tag}"):
            action_iv.append((sub, done))
            action_stages |= sids
        elif group.endswith(f":build:{tag}") or any(
                a - 0.001 <= sub <= b + 0.001 for a, b in build_windows):
            build_iv.append((sub, done))
    out["materialize.jobs"] = len(build_iv)
    out["queries.build_jobs_s"] = _union(build_iv)
    out["action.jobs"] = len(action_iv)

    quant = gw.new_array(jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        if sid not in stage_ids or s.numCompleteTasks() == 0:
            continue  # skipped stages (reused shuffle output) ran nothing
        if sid in action_stages:
            out["action.stages"] += 1
            out["action.tasks"] += s.numTasks()
        out["exec.run_s"] += s.executorRunTime() / 1000.0
        out["exec.cpu_s"] += s.executorCpuTime() / 1e9
        out["exec.gc_s"] += s.jvmGcTime() / 1000.0
        out["exec.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["exec.peak_mem_bytes"] = max(out["exec.peak_mem_bytes"], s.peakExecutionMemory())
        out["shuffle.write_bytes"] += s.shuffleWriteBytes()
        out["shuffle.read_bytes"] += s.shuffleReadBytes()
        out["shuffle.records"] += s.shuffleWriteRecords()
        out["shuffle.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1000.0
        summ = store.taskSummary(sid, s.attemptId(), quant)
        if summ.isDefined():
            run = summ.get().executorRunTime()
            out["stage.straggler_s"] += (run.apply(1) - run.apply(0)) / 1000.0
    return out
