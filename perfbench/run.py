"""End-to-end benchmark of the engine on two workloads.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one SparkSession on
local[<cores>], one client in a closed loop: each pass runs the
workload's queries back to back through the noop sink, in an order
drawn from --seed. Before the timed window, untimed, every query's
output is compared with its DuckDB oracle (tests/parity.py); that
first, cold execution of each query also warms the JVM, and so do the
workload's untimed warm-up passes that follow. Timed passes follow
until the workload's number of passes has run and --seconds have
passed. setup_s is the package import plus get_session(). The
inputs are the seed-42 corpus in perfbench/corpus and a replica of it
built once into perfbench/.cache, outside every timing (fixtures.py).

--trace 0 prints the end-to-end metrics; --trace 1 alternates traced
and untraced warm passes and prints per-layer metrics (tracing.py). The
last stdout line is one JSON object: correct, attempted, failed,
metrics. A per-run artifact (pass times, host samples, spans) is
written to perfbench/.out.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> (fixture, untimed warm-up passes, timed passes, queries). Fixed
# pass counts put every run at the same point of the JVM's warm-up curve;
# the warm-up passes take the JIT past the steep start of that curve,
# where the CPU time of a pass still falls by a tenth or more from one
# pass to the next.
WORKLOADS = {
    # Scans, shuffles and joins over multi-row-group lineitem/orders.
    "relational": ("sf0.01x10", 4, 5, [
        "q_agg_flagship", "q_scan_filter_pushdown", "q_join_broadcast",
        "q_join_shuffle_hash",
    ]),
    # LLM-data-pipeline work: a dedup operator, eager materialize() rounds,
    # a stream into a memory sink and a foreachBatch parquet sink, a
    # managed-table write and pandas-UDF workers. An odd query count keeps
    # the per-query median on one query instead of between two.
    "pipeline": ("sf0.01", 1, 2, [
        "q_llm_jaccard_dedup", "q_graph_pagerank", "q_stream_sink_modes",
        "q_sink_table", "q_udf_pandas",
    ]),
}
ALL_QUERIES = sorted({q for *_rest, qs in WORKLOADS.values() for q in qs})
DRIVER_MEMORY = "2g"  # session.py defaults to 48g; these fixtures need far less
DEADLINE_S = 150  # leaves time to stop the JVM inside a 180 s limit
CLK_TCK = os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------------- processes


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                children[int(st[1])].append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children[todo.pop()]:
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(jvm_pid: int) -> float:
    """CPU of this process, the JVM and every live JVM descendant (Python
    workers), reaped children included."""
    t = os.times()
    total = t.user + t.system
    for pid in [jvm_pid, *descendants(jvm_pid)]:
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15]) / CLK_TCK
    return total


def peak_rss_mb(pids) -> float:
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return kb / 1024.0


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def host_sample() -> dict[str, float]:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"load1": os.getloadavg()[0], "steal": cpu[7], "total": sum(cpu)}


# ------------------------------------------------------------ isolation


def isolate(tag: str) -> str:
    """Private working dir (cwd, warehouse, TMPDIR, SPARK_LOCAL_DIRS,
    JVM temp dir) under perfbench/.work; stale dirs of dead runs go."""
    base = os.path.join(HERE, ".work")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        pid = d.split("-")[0]
        if pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    work = os.path.join(base, f"{os.getpid()}-{tag}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_QUIET_LOGS": "1",
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
    })
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)
    return work


def shutdown(spark, jvm_pid: int) -> None:
    """Stop Spark and the JVM, and wait for every process it started."""
    pids = [jvm_pid, *descendants(jvm_pid)]
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:  # exited since the check
                pass


# ---------------------------------------------------------------- stats


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, n), or None when there are fewer than 11."""
    n = len(xs)
    if n < 11:
        return None
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


# ----------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    missing = [p for p in ("fact_hive_custom_spark/queries/__init__.py",
                           "tools/make_scale_fixture.py", "tests/parity.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine files not found under {ROOT}: {missing}", file=sys.stderr)
        return 2

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)

    sys.path.insert(0, HERE)
    work = isolate(f"{args.workload}-{args.seed}")
    try:
        return run(args)
    finally:
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)


def run(args) -> int:
    # Nothing outside the standard library is imported before t0, so
    # session.import_s holds every third-party import the engine pulls in.
    traced = bool(args.trace)
    t0 = time.perf_counter()
    from fact_hive_custom_spark import materialize, metrics, session, tables
    from fact_hive_custom_spark.operators import dedup, graph, similarity, skew
    from fact_hive_custom_spark.streaming import jobs

    tracer = None
    if traced:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install({
            "session": [session], "tables": [tables], "materialize": [materialize],
            "operators": [dedup, similarity, graph, skew], "streaming": [jobs],
            "metrics": [metrics],
        })
    from fact_hive_custom_spark.queries import QUERIES

    if tracer:
        tracer.rebind()
    t1 = time.perf_counter()
    import fixtures

    fixture, warmups, timed_passes, queries = WORKLOADS[args.workload]
    sf_dir = fixtures.ensure(os.path.join(HERE, ".cache"), ROOT, fixture)
    t2 = time.perf_counter()
    spark = session.get_session("perfbench", quiet=True)
    setup = {"session.import_s": t1 - t0, "session.start_s": time.perf_counter() - t2}

    sc = spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    cores = sc.defaultParallelism
    try:
        t3 = time.perf_counter()
        checks = check(spark, queries, sf_dir)
        setup_diag = {"check_s": time.perf_counter() - t3, "fixture_s": t2 - t1}
        result = measure(args, spark, QUERIES, queries, warmups, timed_passes, sf_dir,
                         tracer, jvm_pid, cores)
        result["rss_mb"] = peak_rss_mb([os.getpid(), jvm_pid])
        result["checks"] = checks
        result["diag"] = setup_diag
    finally:
        signal.alarm(0)
        shutdown(spark, jvm_pid)
    report(args, fixture, queries, cores, setup, result)
    return 0


def measure(args, spark, QUERIES, queries, warmups, timed_passes, sf_dir, tracer,
            jvm_pid, cores) -> dict:
    sc = spark.sparkContext
    rng = random.Random(args.seed)
    listeners = None
    if tracer:
        from tracing import install_listeners

        listeners = install_listeners(spark)
    passes = []
    for _ in range(warmups):
        order = rng.sample(queries, len(queries))
        passes.append(one_pass(len(passes), "warmup", order, spark, sc, QUERIES,
                               sf_dir, tracer, listeners, jvm_pid, cores))
    window0 = time.perf_counter()
    while True:
        n_t = sum(p["kind"] == "traced" for p in passes)
        n_u = sum(p["kind"] == "untraced" for p in passes)
        elapsed = time.perf_counter() - window0
        if tracer:
            # Two of each, alternating, so warm-up drift does not all land
            # on one side of trace.overhead_s.
            if elapsed >= args.seconds and n_t >= 2 and n_u >= 2:
                break
            kind = "traced" if n_t <= n_u else "untraced"
        else:
            if elapsed >= args.seconds and n_u >= timed_passes:
                break
            kind = "untraced"
        order = rng.sample(queries, len(queries))
        passes.append(one_pass(len(passes), kind, order, spark, sc, QUERIES,
                               sf_dir, tracer, listeners, jvm_pid, cores))
    return {"passes": passes, "tracer": tracer}


def one_pass(i, kind, order, spark, sc, QUERIES, sf_dir, tracer, listeners,
             jvm_pid, cores) -> dict:
    on = kind == "traced"
    host = host_sample()
    if on:
        from tracing import drain

        drain(spark)  # late events of the previous pass stay out of this one
        tracer.enabled, tracer.pass_id = True, i
        for lst in listeners:
            lst.active, lst.totals = True, defaultdict(float)
    cpu0, epoch0, t0 = cpu_seconds(jvm_pid), time.time(), time.perf_counter()
    per_query, errors, build_windows = {}, [], []
    for q in order:
        a = time.perf_counter()
        b = c = a
        try:
            if on:
                sc.setJobGroup(f"{q}:build:{i}", q)
            build_epoch = time.time()
            df = QUERIES[q](spark, sf_dir)
            build_windows.append((build_epoch, time.time()))
            b = c = time.perf_counter()
            if on:
                df._jdf.queryExecution().executedPlan()
                c = time.perf_counter()
                sc.setJobGroup(f"{q}:action:{i}", q)
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failed query is counted, the loop goes on
            errors.append({"query": q, "error": repr(e)[:500]})
        d = time.perf_counter()
        per_query[q] = {"total_s": d - a, "build_s": b - a, "plan_s": c - b,
                        "action_s": d - c}
    wall = time.perf_counter() - t0
    epoch1 = time.time()
    cpu = cpu_seconds(jvm_pid) - cpu0
    host_after = host_sample()
    p = {"index": i, "kind": kind, "order": order, "wall_s": wall, "cpu_s": cpu,
         "queries": per_query, "errors": errors, "load1": host["load1"],
         "steal_frac": (host_after["steal"] - host["steal"])
         / max(1, host_after["total"] - host["total"])}
    if on:
        from tracing import drain, read_jobs

        sc.setLocalProperty("spark.jobGroup.id", None)
        tracer.enabled = False
        drain(spark)
        # Job times are epoch milliseconds: 1 ms covers the truncation.
        layers = dict(read_jobs(spark, epoch0 - 0.001, epoch1 + 0.001, str(i),
                                build_windows))
        for lst in listeners:
            lst.active = False
            layers.update(lst.totals)
        build = sum(v["build_s"] for v in per_query.values())
        layers["queries.build_s"] = build - layers["queries.build_jobs_s"]
        layers["queries.plan_s"] = sum(v["plan_s"] for v in per_query.values())
        layers["action.s"] = sum(v["action_s"] for v in per_query.values())
        layers["materialize.calls"], layers["materialize.s"] = tracer.outer(i, "materialize")
        layers["tables.load_calls"], layers["tables.load_s"] = tracer.outer(
            i, "tables", {"load_table", "load_embeddings"})
        layers["operators.build_s"] = tracer.outer(i, "operators")[1]
        layers["exec.core_util"] = layers.get("exec.run_s", 0.0) / (wall * cores)
        p["layers"] = layers
    return p


def check(spark, queries, sf_dir) -> dict:
    """Compare every workload query with its DuckDB oracle (outside the
    timed window) using the comparator in tests/parity.py."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(ROOT, "tests", "parity.py"))
    parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity)
    out = {}
    for q in queries:
        t0 = time.perf_counter()
        try:
            ok, detail = parity.compare(spark, q, sf_dir)
        except Exception as e:  # noqa: BLE001 - a crash is a failed check
            ok, detail = False, repr(e)[:500]
        out[q] = {"ok": bool(ok), "detail": detail, "s": time.perf_counter() - t0}
    return out


PER_LAYER_PASS = [
    "queries.build_s", "queries.build_jobs_s", "queries.plan_s",
    "materialize.calls", "materialize.s", "materialize.jobs",
    "tables.load_calls", "tables.load_s", "tables.rows_scanned", "tables.files_read",
    "operators.build_s",
    "action.s", "action.jobs", "action.stages", "action.tasks",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.spill_bytes",
    "exec.peak_mem_bytes", "exec.core_util", "stage.straggler_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records", "shuffle.fetch_wait_s",
    "write.s", "write.files", "write.bytes", "write.rows",
    "streaming.batches", "streaming.trigger_s", "streaming.commit_s", "streaming.input_rows",
    "python.start_s", "python.init_s", "python.run_s",
    "python.bytes_sent", "python.bytes_returned",
]


def report(args, fixture, queries, cores, setup, result) -> None:
    passes = result["passes"]
    untraced = [p for p in passes if p["kind"] == "untraced"]
    traced = [p for p in passes if p["kind"] == "traced"]
    samples = [v["total_s"] for p in untraced for v in p["queries"].values()]
    run_errors = [e for p in passes for e in p["errors"]]
    bad_checks = {q: c["detail"] for q, c in result["checks"].items() if not c["ok"]}
    attempted = sum(len(p["queries"]) for p in passes) + len(result["checks"])
    failed = len(run_errors) + len(bad_checks)
    pass_s = median([p["wall_s"] for p in untraced])

    # The gated end-to-end metrics (BENCHMARK.json). The rest are printed
    # only. On a shared VM, CPU steal from other tenants comes in episodes
    # of minutes that stretch wall times by up to 60%, so pass and query
    # times spread past any 25% bound, while CPU time does not. RSS varies
    # as much from one JVM to the next, a tail needs 11 samples, and the
    # error rate is 0 on a correct run (failed/attempted carry it).
    e2e = {
        "setup_s": (sum(setup.values()), "s"),
        "cpu_s": (median([p["cpu_s"] for p in untraced]), "s"),
    }
    shown = {**e2e, "pass_s": (pass_s, "s"), "query_p50_s": (median(samples), "s"),
             "peak_rss_mb": (result["rss_mb"], "MB")}
    print(f"workload {args.workload}: fixture {fixture}, {len(queries)} queries,"
          f" local[{cores}], seed {args.seed}, {len(passes) - len(untraced) - len(traced)}"
          f" warm-up + {len(untraced)} untraced + {len(traced)} traced passes")
    for name, (v, unit) in shown.items():
        print(f"  {name:14s} {v:12.4f} {unit}")
    t = tail(samples)
    print(f"  {'query_tail_s':14s} " + (
        f"{t[0]:12.4f} s     p{t[1]:.0f} of {t[2]} samples" if t else
        f"{'n/a':>12s}       {len(samples)} samples; a tail needs 11 or more"))
    print(f"  {'error_rate':14s} {failed / attempted:12.4f} ratio ({failed} of {attempted})")
    for e in run_errors:
        print(f"  FAILED run  {e['query']}: {e['error']}")
    for q, d in bad_checks.items():
        print(f"  FAILED check {q}: {d}")

    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        values = dict(setup)
        for name in PER_LAYER_PASS:
            values[name] = statistics.fmean(p["layers"].get(name, 0.0) for p in traced)
        values["host.load1"] = statistics.fmean(p["load1"] for p in traced)
        values["host.steal_frac"] = statistics.fmean(p["steal_frac"] for p in traced)
        values["trace.overhead_s"] = statistics.fmean(p["wall_s"] for p in traced) - pass_s
        for wq in ALL_QUERIES:
            values[f"query.{wq}_s"] = (
                median([p["queries"][wq]["total_s"] for p in untraced]) if wq in queries
                else 0.0)
        metrics = {name: (v, units[name]) for name, v in values.items()}
        for name, (v, u) in metrics.items():
            print(f"  {name:34s} {v:16.4f} {u}")
    else:
        metrics = e2e

    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    art = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "fixture": fixture, "setup": setup, "untimed": result["diag"], "passes": passes,
           "checks": result["checks"]}
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if result["tracer"] is not None:
        result["tracer"].dump(path, art)
    else:
        with open(path, "w") as f:
            json.dump(art, f)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


if __name__ == "__main__":
    sys.exit(main())
