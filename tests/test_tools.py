"""The evidence tooling must not rot: every artifact generator under
tools/ stays compilable, and the bench HEADLINE set stays a subset of
the registry (a renamed/removed query would otherwise only fail at
bench time, outside CI). The engine's settable surface stays
pinned: the env vars the package reads, and a session that leaves the
process environment as it found it."""

from __future__ import annotations

import ast
import os
import pathlib
import py_compile
import re
import subprocess
import sys
import textwrap

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
TOOLS = sorted((ROOT / "tools").glob("*.py"))

# Every env var the engine package reads. A new one (an A/B gate, a
# tuning switch) must be added here on purpose, or removed once decided.
ENV_KNOBS = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"}


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_compiles(path):
    py_compile.compile(str(path), doraise=True)


ENV_READ = re.compile(
    r'os\.(?:environ\.get|getenv)\(\s*"(\w+)"|os\.environ\[\s*"(\w+)"\]'
)


def test_env_knob_inventory():
    found: dict[str, list[str]] = {}
    for path in sorted((ROOT / "fact_hive_custom_spark").rglob("*.py")):
        text, rel = path.read_text(), str(path.relative_to(ROOT))
        reads = ENV_READ.findall(text)
        for get, item in reads:
            found.setdefault(get or item, []).append(rel)
        # any os.environ / os.getenv use the pattern cannot name
        if len(re.findall(r"\bos\.(?:environ|getenv)\b", text)) != len(reads):
            found.setdefault("<unparsed env use>", []).append(rel)
    assert set(found) == ENV_KNOBS, found


@pytest.mark.parametrize(
    "gib, want", [(1, "512m"), (15, "7680m"), (96, "49152m"), (512, "49152m")]
)
def test_default_driver_memory_is_half_the_host_capped(monkeypatch, gib, want):
    from fact_hive_custom_spark import session

    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (gib << 30) // page}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session.default_driver_memory() == want


# materialize() is the engine's only reuse path (its docstring says why).
CACHE_CALL = re.compile(r"\.persist\(|\.cache\(\)|unpersist|StorageLevel")


def test_no_cache_calls_in_engine():
    found = [
        f"{path.relative_to(ROOT)}:{i}: {line.strip()}"
        for path in sorted((ROOT / "fact_hive_custom_spark").rglob("*.py")) + TOOLS
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if CACHE_CALL.search(line)
    ]
    assert not found, found


# Every materialize() call in the package, per file. Each call costs at
# least one eager job, so each one carries a measured reason at its call
# site; a new call fails here until it is added together with that reason.
MATERIALIZE_SITES = {
    "fact_hive_custom_spark/operators/dedup.py": 2,
    "fact_hive_custom_spark/operators/graph.py": 2,
    "fact_hive_custom_spark/operators/similarity.py": 1,
    "fact_hive_custom_spark/queries/aggregates.py": 1,
    "fact_hive_custom_spark/queries/analytics.py": 6,
    "fact_hive_custom_spark/queries/clustering.py": 2,
    "fact_hive_custom_spark/queries/corpus.py": 4,
    "fact_hive_custom_spark/queries/llm_ops.py": 1,
    "fact_hive_custom_spark/queries/media.py": 1,
    "fact_hive_custom_spark/queries/sources_sinks.py": 1,
    "fact_hive_custom_spark/queries/timeseries.py": 2,
}
MATERIALIZE_CALL = re.compile(r"\.transform\(materialize\)|(?<![\w.`])(?<!def )materialize\((?!\))")


# The one call that is not a reuse: Spark refuses a raw CSV scan whose
# only referenced column is the corrupt-record column, so its comment
# names that error class instead of a measurement.
NOT_A_REUSE = {"fact_hive_custom_spark/queries/sources_sinks.py::q_source_csv_malformed"}


def _comment_above(lines: list[str], lineno: int) -> str:
    """The comment block that ends on the line before 1-based `lineno`."""
    block = []
    for line in reversed(lines[: lineno - 1]):
        if not line.lstrip().startswith("#"):
            break
        block.append(line)
    return " ".join(block[::-1])


def test_materialize_site_inventory():
    found, unmeasured = {}, []
    for path in sorted((ROOT / "fact_hive_custom_spark").rglob("*.py")):
        text = path.read_text()
        calls = [text.count("\n", 0, m.start()) + 1 for m in MATERIALIZE_CALL.finditer(text)]
        if not calls:
            continue
        rel = str(path.relative_to(ROOT))
        found[rel] = len(calls)
        lines, tree = text.splitlines(), ast.parse(text)
        for ln in calls:
            enclosing = [n for n in ast.walk(tree) if hasattr(n, "end_lineno") and n.lineno <= ln <= n.end_lineno]
            stmt = max(n.lineno for n in enclosing if isinstance(n, ast.stmt))
            func = max((n for n in enclosing if isinstance(n, ast.FunctionDef)), key=lambda n: n.lineno).name
            # The reason sits directly above the call, or above the
            # statement whose continuation line the call is on.
            reason = _comment_above(lines, ln) or _comment_above(lines, stmt)
            want = "QUERY_ONLY_CORRUPT_RECORD_COLUMN" if f"{rel}::{func}" in NOT_A_REUSE else "Measured against the identity"
            if want not in " ".join(reason.replace("#", " ").split()):
                unmeasured.append(f"{rel}:{ln} ({func})")
    assert found == MATERIALIZE_SITES, found
    assert not unmeasured, unmeasured


# A relation several queries share has one Spark builder and one DuckDB
# fragment, in the file named here; each pattern is a defining line of
# one of them, so a second match anywhere in the package is a hand copy.
SHARED_RELATIONS = {
    "daily cents": (
        "fact_hive_custom_spark/tables.py",
        [
            r'\.alias\("d"\),\s*F\.round\(F\.col\("value"\) \* 100\)\.cast\("bigint"\)'
            r'\.alias\("v"\)',
            r"AS d,\s*CAST\(round\(value \* 100\) AS BIGINT\) AS v\b",
        ],
    ),
    "two-way contingency": (
        "fact_hive_custom_spark/queries/stats.py",
        [
            r'F\.sum\("obs"\)\.over\(Window\.partitionBy\("x"\)\)',
            r'F\.sum\("obs"\)\.over\(Window\.partitionBy\(\)\)',
            r"SUM\(obs\) OVER \(PARTITION BY x\)",
            r"SUM\(obs\) OVER \(\)",
        ],
    ),
    "event-type transitions": (
        "fact_hive_custom_spark/queries/analytics.py",
        [
            r'F\.lead\("event_type"\)\.over\(w\)',
            r"lead\(event_type\) OVER \(\s*"
            r"PARTITION BY user_id ORDER BY us, event_id\)",
        ],
    ),
    # q_graph_clustering_coeff and q_graph_triangles: orientation, the
    # out-neighbour lists, and the oracle's triangle enumeration
    "oriented triangles": (
        "fact_hive_custom_spark/queries/analytics.py",
        [
            r'F\.sort_array\(F\.collect_list\("dst"\)\)',
            r"JOIN e e3 ON e3\.u = e1\.u AND e3\.v = e2\.v",
        ],
    ),
    "(type, cents) grid": (
        "fact_hive_custom_spark/queries/stats.py",
        [
            r"vx\.crossJoin\(F\.broadcast\(tys\)\)",
            r"FROM tys t CROSS JOIN vx v",
        ],
    ),
    # q_stat_friedman's month blocks span a full year: another relation
    "priority day cells": (
        "fact_hive_custom_spark/queries/timeseries.py",
        [
            r'F\.col\("o_orderpriority"\)\.alias\("priority"\),\s*'
            r'F\.col\("o_orderdate"\)\.alias\("day"\)',
            r"o_orderpriority AS priority, o_orderdate AS day",
        ],
    ),
    "parity cohorts": (
        "fact_hive_custom_spark/queries/stats.py",
        [
            r'\(F\.col\("user_id"\) % 2\)\.alias\("\w+"\),\s*'
            r'F\.when\(F\.col\("event_type"\) == "purchase"',
            r"user_id % 2 AS \w+,\s*CASE WHEN event_type = 'purchase'",
        ],
    ),
    "customer revenue": (
        "fact_hive_custom_spark/queries/stats.py",
        [
            r'\.groupBy\("o_custkey"\)\s*\.agg\(\s*'
            r'F\.sum\(F\.round\(F\.col\("o_totalprice"\) \* 100\)',
            r"AS \w+\s+FROM orders\s+WHERE o_custkey IS NOT NULL"
            r" AND o_totalprice IS NOT NULL\s+GROUP BY o_custkey",
        ],
    ),
    # the chi-square 0.05 critical table; 5991465 is its df-2 entry
    "chi-square criticals": (
        "fact_hive_custom_spark/queries/stats.py",
        [r"(?m)^_CHI2_CRIT_E6\s*=", r"\b5991465\b"],
    ),
    "int8 embedding grid": (
        "fact_hive_custom_spark/tables.py",
        [
            r"cast\(x as double\) \* 127\) / gscale",
            r"CAST\(x AS DOUBLE\) \* 127\) / gscale",
        ],
    ),
    "co-occurrence edges": (
        "fact_hive_custom_spark/queries/analytics.py",
        [
            r'F\.col\("n_users"\) <= _TRI_CAP',
            r"HAVING COUNT\(\*\) <= \{_TRI_CAP\}",
        ],
    ),
    # The string bigrams of q_llm_ngram_counts / q_llm_repetition and the
    # md5 k-gram hashes of the fingerprint family are other relations;
    # none of these patterns match them.
    "word bigrams": (
        "fact_hive_custom_spark/queries/corpus.py",
        [
            r"i -> struct\(element_at\((\w+), i\) AS w1",
            r"struct_pack\(w1 := (\w+)\[i\], w2 := \1\[i \+ 1\]\)",
        ],
    ),
    "k-shingle set": (
        "fact_hive_custom_spark/operators/dedup.py",
        [
            r'F\.xxhash64\("shingle"\)\.alias\("shingle"\)',
            r"i -> array_to_string\(list_slice\(t, i, i \+ [^)]*\), ' '\)\)\)\s+AS shingle",
        ],
    ),
    "dedup prefix ranking and verification": (
        "fact_hive_custom_spark/operators/dedup.py",
        [
            r"\{tau_num\} \* n \+ \{tau_den\} - 1\) DIV \{tau_den\}",
            r'F\.col\("sa\.shingle"\) == F\.col\("sb\.shingle"\)',
            r'F\.col\("\w+\.n_shingles"\) \+ F\.col\("\w+\.n_shingles"\)',
        ],
    ),
    "microseconds per day": (
        "fact_hive_custom_spark/tables.py",
        [
            r"(?m)^_US_PER_DAY\s*=",
            r"\b86_?400_?000_?000\b",
            r"(?m)^_US_PER_HOUR\s*=",
            r"\b3_?600_?000_?000\b",
        ],
    ),
    # every nearest-centre assignment: min_by(cid, struct(dist, cid))
    "nearest centre": (
        "fact_hive_custom_spark/functions/vectors.py",
        [r"F\.min_by\(\s*[\w.]+(?:\([^()]*\))?,\s*F\.struct\("],
    ),
}


def test_shared_relations_defined_once():
    texts = {
        str(path.relative_to(ROOT)): path.read_text()
        for path in sorted((ROOT / "fact_hive_custom_spark").rglob("*.py"))
    }
    found = []
    for relation, (home, patterns) in SHARED_RELATIONS.items():
        for pattern in patterns:
            hits = [
                f"{rel}:{text.count(chr(10), 0, m.start()) + 1}"
                for rel, text in texts.items()
                for m in re.finditer(pattern, text)
            ]
            if len(hits) != 1 or not hits[0].startswith(home + ":"):
                found.append(f"{relation}: {hits}, expected once in {home}")
    assert not found, found


# Fixture scans go through tables.load_table, which plans from the file
# footer; a schema-less read runs a Spark inference job before the
# query's own work. Engine-written stage outputs may be read back in
# these files if the line passes the writer's schema (and so does not
# match) or the line above gives the reason for inferring.
SCHEMALESS_READ = re.compile(r"\bread(\.option\([^)]*\))*\.parquet\(")
STAGE_READERS = {
    "fact_hive_custom_spark/queries/optimizer.py",
    "fact_hive_custom_spark/queries/sources_sinks.py",
    "fact_hive_custom_spark/queries/streaming_queries.py",
}


def test_no_schemaless_parquet_reads_in_engine():
    found = []
    for path in sorted((ROOT / "fact_hive_custom_spark").rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        if rel == "fact_hive_custom_spark/tables.py":
            continue
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines, 1):
            if not SCHEMALESS_READ.search(line) or line.lstrip().startswith("#"):
                continue
            reason = i > 1 and lines[i - 2].lstrip().startswith("#")
            if rel not in STAGE_READERS or not reason:
                found.append(f"{rel}:{i}: {line.strip()}")
    assert not found, found


def test_session_leaves_environ_unchanged(tmp_path):
    """A fresh process builds the session and forces a Python worker
    (pandas_udf) from the stock daemon; os.environ must not change."""
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {str(ROOT)!r})
        before = dict(os.environ)
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from fact_hive_custom_spark.session import get_session

        spark = get_session("env-leak")

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        got = sorted(r[0] for r in spark.range(4).select(plus_one("id")).collect())
        assert got == [1, 2, 3, 4], got
        # stock SparkContext init publishes these two for its socket helpers
        stock = {{"SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE"}}
        diff = {{k: (before.get(k), os.environ.get(k))
                for k in (before.keys() | os.environ.keys()) - stock
                if before.get(k) != os.environ.get(k)}}
        assert not diff, diff
        spark.stop()
        """
    )
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]


def test_bench_headline_is_registered():
    from bench import HEADLINE
    from fact_hive_custom_spark.queries import ORACLE, QUERIES

    # q_join_bucketed's bench rows time its build and probe halves
    # separately (round-11); both resolve inside bench.build_query() to
    # the registered q_join_bucketed's own helpers, so the
    # registry/oracle coverage they rely on is q_join_bucketed's.
    pseudo = {"q_join_bucketed_build", "q_join_bucketed_probe"}
    assert pseudo <= set(HEADLINE)
    assert "q_join_bucketed" in QUERIES and "q_join_bucketed" in ORACLE
    real = [q for q in HEADLINE if q not in pseudo]
    missing = [q for q in real if q not in QUERIES]
    assert not missing, f"HEADLINE references unregistered queries: {missing}"
    unoracled = [q for q in real if q not in ORACLE]
    assert not unoracled, f"HEADLINE queries without oracle: {unoracled}"


class TestDigestComparator:
    """compare_digest (the scale sweep's >1M-row mode) must agree with
    the full pandas comparator on real queries AND stay sensitive:
    any doctored cell — value, row count, or dtype — must fail the
    digest, or the sweep's 'green' means nothing."""

    SF = "/root/testdata/sf0.001"

    def test_digest_agrees_on_mixed_dtypes(self, spark):
        from tests.parity import compare_digest

        # int+string+float (flagship), timestamp (resample), date
        # (scan), bool-free window chain — one per landing class
        for name in ("q_agg_flagship", "q_ts_resample_ohlc", "q_fn_date",
                     "q_win_lag_lead"):
            ok, detail = compare_digest(spark, name, self.SF, rtol=1e-9)
            assert ok, f"{name}: {detail}"

    def test_threshold_routes_to_digest(self, spark):
        from tests.parity import compare

        ok, detail = compare(
            spark, "q_agg_flagship", self.SF, rtol=1e-9, digest_threshold=2
        )
        assert ok and "digest mode" in detail, detail
        ok, detail = compare(
            spark, "q_agg_flagship", self.SF, rtol=1e-9,
            digest_threshold=10**6,
        )
        assert ok and "digest mode" not in detail, detail

    def test_bytes_budget_prices_threshold_by_schema_width(self, spark):
        from fact_hive_custom_spark.queries import QUERIES
        from tests.parity import _est_row_bytes, compare

        # flagship: 2 strings + 7 doubles + 1 bigint → 2*24 + 8*8 = 112 B
        w = _est_row_bytes(QUERIES["q_agg_flagship"](spark, self.SF))
        assert w == 2 * 24 + 8 * 8
        # budget under the 50k-row floor × width still routes exact
        # (6-row result), a tiny budget with the floor removed would
        # digest — exercise both directions through the public arg
        ok, detail = compare(
            spark, "q_agg_flagship", self.SF, rtol=1e-9,
            digest_bytes=64_000_000,
        )
        assert ok and "digest mode" not in detail, detail
        # digest_bytes wins over digest_threshold when both are given
        ok, detail = compare(
            spark, "q_agg_flagship", self.SF, rtol=1e-9,
            digest_threshold=2, digest_bytes=64_000_000,
        )
        assert ok and "digest mode" not in detail, detail

    @pytest.mark.parametrize(
        "mutation, expect",
        [
            ("WHERE n_nationkey <> 7", "row count / hash"),       # dropped row
            ("WHERE 1=1 ORDER BY n_nationkey", None),             # control: same rows
        ],
    )
    def test_digest_catches_doctored_oracle(self, spark, mutation, expect):
        from fact_hive_custom_spark.queries import ORACLE
        from tests.parity import compare_digest

        name = "q_scan_pruned_digest_probe"
        # a disposable registry entry: Spark side reuses a real query,
        # oracle side is doctored
        from fact_hive_custom_spark.queries import QUERIES

        base_sql = (
            "SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS v "
            "FROM nation {mut}"
        ).format(mut=mutation)

        def q(s, d):
            from fact_hive_custom_spark.tables import load_table
            from pyspark.sql import functions as F

            return load_table(s, d, "nation").select(
                F.col("n_nationkey").cast("bigint").alias("k"),
                F.col("n_name").alias("v"),
            )

        QUERIES[name] = q
        ORACLE[name] = base_sql
        try:
            ok, detail = compare_digest(spark, name, self.SF)
            if expect is None:
                assert ok, detail
            else:
                assert not ok, f"digest missed a doctored oracle: {detail}"
        finally:
            del QUERIES[name], ORACLE[name]

    def test_digest_catches_float_shift(self, spark):
        from fact_hive_custom_spark.queries import ORACLE, QUERIES
        from tests.parity import compare_digest

        name = "q_digest_float_probe"

        def q(s, d):
            from fact_hive_custom_spark.tables import load_table
            from pyspark.sql import functions as F

            return load_table(s, d, "nation").select(
                F.col("n_nationkey").cast("bigint").alias("k"),
                (F.col("n_nationkey") * 1.5).alias("x"),
            )

        QUERIES[name] = q
        ORACLE[name] = (
            "SELECT CAST(n_nationkey AS BIGINT) AS k, "
            "n_nationkey * 1.5 + 0.001 AS x FROM nation"
        )
        try:
            ok, detail = compare_digest(spark, name, self.SF, rtol=1e-9)
            assert not ok, f"digest missed a float shift: {detail}"
        finally:
            del QUERIES[name], ORACLE[name]


class TestQueryRunner:
    """bench.build_query / run_query: the one runner bench.py and the
    timing tools share. Both bucketed pseudo-rows run, the probe alone
    builds its own layout, and the (build_s, action_s) split adds up
    to the wall time around the call."""

    SF = TestDigestComparator.SF

    def test_bucketed_rows_run_in_order_and_alone(self, spark, tmp_path):
        import shutil

        import bench

        fresh = str(tmp_path / "sf0.001")
        shutil.copytree(self.SF, fresh)
        for name, sf_dir in (
            ("q_join_bucketed_build", self.SF),
            ("q_join_bucketed_probe", self.SF),
            ("q_join_bucketed_probe", fresh),  # no build has run here
        ):
            build_s, action_s, _ = bench.run_query(spark, name, sf_dir)
            assert build_s >= 0 and action_s >= 0, (name, sf_dir)
        assert bench.build_query(spark, "q_join_bucketed_build", self.SF) is None

    def test_probe_frame_matches_registered_query(self, spark):
        import bench
        from fact_hive_custom_spark.queries import QUERIES
        from tests.parity import _pandas_rows, _strict_rows

        def hashed(df):
            return _strict_rows(df.columns, _pandas_rows(df.toPandas()))

        probe = bench.build_query(spark, "q_join_bucketed_probe", self.SF)
        whole = QUERIES["q_join_bucketed"](spark, self.SF)
        assert hashed(probe) == hashed(whole)

    def test_split_sums_to_wall(self, spark):
        import time

        import bench

        for name in ("q_agg_flagship", "q_join_bucketed_probe"):
            t0 = time.perf_counter()
            build_s, action_s, _ = bench.run_query(spark, name, self.SF)
            wall = time.perf_counter() - t0
            assert abs(build_s + action_s - wall) < 0.005, (
                name, build_s, action_s, wall,
            )

    def test_tagged_run_reports_process_cpu(self, spark):
        """A tagged run reports its process CPU (bench.process_cpu_s: this
        process, the JVM and its descendants); an untagged one reads none."""
        import bench

        tagged = bench.run_query(spark, "q_agg_flagship", self.SF, bench.new_tag())
        assert tagged[2] > 0, tagged
        assert bench.run_query(spark, "q_agg_flagship", self.SF)[2] is None
