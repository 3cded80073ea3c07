"""Property-based algebraic identities (SURVEY.md §5.4) on generated
frames — invariants that must hold for ANY input, not just the
fixtures. Example counts are kept small: each example is a real Spark
job."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(st.integers(-5, 5), st.one_of(st.none(), st.integers(-3, 3))),
    min_size=0,
    max_size=30,
)


def _df(spark, data):
    return spark.createDataFrame(data, schema="k int, v int") if data else (
        spark.createDataFrame([], schema="k int, v int")
    )


class TestSetAlgebra:
    @given(a=rows, b=rows)
    @settings(**SETTINGS)
    def test_union_all_counts_add(self, spark, a, b):
        da, db = _df(spark, a), _df(spark, b)
        assert da.unionAll(db).count() == da.count() + db.count()

    @given(a=rows, b=rows)
    @settings(**SETTINGS)
    def test_intersect_all_plus_except_all_partitions_bag(self, spark, a, b):
        da, db = _df(spark, a), _df(spark, b)
        assert da.intersectAll(db).count() + da.exceptAll(db).count() == da.count()

    @given(a=rows)
    @settings(**SETTINGS)
    def test_distinct_idempotent(self, spark, a):
        da = _df(spark, a).distinct()
        assert da.count() == da.distinct().count()


class TestFilterAlgebra:
    @given(a=rows)
    @settings(**SETTINGS)
    def test_filter_partitions_rows_with_null_semantics(self, spark, a):
        """p, NOT p, and p-IS-NULL partition the frame — the three-valued
        logic identity that makes predicate pushdown sound."""
        da = _df(spark, a)
        p = F.col("v") > 0
        n_true = da.filter(p).count()
        n_false = da.filter(~p).count()
        n_null = da.filter(p.isNull()).count()
        assert n_true + n_false + n_null == da.count()

    @given(a=rows)
    @settings(**SETTINGS)
    def test_filter_commutes_with_projection(self, spark, a):
        da = _df(spark, a)
        p = F.col("k") % 2 == 0
        left = sorted(r.k for r in da.filter(p).select("k").collect())
        right = sorted(r.k for r in da.select("k").filter(p).collect())
        assert left == right


class TestOperatorInvariants:
    @given(a=rows)
    @settings(**SETTINGS)
    def test_asof_join_preserves_left_cardinality(self, spark, a):
        """As-of join is left-preserving: exactly one output row per left
        row, with NULL carry when nothing precedes."""
        from fact_hive_custom_spark.operators.asof import asof_join_backward

        left = _df(spark, [(k, i) for i, (k, _) in enumerate(a)]).toDF("k", "ts")
        left = left.withColumn("tb", F.monotonically_increasing_id())
        right = _df(spark, [(k, (v or 0) + 10) for k, v in a]).toDF("k", "ts")
        right = right.withColumn("tb", F.monotonically_increasing_id()).withColumn(
            "payload", F.col("ts") * 2
        )
        out = asof_join_backward(
            left, right, by=["k"], ts="ts", tiebreak="tb", carry=["payload"], strict=True
        )
        assert out.count() == left.count()

    @given(
        lefts=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 6)), max_size=10
        ),
        rights=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 6)), max_size=10
        ),
        direction=st.sampled_from(["backward", "forward", "nearest"]),
        strict=st.booleans(),
    )
    @settings(**SETTINGS)
    def test_asof_matches_bruteforce(self, spark, lefts, rights, direction, strict):
        """All three as-of directions agree with an O(n·m) per-row oracle,
        including same-instant strictness and equal-ts / equal-distance
        tie-breaks (backward: max (ts, tiebreak); forward: min; nearest:
        distance ties go backward — the pandas merge_asof contract)."""
        from fact_hive_custom_spark.operators.asof import asof_join

        def brute(lk, lt):
            back = [
                (rt, tb)
                for tb, (rk, rt) in enumerate(rights)
                if rk == lk and (rt < lt if strict else rt <= lt)
            ]
            fwd = [
                (rt, tb)
                for tb, (rk, rt) in enumerate(rights)
                if rk == lk and (rt > lt if strict else rt >= lt)
            ]
            b = max(back) if back else None          # latest, then max tiebreak
            f = min(fwd) if fwd else None            # earliest, then min tiebreak
            if direction == "backward":
                return b and b[1]
            if direction == "forward":
                return f and f[1]
            if b is None:
                return f and f[1]
            if f is None:
                return b[1]
            return b[1] if (lt - b[0]) <= (f[0] - lt) else f[1]

        schema = "k int, ts int, tb int"
        ldata = [(k, t, i) for i, (k, t) in enumerate(lefts)]
        rdata = [(k, t, i) for i, (k, t) in enumerate(rights)]
        ldf = spark.createDataFrame(ldata, schema=schema)
        rdf = spark.createDataFrame(rdata, schema=schema).withColumn(
            "payload", F.col("tb")
        )
        out = asof_join(
            ldf, rdf, by=["k"], ts="ts", tiebreak="tb",
            carry=["payload"], direction=direction, strict=strict,
        ).collect()
        assert len(out) == len(lefts)
        got = {r.tb: r.asof_payload for r in out}
        want = {i: brute(k, t) for i, (k, t) in enumerate(lefts)}
        assert got == want

    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 25), st.integers(0, 25)), max_size=40
        )
    )
    @settings(**SETTINGS)
    def test_connected_components_matches_union_find(self, spark, edges):
        """large-star/small-star agrees with a sequential union-find on
        arbitrary graphs (self-loops, duplicate and reversed edges,
        multiple components, chains and cycles); component label is the
        min node id."""
        from fact_hive_custom_spark.operators.graph import connected_components

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            if u != v:
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
        want = {n: find(n) for n in parent}

        df = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
        got = {
            r.node: r.component
            for r in connected_components(df, "a", "b").collect()
        }
        assert got == want

    @given(a=st.lists(st.text(alphabet="ab ", min_size=0, max_size=12), max_size=12))
    @settings(**SETTINGS)
    def test_jaccard_pairs_bounded_and_canonical(self, spark, a):
        """Jaccard ∈ (0,1]; pairs are canonical (doc_a < doc_b)."""
        from fact_hive_custom_spark.operators.dedup import jaccard_pairs

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(a)], schema="doc_id long, text string"
        )
        got = jaccard_pairs(docs, threshold=0.0, k=2).collect()
        for r in got:
            assert 0.0 < r.jaccard <= 1.0
            assert r.doc_a < r.doc_b


class TestRound5Invariants:
    """Oracle-independent brute-force checks for the round-5c/d
    operators: Python recomputes the statistic from the raw parquet
    and the distributed result must agree exactly."""

    SF = "/root/testdata/sf0.001"

    def test_mad_outliers_match_bruteforce(self, spark):
        import pyarrow.parquet as pq

        from fact_hive_custom_spark.queries import QUERIES

        t = pq.read_table(f"{self.SF}/events.parquet").to_pydict()
        per_user: dict[int, list[int]] = {}
        for uid, v in zip(t["user_id"], t["value"]):
            if uid is None or v is None:
                continue
            per_user.setdefault(uid, []).append(round(v * 10000))

        def med2(xs: list[int]) -> int:  # 2x-scaled exact median
            xs = sorted(xs)
            n = len(xs)
            mid = xs[n // 2] * 2 if n % 2 else xs[n // 2 - 1] + xs[n // 2]
            return mid

        want = {}
        for uid, vs in per_user.items():
            m2 = med2(vs)
            dev2 = [abs(2 * v - m2) for v in vs]
            mad4 = med2(dev2)
            want[uid] = (
                len(vs), m2, mad4,
                sum(1 for d in dev2 if 2 * d > 3 * mad4),
            )

        got = {
            r.user_id: (r.n, r.m2, r.mad4, r.n_outliers)
            for r in QUERIES["q_ts_mad_outliers"](spark, self.SF).collect()
        }
        assert got == want

    def test_overlap_matrix_matches_bruteforce(self, spark):
        import pyarrow.parquet as pq

        from fact_hive_custom_spark.queries import QUERIES

        t = pq.read_table(f"{self.SF}/events.parquet").to_pydict()
        users_by_type: dict[str, set[int]] = {}
        for uid, et in zip(t["user_id"], t["event_type"]):
            if uid is None or et is None:
                continue
            users_by_type.setdefault(et, set()).add(uid)
        all_users = set().union(*users_by_type.values())
        types = sorted(users_by_type)
        want = {}
        for i, a in enumerate(types):
            for b in types[i + 1:]:
                both = len(users_by_type[a] & users_by_type[b])
                if both:
                    want[(a, b)] = (
                        both, 1_000_000 * both // len(all_users)
                    )
        got = {
            (r.type_a, r.type_b): (r.n_both, r.overlap_ppm)
            for r in QUERIES["q_event_overlap_matrix"](spark, self.SF).collect()
        }
        assert got == want

    def test_hybrid_rrf_bounds(self, spark):
        from fact_hive_custom_spark.queries import QUERIES

        rows = QUERIES["q_llm_hybrid_rrf"](spark, self.SF).collect()
        assert 0 < len(rows) <= 10
        ids = [r.doc_id for r in rows]
        assert len(set(ids)) == len(ids)
        cap = 2 * (1_000_000 // 61)  # rank 1 in both lists
        for r in rows:
            assert 0 < r.rrf_e6 <= cap
        # sorted by fused score then id
        assert rows == sorted(
            rows, key=lambda r: (-r.rrf_e6, r.doc_id)
        )

    def test_profile_matches_bruteforce(self, spark):
        import pyarrow.parquet as pq

        from fact_hive_custom_spark.queries import QUERIES

        t = pq.read_table(f"{self.SF}/orders.parquet").to_pydict()
        n = len(t["o_orderkey"])
        ok = {r.column_name: r for r in
              QUERIES["q_profile_table"](spark, self.SF).collect()}
        assert set(ok) == {
            "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
            "totalprice_cents", "order_date",
        }
        key_vals = [str(v) for v in t["o_orderkey"] if v is not None]
        row = ok["o_orderkey"]
        assert row.n_rows == n
        assert row.n_nulls == n - len(key_vals)
        assert row.n_distinct == len(set(key_vals))
        assert row.min_value == min(key_vals)
        assert row.max_value == max(key_vals)


class TestRound5eInvariants:
    """Brute-force checks for the late-round-5 operators."""

    SF = "/root/testdata/sf0.001"

    def test_gini_matches_bruteforce(self, spark):
        import pyarrow.parquet as pq

        from fact_hive_custom_spark.queries import QUERIES

        t = pq.read_table(f"{self.SF}/orders.parquet").to_pydict()
        rev: dict[int, int] = {}
        for ck, tp in zip(t["o_custkey"], t["o_totalprice"]):
            if ck is None or tp is None:
                continue
            rev[ck] = rev.get(ck, 0) + round(tp * 100)
        xs = [rev[k] for k in sorted(rev, key=lambda k: (rev[k], k))]
        n, s = len(xs), sum(xs)
        s1 = sum((i + 1) * x for i, x in enumerate(xs))
        want = (n, s, (1_000_000 * (2 * s1 - (n + 1) * s)) // (n * s))
        row = QUERIES["q_agg_gini"](spark, self.SF).collect()[0]
        assert (row.n_customers, row.total_cents, row.gini_ppm) == want

    def test_gini_bounds(self, spark):
        from fact_hive_custom_spark.queries import QUERIES

        row = QUERIES["q_agg_gini"](spark, self.SF).collect()[0]
        assert 0 <= row.gini_ppm < 1_000_000

    def test_basket_lift_bounds(self, spark):
        from fact_hive_custom_spark.queries import QUERIES

        rows = QUERIES["q_basket_lift"](spark, self.SF).collect()
        for r in rows:
            assert r.brand_a < r.brand_b
            assert r.n_both >= 10
            assert r.lift_ppm > 0

    def test_typicality_rank_bounds(self, spark):
        import pyarrow.parquet as pq

        from fact_hive_custom_spark.queries import QUERIES

        t = pq.read_table(f"{self.SF}/documents.parquet").to_pydict()
        vocab = set()
        for txt in t["text"]:
            if txt is not None:
                vocab.update(txt.split(" "))
        rows = QUERIES["q_llm_typicality"](spark, self.SF).collect()
        n_docs = sum(1 for x in t["text"] if x is not None)
        assert len(rows) == n_docs
        for r in rows:
            assert 1 <= r.mean_rank <= len(vocab)

    def test_impute_accounting(self, spark):
        from fact_hive_custom_spark.queries import QUERIES

        rows = QUERIES["q_ts_impute"](spark, self.SF).collect()
        for r in rows:
            # fixture has no NULL values, so nothing to impute — and
            # the imputed sum must then be consistent with raw rows
            assert r.n_imputed == 0
            assert r.n_rows >= 1


class TestKMeansInvariants:
    def test_lloyd_inertia_monotone_nonincreasing(self, spark):
        """Each Lloyd round may only lower (never raise) the total
        within-cluster integer SSE: assignment picks the argmin
        centroid per vector, and the fixed-point mean minimizes the
        per-cluster SSE up to the ±½-ulp scale-64 rounding — so
        inertia(T=0) ≥ inertia(T=1) ≥ inertia(T=2) must hold on the
        real fixture. Guards both the assignment's argmin direction and
        the update's mean arithmetic."""
        from pyspark.sql import functions as F

        from fact_hive_custom_spark.queries.clustering import _kmeans_parts

        inertias = []
        for r in range(3):
            _cent, assigned = _kmeans_parts(spark, "/root/testdata/sf0.01", r)
            inertias.append(assigned.agg(F.sum("dist")).collect()[0][0])
        assert inertias[0] >= inertias[1] >= inertias[2], inertias
        # and the iterations genuinely move: round 1 must improve on
        # the raw id-selected seeds for this fixture
        assert inertias[1] < inertias[0], inertias


class TestPQTrainInvariants:
    def test_pq_training_lowers_quantization_distortion(self, spark):
        """Two Lloyd rounds per subspace must not RAISE total PQ
        quantization distortion (Σ min_dist over all (vector,
        subspace) cells) vs the id-selected seed codebook — Lloyd's
        two half-steps each minimize the objective, up to the ±½-ulp
        integer mean rounding. On the real fixture the drop must also
        be strict (the seeds are not a fixed point)."""
        from pyspark.sql import functions as F

        from fact_hive_custom_spark.queries.corpus import _pq_parts
        from fact_hive_custom_spark.tables import load_embeddings

        emb = load_embeddings(spark, "/root/testdata/sf0.01")
        d0 = (
            _pq_parts(emb, train_rounds=0)[3]
            .agg(F.sum("min_dist"))
            .collect()[0][0]
        )
        d2 = (
            _pq_parts(emb, train_rounds=2)[3]
            .agg(F.sum("min_dist"))
            .collect()[0][0]
        )
        assert d2 <= d0, (d0, d2)
        assert d2 < d0, (d0, d2)


class TestPrefixJaccardInvariants:
    def test_prefix_filtering_is_lossless_vs_all_pairs(self, spark):
        """Prefix filtering is an EXACT method: on the same corpus it
        must reproduce the all-pairs exact Jaccard join identically —
        same pairs, same 6-dp scores. A shorter-than-⌈τn⌉-complement
        prefix (e.g. via float ceil) would drop pairs; this is the
        Spark-side twin of the oracle equality the parity suite pins."""
        from fact_hive_custom_spark.operators.dedup import (
            jaccard_pairs,
            prefix_jaccard_pairs,
        )
        from fact_hive_custom_spark.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.01", "documents")
        exact = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in jaccard_pairs(docs, threshold=0.8, k=3, max_doc_freq=None).collect()
        }
        pref = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in prefix_jaccard_pairs(docs, tau_num=4, tau_den=5, k=3).collect()
        }
        assert pref == exact, (
            f"missed: {exact - pref}; extra: {pref - exact}"
        )

    def test_prefix_length_integer_arithmetic(self, spark):
        """⌈τ·n⌉ must be exact on τ-multiples: for τ=4/5 and n=5 the
        prefix is 5 − 4 + 1 = 2 shingles, not 1 (the float-ceil bug)."""
        tau_num, tau_den = 4, 5
        for n, want in [(5, 2), (10, 3), (4, 1), (6, 2), (11, 3)]:
            ceil_tn = (tau_num * n + tau_den - 1) // tau_den
            assert n - ceil_tn + 1 == want, (n, ceil_tn)


class TestDfloorGuard:
    """_dfloor (stats.py) past its ~1e32 quotient headroom must FAIL
    LOUDLY, never return a silent NULL that would show up only as a
    parity hash-red (round-10 ADVICE). ANSI sessions already raise on
    the decimal overflow; the fragment's own raise_error guard makes
    the behavior uniform under non-ANSI configs too."""

    def test_in_range_exact(self, spark):
        from fact_hive_custom_spark.queries.stats import _dfloor

        row = spark.sql(
            "SELECT "
            + _dfloor("CAST(7 AS DECIMAL(38,0))", "CAST(2 AS DECIMAL(38,0))")
            + " AS q"
        ).collect()[0]
        assert int(row.q) == 3

    def test_overflow_raises_not_null(self, spark):
        import pytest as _pytest

        from fact_hive_custom_spark.queries.stats import _dfloor

        big = "CAST('1' || repeat('0', 36) AS DECIMAL(38,0))"
        with _pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE|_dfloor"):
            spark.sql(
                "SELECT " + _dfloor(big, "CAST(1 AS DECIMAL(38,0))") + " AS q"
            ).collect()

    def test_null_input_propagates(self, spark):
        from fact_hive_custom_spark.queries.stats import _dfloor

        row = spark.sql(
            "SELECT "
            + _dfloor(
                "CAST(NULL AS DECIMAL(38,0))", "CAST(2 AS DECIMAL(38,0))"
            )
            + " AS q"
        ).collect()[0]
        assert row.q is None


class TestExactTestAlgebra:
    """Pure-arithmetic invariants of the round-11 exact-test family —
    checked against Python's arbitrary-precision integers for ANY
    margins, not just the fixture's."""

    @given(
        n=st.integers(0, 12),
        k=st.integers(0, 12),
    )
    @settings(max_examples=40, deadline=None)
    def test_sign_test_tail_symmetric_and_bounded(self, n, k):
        import math

        k = min(k, n)
        tail = sum(math.comb(n, i) for i in range(min(k, n - k) + 1))
        p_num = min(2 * tail, 2**n)
        p = 1000000 * p_num // 2**n
        # p is a probability; symmetric in k vs n-k; p=1e6 at the center
        assert 0 < p <= 1000000
        tail2 = sum(math.comb(n, i) for i in range(min(n - k, k) + 1))
        assert tail == tail2
        if n % 2 == 0 and k == n // 2:
            assert p == 1000000

    @given(
        n=st.integers(1, 25),
        r1=st.integers(0, 25),
        k_shift=st.integers(0, 25),
    )
    @settings(max_examples=40, deadline=None)
    def test_fisher_tail_is_valid_probability(self, n, r1, k_shift):
        import math

        r1 = min(r1, n)
        c1 = n // 2
        lo, hi = max(0, r1 + c1 - n), min(r1, c1)
        k_obs = lo + (k_shift % (hi - lo + 1))
        terms = {
            k: math.comb(r1, k) * math.comb(n - r1, c1 - k)
            for k in range(lo, hi + 1)
        }
        p_num = sum(v for v in terms.values() if v <= terms[k_obs])
        p_den = math.comb(n, c1)
        # Vandermonde: the full support sums to C(n, c1) exactly
        assert sum(terms.values()) == p_den
        assert 0 < p_num <= p_den
        # the observed table is always included in its own tail
        assert p_num >= terms[k_obs]

    @given(
        ps=st.lists(st.integers(0, 1000000), min_size=1, max_size=25),
    )
    @settings(max_examples=40, deadline=None)
    def test_bh_stepup_properties(self, ps):
        m = len(ps)
        ranked = sorted(ps)
        raw = [
            min(1000000, p * m // (i + 1)) for i, p in enumerate(ranked)
        ]
        adj = [min(raw[i:]) for i in range(m)]
        for i in range(m):
            assert adj[i] >= ranked[i]  # adjusted dominates raw p
            assert adj[i] <= 1000000
            if i:
                assert adj[i] >= adj[i - 1]  # monotone nondecreasing
        # the largest p is never shrunk below itself: adj[-1] == raw[-1]
        assert adj[-1] == raw[-1] == min(1000000, ranked[-1])
