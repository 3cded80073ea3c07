"""Distributed clustering: exact-integer Lloyd k-means over the
embedding corpus.

Why this exists: the PQ/IVF family (corpus.py) deliberately uses
id-selected codebooks because they are oracle-expressible — and
ANN_RECALL.md documents the recall cost of that honesty. This module
closes the gap: Lloyd's algorithm IS oracle-expressible if every
quantity stays an exact integer — quantize to the int8 grid, shift to
non-negative (distances are shift-invariant), hold centroids in
scale-64 fixed point, and round the mean with integer arithmetic
((128·Σu + n) DIV 2n == floor(64·mean + ½) for non-negative sums,
where DuckDB `//` and Spark `DIV` agree). Every assignment compares
exact integer L2² with a cid tiebreak, so Spark and DuckDB walk the
IDENTICAL trajectory through every iteration — no float drift, no
seed, no convergence ambiguity.

Reference parity note: /root/reference/fact-hive is a 142-line miner
wrapper with no clustering surface (SURVEY.md §0); this operator is
charter-derived (training-data pipeline: codebook training for
IVF/PQ, SemDeDup cluster induction, corpus bucketing).

Scale design (100 TB): per Lloyd round the corpus is scanned ONCE
(codes-only: vec_id + 64 ints ≈ 0.5 kB/row), assignment is a
broadcast join of the K centroid rows plus a per-vector min_by
(functions/vectors.py nearest), combined map-side so the one vec_id
exchange moves one row per vector and task, and the update shuffle
carries only K×D partial (sum, count) pairs per task — independent
of corpus size. T rounds = T+1 scans, the textbook distributed-k-means
cost. The quantized relation is built once with `materialize()` (an
eager checkpoint) and every round reads it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_hive_custom_spark.functions.vectors import nearest, sqdist
from fact_hive_custom_spark.materialize import materialize

from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.tables import int8_grid, int8_grid_sql, load_embeddings

# K seeds (the K lowest vec_ids — deterministic and SQL-expressible,
# the same convention as the PQ/IVF codebooks), T full Lloyd update
# rounds, centroids in scale-64 fixed point on the shifted int8 grid.
_KM_K = 8
_KM_T = 2
_KM_SCALE = 64


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, us) — int8-quantized embedding shifted to [0, 254].

    tables.int8_grid, the grid of the PQ family and PCA; the +127
    shift makes every component non-negative so the fixed-point mean
    rounding below is floor-division-portable across engines.
    Materialized, because every Lloyd round re-reads it.
    """
    emb = load_embeddings(spark, sf_dir).select("vec_id", "embedding")
    q = (
        int8_grid(emb, shift=127)
        .withColumnRenamed("qs", "us")
        # the fixture corpus is one parquet file → one scan partition;
        # round-robin so the map-side distance stage of every round
        # runs on all cores (measured lesson from q_llm_semdedup)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # Measured against the identity (q_llm_kmeans): sf0.1 1.83/1.80/1.77
    # vs 2.74/2.36/2.02 s, sf1.0 4.39/4.16/4.74 vs 5.92/5.33/5.61.
    return q.transform(materialize)


def _centroids(cent_long: DataFrame) -> DataFrame:
    """K×D long-form centroids → K rows of (cid, carr), the
    dim-ordered centroid array."""
    return cent_long.groupBy("cid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"],
        ).alias("carr")
    )


def _assign(q: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector — exact integer L2² on the scale-64
    grid, ties to the lowest cid, matching the oracle's
    ORDER BY dist, cid."""
    return nearest(
        q,
        cents,
        "vec_id",
        "cid",
        sqdist("us", "carr", scale=_KM_SCALE),
        F.first("us").alias("us"),
    ).select("vec_id", "us", "cluster", F.col("best").alias("dist"))


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: per-(cluster, dim) fixed-point rounded mean.
    posexplode keeps dims JVM-side; partial aggregation collapses the
    shuffle to K×D (sum, count) pairs per task. (128·Σu + n) DIV 2n
    is floor(64·mean + ½) exactly, for non-negative u."""
    return (
        assigned.select(
            F.col("cluster").alias("cid"),
            F.posexplode("us").alias("pos", "u"),
        )
        .groupBy("cid", (F.col("pos") + 1).cast("bigint").alias("dim"))
        .agg(
            F.expr(
                "CAST((128 * SUM(u) + COUNT(*)) DIV (2 * COUNT(*)) AS BIGINT)"
            ).alias("c")
        )
    )


def _kmeans_parts(spark: SparkSession, sf_dir: str, rounds: int = _KM_T):
    """(final centroid long-form, final assignment) after `rounds`
    Lloyd updates from the K-lowest-id seeds. Exposed for the
    inertia-monotonicity property test."""
    q = _quantized(spark, sf_dir)
    cent = (
        q.orderBy("vec_id")
        .limit(_KM_K)
        .select(
            F.col("vec_id").alias("cid"),
            F.posexplode("us").alias("pos", "u"),
        )
        .select(
            "cid",
            (F.col("pos") + 1).cast("bigint").alias("dim"),
            (F.lit(_KM_SCALE) * F.col("u")).cast("bigint").alias("c"),
        )
    )
    for _ in range(rounds):
        assigned = _assign(q, _centroids(cent))
        cent = _update(assigned)
    return cent, _assign(q, _centroids(cent))


def _km_assign_cte(cent: str, tag: str) -> str:
    """One oracle Lloyd step: assignment vs `cent`, then the updated
    centroid table — mirrors _assign/_update stage for stage."""
    return f"""
    a{tag} AS (
        SELECT l.vec_id, c.cid,
               SUM(({_KM_SCALE} * l.u - c.c) * ({_KM_SCALE} * l.u - c.c)) AS dist
        FROM ql l JOIN {cent} c ON l.dim = c.dim
        GROUP BY l.vec_id, c.cid
    ),
    asg{tag} AS (
        SELECT vec_id, cid, dist FROM a{tag}
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) = 1
    ),
    c{tag} AS (
        SELECT a.cid, l.dim,
               (128 * SUM(l.u) + COUNT(*)) // (2 * COUNT(*)) AS c
        FROM asg{tag} a JOIN ql l ON a.vec_id = l.vec_id
        GROUP BY a.cid, l.dim
    )"""


@register(
    "q_llm_kmeans",
    oracle=f"""
    WITH {int8_grid_sql(shift=127)},
    ql AS (
        SELECT vec_id, CAST(d AS BIGINT) AS dim, qs[CAST(d AS INT)] AS u
        FROM q, unnest(generate_series(1, len(qs))) AS t(d)
    ),
    c0 AS (
        SELECT vec_id AS cid, dim, {_KM_SCALE} * u AS c FROM ql
        WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT {_KM_K})
    ),
    {_km_assign_cte('c0', '1')},
    {_km_assign_cte('c1', '2')},
    af AS (
        SELECT l.vec_id, c.cid,
               SUM(({_KM_SCALE} * l.u - c.c) * ({_KM_SCALE} * l.u - c.c)) AS dist
        FROM ql l JOIN c2 c ON l.dim = c.dim
        GROUP BY l.vec_id, c.cid
    ),
    asgf AS (
        SELECT vec_id, cid, dist FROM af
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) = 1
    )
    SELECT cid AS cluster_id,
           COUNT(*) AS n_members,
           CAST(SUM(dist) AS BIGINT) AS inertia,
           MIN(vec_id) AS min_member_id
    FROM asgf GROUP BY cid ORDER BY cluster_id
    """,
)
def q_llm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means over the embedding corpus, T=2 exact update
    rounds from the K=8 lowest-id seeds: per final cluster
    its size, exact-integer inertia (Σ L2² on the scale-64 grid), and
    lowest member id. This is codebook TRAINING — the step the
    id-selected PQ/IVF codebooks (corpus.py, ANN_RECALL.md) document
    as the production upgrade; here it runs, exactly, in both engines.

    Every iteration is bit-identical across engines: assignment
    compares exact integer L2² (ties → lowest cid), the mean rounds
    via (128·Σu + n) DIV 2n on non-negative components (floor
    division agrees between Spark DIV and DuckDB //), so iteration 2
    starts from byte-equal centroids in both. Empty clusters drop in
    both engines the same way (no member rows → no updated centroid).

    Plan (pinned in tests/test_plans.py): per round the corpus is
    scanned once from the materialized codes-only relation, assignment is
    a broadcast join of the K centroid rows and a map-side-combined
    min_by per vec_id (one exchange of one row per vector and task),
    and the update's posexplode+groupBy shuffle carries only K×D
    partially-aggregated (sum, count) pairs per task. At 100 TB: T+1
    codes-only scans, T+1 assignment exchanges of the codes and T
    constant-size update shuffles."""
    _cent, assigned = _kmeans_parts(spark, sf_dir, _KM_T)
    return (
        assigned.groupBy(F.col("cluster").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist").cast("bigint").alias("inertia"),
            F.min("vec_id").alias("min_member_id"),
        )
        .orderBy("cluster_id")
    )


def _pca_round_cte(prev: str, tag: str) -> str:
    """One oracle power-iteration step: w = M·v, then the portable
    integer rescale v' = sign(w)·(|w| DIV (max|w| DIV 127 + 1)) —
    divisor strictly exceeds max|w|/127 so components stay ≤ 127,
    and the dividend is non-negative so DuckDB // and Spark DIV
    agree (they differ on negative operands)."""
    return f"""
    w{tag} AS (
        SELECT m.i, SUM(m.a * v.v) AS w
        FROM scatter m JOIN {prev} v ON m.j = v.i
        GROUP BY m.i
    ),
    v{tag} AS (
        SELECT i,
               (CASE WHEN w < 0 THEN -1 ELSE 1 END)
               * (abs(w) // ((SELECT max(abs(w)) FROM w{tag}) // 127 + 1))
               AS v
        FROM w{tag}
    )"""


@register(
    "q_llm_pca_power",
    oracle=f"""
    WITH {int8_grid_sql()},
    ql AS (
        SELECT vec_id, CAST(d AS BIGINT) AS i, qs[CAST(d AS INT)] AS u
        FROM q, unnest(generate_series(1, len(qs))) AS t(d)
    ),
    s AS (SELECT i, SUM(u) AS s FROM ql GROUP BY i),
    nn AS (SELECT COUNT(*) AS n FROM q),
    uu AS (
        SELECT a.i, b.i AS j, SUM(a.u * b.u) AS p
        FROM ql a JOIN ql b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    ),
    scatter AS (
        SELECT uu.i, uu.j, nn.n * uu.p - si.s * sj.s AS a
        FROM uu, nn
        JOIN s si ON si.i = uu.i
        JOIN s sj ON sj.i = uu.j
    ),
    v0 AS (SELECT i, CAST(1 AS BIGINT) AS v FROM s),
    {_pca_round_cte('v0', '1')},
    {_pca_round_cte('v1', '2')},
    w3 AS (
        SELECT m.i, SUM(m.a * v.v) AS w
        FROM scatter m JOIN v2 v ON m.j = v.i
        GROUP BY m.i
    ),
    v3 AS (
        SELECT i,
               (CASE WHEN w < 0 THEN -1 ELSE 1 END)
               * (abs(w) // ((SELECT max(abs(w)) FROM w3) // 127 + 1))
               AS v
        FROM w3
    )
    SELECT v3.i AS dim, CAST(v3.v AS BIGINT) AS eigvec_q, CAST(w3.w AS BIGINT) AS mv
    FROM v3 JOIN w3 ON v3.i = w3.i
    ORDER BY dim
    """,
)
def q_llm_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by THREE
    power-iteration rounds on the exact-integer centered scatter
    matrix M = n·ΣUUᵀ − SSᵀ (n² times the covariance — never divides,
    so every entry is an exact int64), from the all-ones start. Out:
    per dimension the scale-127 integer eigvector component after
    round 3 and the unnormalized M·v component entering it — the
    whitening/decorrelation primitive of an embedding pipeline
    (drift detection, dominant-axis removal, PCA-before-PQ).

    Engine-portability is the design: the scatter matrix, every
    matrix–vector product, and the rescale are integer arithmetic —
    the rescale divisor (max|w| DIV 127 + 1) keeps dividends
    non-negative so floor (DuckDB //) and truncation (Spark DIV)
    coincide; signs multiply back exactly. int64 budget: |M| ≤
    n²·254² needs n ≲ 3.8e8 vectors — past that the two SUMs widen to
    DECIMAL(38,0) (the q_stat_ttest_welch discipline).

    Plan (pinned): the per-vector outer product is ONE posexplode
    (n·D rows) whose row i computes its whole product vector in a
    single transform(), accumulated as D columnar SUMs and unpivoted
    with stack() — map-side, NO self-join of the long form on vec_id
    (that shape shuffles D²·n rows) and no second posexplode (the
    round-≤14 shape generated n·D² rows); the only corpus-sized
    exchange carries ≤ D×D partially-aggregated cells per task, keyed
    i; S and n are one-pass map-combined aggregates; the 64×64
    scatter and the 64-row vector iterate via broadcast joins —
    constant-size work independent of corpus, no collect, no
    Python."""
    q = int8_grid(load_embeddings(spark, sf_dir).select("vec_id", "embedding"))
    # Outer-product accumulation, r15 shape: explode ONCE (n·D rows),
    # compute row i's product vector against the whole array in one
    # transform(), and aggregate the D products as D columnar SUMs —
    # the round-≤14 double-posexplode generated n·D² ROWS (82 M at
    # sf1.0) and paid a hash-agg probe per product; this pays one
    # probe per (vector, i) row with a D-slot buffer. Same exact
    # bigint sums, same (i, j, p) relation after the stack unpivot.
    # Paired sf0.1 isolated warm medians: 16.4 → ~9 s. D is the
    # corpus embedding dimension — the PQ family's _PQ_M × _PQ_SUB
    # contract constant, imported rather than re-literalized so a
    # dimension change fails loudly (r15 ADVICE: a literal 64 would
    # silently drop dims > 64 / NULL-scatter dims < 64); the contract
    # filter guarantees every surviving row has exactly modal length,
    # and the fixture-drift test asserts modal == _PQ_M × _PQ_SUB.
    from fact_hive_custom_spark.queries.corpus import _PQ_M, _PQ_SUB

    d_dim = _PQ_M * _PQ_SUB
    ql = q.select(F.posexplode("qs").alias("pos_i", "ui"), "qs")
    prods = ql.select(
        (F.col("pos_i") + 1).cast("bigint").alias("i"),
        F.expr("transform(qs, x -> ui * x)").alias("pr"),
    )
    uu_wide = prods.groupBy("i").agg(
        *[
            F.sum(F.element_at("pr", j)).alias(f"p{j}")
            for j in range(1, d_dim + 1)
        ]
    )
    uu = uu_wide.select(
        "i",
        F.expr(
            "stack("
            + str(d_dim)
            + ", "
            + ", ".join(
                f"CAST({j} AS BIGINT), p{j}" for j in range(1, d_dim + 1)
            )
            + ") AS (j, p)"
        ),
    )
    s = (
        q.select(F.posexplode("qs").alias("pos", "u"))
        .groupBy((F.col("pos") + 1).cast("bigint").alias("i"))
        .agg(F.sum("u").alias("s"))
    )
    nn = q.agg(F.count(F.lit(1)).alias("n"))
    scatter = (
        uu.crossJoin(F.broadcast(nn))
        .join(F.broadcast(s.select(F.col("i"), F.col("s").alias("si"))), "i")
        .join(
            F.broadcast(
                s.select(F.col("i").alias("j"), F.col("s").alias("sj"))
            ),
            "j",
        )
        .select(
            "i",
            "j",
            (F.col("n") * F.col("p") - F.col("si") * F.col("sj")).alias("a"),
        )
    )
    # Every power-iteration round reads the D²-row scatter matrix.
    # Measured against the identity: sf0.1 2.85/3.42/2.88 vs
    # 11.82/13.72/11.84 s; sf1.0 not yet measured.
    scatter = materialize(scatter)
    # all-ones start, dims read from the materialized matrix
    # (re-deriving them from `s` would re-scan the corpus just to list
    # 1..D)
    v = scatter.select("i").distinct().withColumn(
        "v", F.lit(1).cast("bigint")
    )
    w = None
    for _ in range(3):
        w = (
            scatter.join(
                F.broadcast(v.select(F.col("i").alias("j"), "v")), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.col("a") * F.col("v")).alias("w"))
        )
        mx = w.agg((F.max(F.abs(F.col("w")))).alias("mx"))
        v = (
            w.crossJoin(F.broadcast(mx))
            .select(
                "i",
                (
                    F.when(F.col("w") < 0, F.lit(-1)).otherwise(F.lit(1))
                    * F.expr("abs(w) DIV (mx DIV 127 + 1)")
                ).cast("bigint").alias("v"),
            )
        )
    return (
        v.join(F.broadcast(w), "i")
        .select(
            F.col("i").alias("dim"),
            F.col("v").alias("eigvec_q"),
            F.col("w").alias("mv"),
        )
        .orderBy("dim")
    )


@register(
    "q_llm_kmeans_purity",
    oracle=f"""
    WITH {int8_grid_sql(shift=127)},
    ql AS (
        SELECT vec_id, CAST(d AS BIGINT) AS dim, qs[CAST(d AS INT)] AS u
        FROM q, unnest(generate_series(1, len(qs))) AS t(d)
    ),
    c0 AS (
        SELECT vec_id AS cid, dim, {_KM_SCALE} * u AS c FROM ql
        WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT {_KM_K})
    ),
    {_km_assign_cte('c0', '1')},
    {_km_assign_cte('c1', '2')},
    af AS (
        SELECT l.vec_id, c.cid,
               SUM(({_KM_SCALE} * l.u - c.c) * ({_KM_SCALE} * l.u - c.c)) AS dist
        FROM ql l JOIN c2 c ON l.dim = c.dim
        GROUP BY l.vec_id, c.cid
    ),
    asgf AS (
        SELECT vec_id, cid FROM af
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) = 1
    ),
    lab AS (
        SELECT a.cid, e.label, COUNT(*) AS n
        FROM asgf a JOIN emb e ON e.vec_id = a.vec_id
        GROUP BY 1, 2
    ),
    top AS (
        SELECT cid, label, n,
               CAST(SUM(n) OVER (PARTITION BY cid) AS BIGINT) AS n_members
        FROM lab
        QUALIFY row_number() OVER (PARTITION BY cid
                                   ORDER BY n DESC, label) = 1
    )
    SELECT cid AS cluster_id,
           n_members,
           label AS top_label,
           CAST(n AS BIGINT) AS top_label_n,
           CAST((1000000 * n) // n_members AS BIGINT) AS purity_ppm
    FROM top
    ORDER BY cluster_id
    """,
)
def q_llm_kmeans_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation: PURITY of the trained k-means
    clusters (q_llm_kmeans's exact 2-round Lloyd trajectory) against
    the embeddings' ground-truth labels — the external-validity check
    that tells a curation pipeline whether its unsupervised clusters
    track real categories before it uses them for stratified
    sampling, semdedup cluster bounds, or mixture weights.

    Per cluster: majority label (ties broken label-ASC both engines),
    its count, and purity_ppm = 1e6·top_n DIV n_members — exact
    integers on top of the exact-integer Lloyd assignment, so the
    whole train→assign→evaluate chain is oracle-checked end to end
    (the same discipline as q_llm_pq_trained_topk for the PQ family).

    Plan: reuses the kmeans assignment (codes materialized, one
    vec_id exchange per assignment); the label attach joins the
    assignment to the embeddings scan on vec_id (co-partitioned), the
    per-(cluster, label) count is map-combined, and the majority pick
    is a window over ≤ K·|labels| rows."""
    _, assigned = _kmeans_parts(spark, sf_dir)
    labels = load_embeddings(spark, sf_dir).select("vec_id", "label")
    lab = (
        assigned.select("vec_id", F.col("cluster").alias("cid"))
        .join(labels, "vec_id")
        .groupBy("cid", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    top = (
        lab.select(
            "cid",
            "label",
            "n",
            F.sum("n")
            .over(Window.partitionBy("cid"))
            .cast("bigint")
            .alias("n_members"),
            F.row_number()
            .over(
                Window.partitionBy("cid").orderBy(F.desc("n"), "label")
            )
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    return top.select(
        F.col("cid").alias("cluster_id"),
        "n_members",
        F.col("label").alias("top_label"),
        F.col("n").cast("bigint").alias("top_label_n"),
        F.expr("CAST((1000000 * n) DIV n_members AS BIGINT)").alias(
            "purity_ppm"
        ),
    ).orderBy("cluster_id")
