"""Near-duplicate detection operators (SURVEY.md §2.2.I).

Two tiers, same contract (pairs of near-duplicate doc ids):

- `jaccard_pairs` — exact shingle-set Jaccard via self-join on shingle.
  O(candidate pairs); only viable when shingle selectivity keeps the
  join small. It is the *oracle* for the scaled path.
- `minhash_lsh_pairs` — MinHash signatures + LSH banding. The 100 TB
  path: per-doc cost is O(shingles × num_hashes) map-side, the only
  shuffles are one groupBy(doc) and one self-join on (band, bucket),
  and candidate verification touches only bucket-colliding pairs.
  Everything is seeded `xxhash64` — fully deterministic, no ML-lib
  vector boxing, stays inside whole-stage codegen.

Banding math: with r rows/band and b bands, P(candidate | jaccard=j)
= 1-(1-j^r)^b. Defaults r=3, b=8 (24 hashes) put the S-curve knee at
(1/b)^(1/r) ≈ 0.5, giving ≈99.7% recall at j=0.8.

Shared relations, each defined once here:

- `hashed_shingles` — the (doc_id, 64-bit shingle hash) frame all four
  pair operators and q_llm_decontaminate start from; `shingles_sql(k)`
  is its DuckDB twin, the `toks`/`sh` CTEs every shingle oracle reads
  (shingle strings, not hashes);
- `_prefix_ranked` — the rarest-first ranking and ⌈τn⌉ prefix
  predicate of `prefix_jaccard_pairs` and `prefix_containment_pairs`;
- `_candidate_overlap` — the candidate-pair → |A∩B| verification join
  of `minhash_lsh_pairs` and both prefix joins;
- `_jaccard_at_least` — the size join and threshold tail of
  `jaccard_pairs` and `minhash_lsh_pairs`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fact_hive_custom_spark.materialize import materialize


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, shingle) — distinct k-word shingles per document.

    Documents shorter than k tokens produce no shingles (they cannot
    near-duplicate anything under k-shingle Jaccard).

    Two-step projection on purpose: tokens are materialized as a bound
    column BEFORE the shingling lambda, so the document is split once
    per row, not once per shingle position (the higher-order-function
    re-evaluation trap — 4.7× on the sf1.0 corpus; functions/text.py).
    """
    from fact_hive_custom_spark.functions.text import ngram_shingles_of, tokens

    # fan_out(docs) was tried here (r16) and measured SLOWER for the
    # dedup family (minhash_lsh paired 1.5/2.2 → 2.7/2.7 s): since the
    # bound-tokens fix the tokenize pass is no longer the wall, and
    # the widening exchange + lost scan fusion cost more than the
    # parallelism buys. The fan_out wins stay where the pre-exchange
    # map work dominates (permutation md5 ×64, sketch hashing).
    toked = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    return toked.select(
        "doc_id", F.explode(ngram_shingles_of(F.col("__toks"), k)).alias("shingle")
    )


def hashed_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) with each k-shingle as its 64-bit xxhash64 —
    the representation every pair operator joins on.

    Longs, not strings: the pair join is the dominant shuffle and
    longs move/compare ~3× cheaper than 3-word strings. A hash
    collision would need two distinct shingles in overlapping docs to
    collide in 64 bits (~2^-64 per pair) — negligible against
    float-rounding noise.
    """
    return shingles(docs, k=k).select("doc_id", F.xxhash64("shingle").alias("shingle"))


def shingles_sql(k: int) -> str:
    """DuckDB twin of `shingles` over the `documents` view: the CTEs
    `toks` (doc_id, t) and `sh` (doc_id, shingle), distinct k-word
    shingle strings per document, written to follow a `WITH`.
    Documents under k tokens (and NULL text) produce no rows."""
    return f"""toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - {k - 2}, 1)),
                                     i -> array_to_string(list_slice(t, i, i + {k - 1}), ' '))) AS shingle
        FROM toks WHERE len(t) >= {k}
    )"""


def _df_capped(sh: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds the cap — the
    CCNet/Gopher stop-shingle filter shared by jaccard_pairs and
    minhash_lsh_pairs.

    r15: the cap is a groupBy + LEFT ANTI join against the hot list,
    replacing the round-14 COUNT() window over the full shingle
    table. The window shuffled and sorted EVERY (doc, shingle) row on
    the shingle key just to count; the groupBy partial-aggregates
    map-side, the surviving hot list is tiny BY DEFINITION (only
    shingles in > max_doc_freq docs — boilerplate), and AQE plans the
    anti join as a runtime broadcast, so the shingle frame itself no
    longer shuffles at all for the cap. Identical rows (same count,
    same predicate — the same A/B'd transform that cut the DuckDB
    oracle 2.7×, r15 verdict item 7). A hot shingle's count still
    lands on one reducer (trivial — it's one counter). The cap spaces
    note from round 14 stands: the df is counted on the 64-bit HASH,
    the SQL oracle on the shingle STRING — the same ~2^-64-per-pair
    collision assumption the pair join already makes.

    r16 re-measure (PERF_r15.json had jaccard_pairs at 0.56×):
    paired fresh-JVM A/B of this anti-join cap vs the r14 window cap
    vs anti-join + repartition(shingle) pre-persist, 3 alternated
    rounds — medians 2.21 / 2.18 / 2.31 s, statistically identical
    (AQE broadcasts the sf0.1 self-join, so cache partitioning is
    moot locally; at scale the map-side-agg cap still strictly
    dominates the full window shuffle+sort). Kept.
    """
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


def _candidate_overlap(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter) — exact |A∩B| for each candidate pair.

    Both sides' full shingle sets join onto the candidates keyed
    (doc, shingle), so verification touches only candidate pairs:
    candidate count ≈ true-dup count, and this stage stays tiny
    regardless of corpus size.
    """
    return (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id")) & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def _jaccard_at_least(inter: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the pairs of `inter` (doc_a, doc_b,
    n_inter) whose Jaccard over the shingle sets of `sh` is ≥
    threshold, jaccard 6-dp rounded."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter") / (F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_inter"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    k: int = 3,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard: all pairs with |A∩B| / |A∪B| >= threshold.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    `max_doc_freq` is the hot-shingle cap: shingles occurring in more
    than that many documents are dropped BEFORE the self-join (the
    CCNet/Gopher-style stop-shingle filter). Without it one stop-word
    shingle shared by 1M docs makes the join quadratic — the round-1
    scale-killer for this operator. Sizes are computed on the capped
    shingle space, so the score is the exact Jaccard over non-hot
    shingles — within epsilon of full Jaccard while the cap covers
    < 1/threshold of either doc's shingles, and identical whenever no
    shingle is hot (asserted on fixtures in tests). Pass None to
    disable (exact oracle semantics at any frequency).
    """
    sh = hashed_shingles(docs, k=k)
    if max_doc_freq is not None:
        sh = _df_capped(sh, max_doc_freq)
    # Measured against the identity (q_llm_jaccard_dedup): sf0.1
    # 3.54/3.56/3.50 vs 3.96/4.06/3.48 s, sf1.0 25.4/24.7/27.1 vs 32.2/33.5/28.9.
    sh = materialize(sh)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_at_least(inter, sh, threshold)


def minhash_signatures(sh: DataFrame, num_hashes: int = 24) -> DataFrame:
    """(doc_id, h0..h{n-1}) — MinHash signature as one min-agg per seed.

    One shuffle (groupBy doc_id); the seeded xxhash64 family is
    computed map-side in codegen.
    """
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(seed))).alias(f"h{seed}")
        for seed in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    rows_per_band: int = 3,
    num_bands: int = 8,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """LSH candidate generation + exact verification.

    Returns (doc_a, doc_b, jaccard) for verified pairs ≥ threshold.
    Pipeline: shingle → signature → band buckets → self-join on
    (band, bucket) → exact Jaccard on the (tiny) candidate set.

    `max_doc_freq` is the hot-shingle cap, the same stop-shingle
    filter as jaccard_pairs and for a sharper reason here (measured,
    round 14 — SKEW_r14.md): a boilerplate header in 20% of docs wins
    all r minhash rows of some band for ~15% of the hot docs, so band
    buckets go from ≤10 docs to ~1500 and the candidate pair count
    ~95×es (19k → 1.8M on the 50k-doc skew fixture; at 1B docs the
    same shape is quadratic death). Shingles with df > cap carry no
    discriminative signal and are dropped BEFORE signatures, so both
    banding and verification run on the capped space — identical to
    the uncapped result whenever no shingle is hot (the uniform
    fixtures), and mirrored exactly by the capped SQL oracle
    otherwise. Pass None for uncapped semantics.
    """
    # Signatures hash the 64-bit shingle key again per seed (a valid
    # MinHash family), and the verification join shuffles longs.
    sh = hashed_shingles(docs, k=k)
    if max_doc_freq is not None:
        sh = _df_capped(sh, max_doc_freq)
    # Measured against the identity (q_llm_dedup_clusters): sf0.1
    # 2.99/3.83/2.74 vs 4.03/4.02/3.18 s; sf1.0 not yet measured.
    sh = materialize(sh)
    sig = minhash_signatures(sh, num_hashes=rows_per_band * num_bands)

    bands = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.xxhash64(
                    *[F.col(f"h{band * rows_per_band + r}") for r in range(rows_per_band)],
                    F.lit(10_000 + band),
                ).alias("bucket"),
            )
            for band in range(num_bands)
        ]
    )
    buckets = sig.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _jaccard_at_least(_candidate_overlap(candidates, sh), sh, threshold)


def simhash_64(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """(doc_id, simhash) — SimHash fingerprint over word tokens.

    Classic Charikar sketch: each token votes its hash bits ±1; the
    sign of each bit-position sum forms the fingerprint. Computed with
    explode + groupBy (one shuffle), bit ops in codegen. Near-dups have
    small Hamming distance between fingerprints.

    Two hash families, same sketch:
    - default: 64-bit seeded xxhash64 — fastest, JVM-only (scale path).
    - portable=True: 60-bit md5-prefix (`conv(substr(md5(tok),1,15))`)
      — bit-identical to `('0x'||substr(md5(tok),1,15))::BIGINT` in
      ANSI-SQL engines, so the fingerprint itself is oracle-checkable.
    """
    nbits = 60 if portable else 64
    tok = F.explode(F.split(F.col(text_col), " ")).alias("token")
    toks = docs.select(F.col(id_col).alias("doc_id"), tok)
    if portable:
        h = F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(F.col("token"))
    # vote per bit: +1 if bit set else -1 == 2*bit-1
    votes = [
        F.sum(F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{i}")
        for i in range(nbits)
    ]
    voted = toks.groupBy("doc_id").agg(*votes)
    fingerprint = None
    for i in range(nbits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        fingerprint = term if fingerprint is None else fingerprint.bitwiseXOR(term)
    return voted.select("doc_id", fingerprint.alias("simhash"))


def _prefix_ranked(
    sh: DataFrame, tau_num: int, tau_den: int
) -> tuple[DataFrame, Column, DataFrame]:
    """Rarest-first prefix ranking for the τ = tau_num/tau_den prefix
    filters: returns (ranked, in_prefix, sizes).

    `ranked` is `sh` with each shingle's global document frequency
    `df`, its doc's set size `n` and its rank `rk` in the doc by
    (df, shingle); `in_prefix` keeps the first n − ⌈τ·n⌉ + 1 ranks,
    ⌈τ·n⌉ in exact integer arithmetic; `sizes` is (doc_id, n). One
    shuffle keyed shingle (the df window), one keyed doc_id (size and
    rank share the exchange).
    """
    dfw = Window.partitionBy("shingle")
    szw = Window.partitionBy("doc_id")
    rkw = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = (
        sh.withColumn("df", F.count(F.lit(1)).over(dfw))
        .withColumn("n", F.count(F.lit(1)).over(szw))
        .withColumn("rk", F.row_number().over(rkw))
    )
    in_prefix = (
        F.col("rk")
        <= F.col("n")
        - F.expr(f"({tau_num} * n + {tau_den} - 1) DIV {tau_den}")
        + 1
    )
    return ranked, in_prefix, ranked.select("doc_id", "n").distinct()


def prefix_jaccard_pairs(
    docs: DataFrame,
    tau_num: int = 4,
    tau_den: int = 5,
    k: int = 3,
) -> DataFrame:
    """Exact Jaccard ≥ tau_num/tau_den via PREFIX FILTERING (the
    PPJoin family, Xiao et al. 2008) — the LOSSLESS scale path for
    exact-threshold set-similarity join, complementing minhash_lsh
    (probabilistic recall) and jaccard_pairs (all-pairs oracle):

    1. every doc orders its shingle set by GLOBAL document frequency
       ascending (rarest first; any total order is correct, frequency
       order minimizes candidates);
    2. only the first n − ⌈τ·n⌉ + 1 shingles (the PREFIX) enter the
       candidate join — two sets with Jaccard ≥ τ MUST share a prefix
       shingle (pigeonhole: disjoint prefixes leave < τ·n matchable),
       so no qualifying pair is ever missed;
    3. candidates additionally pass the length filter
       τ·max(|A|,|B|) ≤ min(|A|,|B|), then verify with the exact
       full-set intersection — every emitted score is exact.

    τ is a RATIONAL (tau_num/tau_den): prefix length and threshold
    compare in exact integer arithmetic (⌈τn⌉ = (τ_num·n + τ_den − 1)
    DIV τ_den). Float ceil(0.8·n) rounds the WRONG WAY on exact
    multiples (0.8·5 → 4.000000000000000222 → ceil 5) and silently
    shortens the prefix — a lossy prefix is a correctness bug, not an
    approximation.

    Scale shape: one shuffle keyed shingle (the df window), one keyed
    doc_id (size + prefix rank share the exchange), a candidate join
    keyed on PREFIX shingles only — candidate volume is bounded by
    rare-shingle collisions, not |corpus|² — and verification joins
    keyed (doc, shingle) touch only candidate pairs. Returns
    (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard 6-dp rounded.
    """
    sh = hashed_shingles(docs, k=k)
    ranked, in_prefix, sizes = _prefix_ranked(sh, tau_num, tau_den)
    pref = ranked.filter(in_prefix).select("doc_id", "shingle", "n")
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        # length filter: Jaccard ≥ τ forces min size ≥ τ·max size
        .filter(
            F.lit(tau_den) * F.least("a.n", "b.n")
            >= F.lit(tau_num) * F.greatest("a.n", "b.n")
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return (
        _candidate_overlap(cand, sh)
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        # exact rational threshold: τ_den·|∩| ≥ τ_num·|∪|
        .filter(
            F.lit(tau_den) * F.col("n_inter")
            >= F.lit(tau_num) * (F.col("na") + F.col("nb") - F.col("n_inter"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


def prefix_containment_pairs(
    docs: DataFrame,
    tau_num: int = 9,
    tau_den: int = 10,
    k: int = 3,
) -> DataFrame:
    """Asymmetric CONTAINMENT join: pairs where |A∩B| / |A| ≥
    tau_num/tau_den and |A| ≤ |B| (ties by id) — the sub-document
    duplication detector (quotes, wholesale inclusion, page-in-page)
    that symmetric Jaccard structurally misses when |B| ≫ |A|:
    containment 1.0 pairs can have Jaccard → 0.

    Lossless one-sided prefix filter: only the CONTAINED side is
    prefix-pruned — if A shares none of its n − ⌈τ·n⌉ + 1 rarest
    shingles with B, fewer than τ·n of A's shingles can match
    (pigeonhole), so A is not τ-contained in B. The container side
    joins with its FULL shingle set (no symmetric prefix exists for
    containment). Same exact rational arithmetic as
    prefix_jaccard_pairs; candidates verify with the exact
    intersection. Returns (doc_a, doc_b, containment): doc_a the
    contained doc, doc_b the container, score = |A∩B|/|A| 6-dp.

    Size order: requires |A| < |B|, or |A| = |B| with doc_a < doc_b —
    each unordered pair is tested exactly once in its only possible
    containment direction ≥ τ > ½... (both directions pass only for
    equal sets, where the id order picks one canonical row).
    """
    sh = hashed_shingles(docs, k=k)
    ranked, in_prefix, sizes = _prefix_ranked(sh, tau_num, tau_den)
    pref_a = ranked.filter(in_prefix).select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("n").alias("na")
    )
    full_b = ranked.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("n").alias("nb")
    )
    cand = (
        pref_a.join(full_b, "shingle")
        .filter(
            (F.col("na") < F.col("nb"))
            | ((F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b")))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return (
        _candidate_overlap(cand, sh)
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .filter(
            F.lit(tau_den) * F.col("n_inter") >= F.lit(tau_num) * F.col("na")
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_inter") / F.col("na"), 6).alias("containment"),
        )
    )
