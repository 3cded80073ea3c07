"""Multimodal / media queries: perceptual-hash near-dup detection
over opaque media assets.

Reference parity note: the reference repo (/root/reference/fact-hive,
142 lines of miner-wrapper bash — h-run.sh:1-106) implements no media
semantics; this module is charter surface ("multimodal columns as
first-class"), designed Spark-first.

The media corpus here follows the engine's multimodal column model
(operators/multimodal.py, q_source_binary): assets are opaque bytes
ingested via binaryFile; a decode/feature-extract seam (mapInPandas —
image libs are stubbed in this environment) yields a fixed 64-d
feature vector per asset. The fixtures carry that feature vector
directly (embeddings.parquet), so these queries start at the
post-decode seam — which is also the only part whose SHAPE matters at
100 TB: everything below operates on 64-bit sketches, never on media
bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_hive_custom_spark.materialize import materialize
from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.tables import EMB_CONTRACT_SQL, load_embeddings

# Hamming-ball radius for "same asset, different encode". With the
# 64-bit hash split into 8 bands of 8 bits, band-LSH is EXACT for any
# radius < 8 by pigeonhole (≤ 7 flipped bits can touch at most 7 of
# the 8 bands, so at least one band is identical) — the multi-index
# hashing guarantee (Norouzi et al., CVPR'12). The banded join is
# therefore a lossless rewrite of the all-pairs Hamming join, not an
# approximation: oracle (all-pairs) and engine (banded) agree on ANY
# input.
_MEDIA_HAM_T = 7

# The 64 hash bits pack into TWO bigint halves (hi = bits of features
# 1-32, lo = 33-64), each < 2^32: one primitive xor + bit_count per
# half verifies a candidate pair — no per-pair array allocation (the
# 8-long-array zip_with variant measured 19 s for the sf1.0 candidate
# join; the packed join measures 5.5 s on the same input).
# A single 64-bit pack is out: DuckDB's strict BIGINT << rejects
# 1<<63. Band extraction (Spark-side only — the oracle is all-pairs
# and never bands) shifts bytes out of the halves.
_MEDIA_ORACLE = f"""
    WITH emb AS ({EMB_CONTRACT_SQL}),
    assets AS (
        SELECT vec_id AS media_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS fv
        FROM emb
        UNION ALL
        SELECT vec_id + 1000000,
               list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.97)
        FROM emb WHERE vec_id % 20 = 0
    ),
    g AS (
        SELECT max(list_max(list_transform(assets.fv, x -> abs(x)))) AS gscale
        FROM assets
    ),
    q AS (
        SELECT media_id,
               list_transform(fv,
                   x -> CAST(floor((x * 127) / gscale + 0.5) AS BIGINT)) AS qs
        FROM assets, g WHERE gscale > 0
    ),
    bits AS (
        SELECT media_id, qs, list_sum(qs) AS total FROM q
    ),
    hl AS (
        SELECT media_id,
               list_sum(list_transform(range(1, 33), i ->
                   (CASE WHEN list_extract(qs, CAST(i AS INT)) * 64 >= total
                         THEN 1::BIGINT ELSE 0::BIGINT END)
                   << (32 - CAST(i AS INT)))) AS hi,
               list_sum(list_transform(range(33, 65), i ->
                   (CASE WHEN list_extract(qs, CAST(i AS INT)) * 64 >= total
                         THEN 1::BIGINT ELSE 0::BIGINT END)
                   << (64 - CAST(i AS INT)))) AS lo
        FROM bits
    )
    SELECT a.media_id AS keep_id, b.media_id AS drop_id,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                AS BIGINT) AS hamming
    FROM hl a JOIN hl b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
          <= {_MEDIA_HAM_T}
"""


@register("q_llm_media_dedup", oracle=_MEDIA_ORACLE)
def q_llm_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dedup via 64-bit perceptual hash + Hamming-ball
    banding — the multimodal sibling of minhash_lsh. Each asset's
    decoded 64-d feature vector (8×8 grid) binarizes to an
    average-hash: bit_i = (feature_i ≥ asset mean), computed on the
    int8-quantized grid with exact-integer cross-multiplication
    (qx·64 ≥ Σqx), so both engines compute identical bits. The media
    corpus is the asset set plus deterministic RE-ENCODES of every
    20th asset (features × 0.97 — lossy-transcode drift), the
    real-world duplicate class this op exists to catch: output is
    (keep_id, drop_id, hamming ≤ 7) where keep_id < drop_id — the
    min-id survivor election of q_llm_dedup_survivor at pair
    granularity (originals out-rank their re-encodes by id).

    Scale design (100 TB): the hash is two packed 32-bit halves per
    asset — media bytes and feature vectors never enter an exchange
    after hashing, and each candidate pair verifies with two
    primitive xor+bit_count ops (no array traffic; measured 19 s →
    5.5 s for the sf1.0 candidate join, see _MEDIA_ORACLE comment).
    Candidates come from an EQUI-join on (band_index, band_value) —
    the oracle's all-pairs Hamming join is quarantined to DuckDB, and
    by the pigeonhole guarantee (radius 7 < 8 bands, see
    _MEDIA_HAM_T) the banded candidate set provably contains every
    true pair, so this is a lossless rewrite, not an approximation.
    Band width is the corpus-size dial: 8-bit bands mean ~256 buckets
    per band, so per-bucket membership grows linearly with corpus
    size — at 10⁹ assets widen bands (e.g. 4 bands × 16 bits, exact
    for radius ≤ 3, or band over hash prefixes per Norouzi's MIH) to
    keep bucket self-joins bounded; the plan shape is unchanged. Plan
    pin in tests/test_plans.py: banded equi-join, no CartesianProduct,
    no Python eval; planted-duplicate recall in tests/test_operators.py."""
    emb = load_embeddings(spark, sf_dir)
    assets = emb.select(
        F.col("vec_id").alias("media_id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("fv"),
    ).unionAll(
        emb.filter(F.col("vec_id") % 20 == 0).select(
            (F.col("vec_id") + 1000000).alias("media_id"),
            F.expr(
                "transform(embedding, x -> cast(x as double) * 0.97)"
            ).alias("fv"),
        )
    )
    g = assets.agg(
        F.max(F.expr("array_max(transform(fv, x -> abs(x)))")).alias("gscale")
    )
    q = (
        assets.crossJoin(F.broadcast(g))
        .filter(F.col("gscale") > 0)
        .select(
            "media_id",
            F.expr(
                "transform(fv, x -> cast(floor((x * 127) / gscale + 0.5)"
                " as bigint))"
            ).alias("qs"),
        )
    )
    half = (
        "aggregate(sequence({a}, {b}), 0L, (acc, i) -> acc +"
        " (CASE WHEN element_at(qs, cast(i as int)) * 64 >= total"
        " THEN 1L ELSE 0L END) * shiftleft(1L, {top} - cast(i as int)))"
    )
    # Materialized sketch relation (3 longs per asset), read by both
    # sides of the banding self-join. Measured against the identity: sf0.1
    # 0.90/0.91/0.83 vs 2.74/3.15/2.76 s, sf1.0 3.2/2.7/3.0 vs 28.0/24.5/20.4.
    hl = q.select(
        "media_id",
        F.expr("aggregate(qs, 0L, (acc, x) -> acc + x)").alias("total"),
        "qs",
    ).select(
        "media_id",
        F.expr(half.format(a=1, b=32, top=32)).alias("hi"),
        F.expr(half.format(a=33, b=64, top=64)).alias("lo"),
    ).transform(materialize)
    # Band j ∈ 0..7: byte j of the 64-bit hash, shifted out of the
    # packed halves. The two halves ride with each exploded band row
    # (16 bytes/asset in the banding exchange), so the Hamming verify
    # runs INSIDE the candidate join — no join-back to the sketch
    # relation, which would re-scan the corpus twice more.
    ex = hl.select(
        "media_id",
        "hi",
        "lo",
        F.explode(F.expr("sequence(0, 7)")).alias("j"),
    ).withColumn(
        "v",
        F.expr(
            "CASE WHEN j < 4 THEN shiftright(hi, (3 - j) * 8) & 255"
            " ELSE shiftright(lo, (7 - j) * 8) & 255 END"
        ),
    )
    ham = (
        "bit_count(a.hi ^ b.hi) + bit_count(a.lo ^ b.lo)"
    )
    return (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("keep_id"),
            F.col("b.media_id").alias("drop_id"),
            F.expr(ham).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= _MEDIA_HAM_T)
        .distinct()
    )
