"""Vector column expressions over array<numeric>.

Higher-order functions only (zip_with + aggregate fold): the math runs
inside whole-stage codegen — no UDF, no Python, no ML-lib vector
boxing. The fold is left-to-right, which matches sequential oracles
bit-for-bit (matters for 6-dp rounding parity).

`centre_array` + `argmin` are the one nearest-centre primitive: pack
a small centre set into a sorted array row, broadcast it, and fold it
per row map-side (k-means, PQ codes and Lloyd rounds, IVF cells,
semdedup pivots).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Starting `best` of an integer-distance fold: above any sqdist on the
# (scaled) int8 grid, and far from BIGINT overflow.
L2_WORST = 2**62


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """Euclidean norm ‖a‖₂."""
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity. For pairwise scoring at scale, precompute
    `norm()` per row before the pair join (see operators/similarity.py)
    so each pair costs one dot product, not three."""
    return dot(a, b) / (norm(a) * norm(b))


def sqdist(a: str | Column, b: str | Column, scale: int = 1) -> Column:
    """Σ(scale·aᵢ − bᵢ)² as BIGINT: exact integer L2² over integer
    arrays. `scale` lifts `a` onto a fixed-point grid `b` already
    lives on (k-means holds centroids at scale 64)."""

    def sq(x, y):
        d = x - y if scale == 1 else F.lit(scale) * x - y
        return d * d

    return F.aggregate(
        F.zip_with(a, b, sq), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )


def centre_array(
    df: DataFrame, id: str, vec: str | Column, *by: str
) -> DataFrame:
    """Pack centres into one row per `by` group (one row in all when
    `by` is empty) holding `cents`: the id-sorted array of
    struct(cid, cv) that `argmin` folds. Small by construction — it is
    broadcast into the corpus."""
    packed = F.struct(F.col(id).alias("cid"), _col(vec).alias("cv"))
    return df.groupBy(*by).agg(
        F.sort_array(F.collect_list(packed)).alias("cents")
    )


def argmin(
    vec: str | Column,
    cents: str | Column,
    dist: Callable[[Column, Column], Column],
    worst=L2_WORST,
) -> Column:
    """Nearest centre of `vec`: fold the `cents` array from
    `centre_array`, returning struct(best, cid) where `best` is the
    minimum of dist(vec, cv) and `cid` its centre. The strict `<` over
    the id-sorted array keeps the lowest cid on equal distances — the
    oracles' ORDER BY dist, cid. `worst` must exceed every distance.
    The fold is map-side: the corpus crosses no exchange."""

    def step(acc, p):
        d = dist(_col(vec), p["cv"])
        better = d < acc["best"]
        return F.struct(
            F.when(better, d).otherwise(acc["best"]).alias("best"),
            F.when(better, p["cid"]).otherwise(acc["cid"]).alias("cid"),
        )

    return F.aggregate(
        cents,
        F.struct(
            F.lit(worst).alias("best"), F.lit(None).cast("bigint").alias("cid")
        ),
        step,
    )
