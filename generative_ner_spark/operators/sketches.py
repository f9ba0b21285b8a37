"""Cardinality sketches — the KMV (k-minimum-values)
distinct-count estimator (Bar-Yossef et al. RANDOM'02; the theta-sketch
family's core). Where HyperLogLog needs engine-specific register
encodings, KMV is pure order statistics over a hash: keep the k SMALLEST
normalized hash values per group; if fewer than k distinct values exist
the sketch IS the exact answer, otherwise ``D ≈ (k-1) / h_(k)`` (the
k-th smallest hash, mapped into (0,1)). Standard error ~ 1/sqrt(k-2).

Determinism: the hash is the repo's standard md5-prefix integer
(conv(substring(md5(salt:value), 1, 15), 16, 10), < 2^60) divided by
2^60 — identical on every engine and run, so the ESTIMATE is
oracle-exact (q82 replays it in SQL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_TWO_60 = float(1 << 60)  # exactly representable double


def _unit_hash(value_col: Column, salt: str) -> Column:
    """md5-derived U(0,1) hash of a value — the KMV order statistic.
    Built on quality._md5_rank, the one home of the md5-prefix hash."""
    from generative_ner_spark.operators.quality import _md5_rank

    return _md5_rank(value_col, salt).cast("double") / F.lit(_TWO_60)


def _estimate(sketch_col: Column, k: int) -> Column:
    """(k-1)/h_(k) when the sketch is full, exact size otherwise."""
    return F.round(
        F.when(
            F.size(sketch_col) < k,
            F.size(sketch_col).cast("double"),
        ).otherwise(
            F.lit(float(k - 1)) / F.element_at(sketch_col, k)),
        6,
    )


def kmv_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 128,
    salt: str = "kmv",
) -> DataFrame:
    """Per-group KMV sketch + estimate: ``(group, sketch array<double>,
    n_kept, est_distinct)``. NULL values don't count (SQL distinct-count
    semantics).

    Scale shape: hash is one codegen expression; duplicate values
    collapse BEFORE the k-selection via a map-side-combined
    (group, hash) groupBy — the same shuffle an exact countDistinct
    pays once, after which the k-smallest election and the sketch fold
    run on the deduped slim frame; the sketch table is kilobytes per
    group.
    """
    hashed = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col),
                _unit_hash(F.col(value_col), salt).alias("_h"))
        .groupBy(group_col, "_h")
        .agg(F.lit(1).alias("_one"))
    )
    w = Window.partitionBy(group_col).orderBy(F.col("_h").asc())
    topk = hashed.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= k)
    out = topk.groupBy(group_col).agg(
        F.sort_array(F.collect_list("_h")).alias("sketch"))
    return out.select(
        group_col,
        "sketch",
        F.size("sketch").alias("n_kept"),
        _estimate(F.col("sketch"), k).alias("est_distinct"),
    )
