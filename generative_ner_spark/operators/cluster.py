"""Distributed k-means and SemDeDup-style semantic deduplication.

No reference counterpart (YuSawan/generative_ner has no clustering);
this is the semantic-curation layer a 100 TB training-data pipeline
needs (SemDeDup, Abbas et al. 2023: cluster embeddings, then prune
near-duplicates within each cluster so the pair search never goes
global).

Scale design (the whole point — contrast with the driver-side
sample-k-means in similarity.py's IVF build, which trains on a
collected sample):

- ``kmeans_fit`` runs FULL-DATA Lloyd iterations distributed. Per
  iteration the corpus is touched exactly once: a vectorized Arrow
  pandas_udf computes each row's nearest centroid (centroids ride into
  the closure as a broadcast-sized numpy array, k x dim ~ kilobytes),
  then ``posexplode`` + ``groupBy(_cell, pos).sum`` reduces to k*dim
  partial sums WITH map-side combine (each task emits <= k*dim rows
  before the shuffle, independent of row count — the explode itself is
  pipelined, never materialized). Only k*dim numbers reach the driver
  per iteration; the data never moves.
- Spherical variant: inputs are L2-normalized once up front and
  centroids are re-normalized every iteration, so "nearest" is argmax
  dot product == cosine. Identical input vectors therefore assign to
  the identical cell on any cluster size — the structural guarantee
  q48's planted oracle leans on.
- Catalyst tree stays O(1) in both k and dim (the CLAUDE.md janino
  gotcha): the per-dimension sums come from ONE posexplode + ONE sum
  aggregate, not dim generated columns.
- Empty cells keep their previous centroid (same rule as the IVF
  trainer). Fixed ``iters``, deterministic hash-ranked seeding — no RNG
  state, reproducible on any executor count up to float-sum ordering.

Determinism caveat (documented, not hidden): distributed float sums
reduce in partition order, so centroid coordinates can differ in the
last ulps across cluster sizes; assignments are stable unless a point
is exactly equidistant between centroids. Tests pin exact assignment
parity on well-separated data and vs a pure-numpy Lloyd replica.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonicalize import capped_self_join_pairs
from .quality import _md5_rank
from .similarity import cosine_col


def _normalize_udf(dim: int):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def norm_udf(vecs: pd.Series) -> pd.Series:
        M = np.asarray(list(vecs), dtype=np.float64).reshape(-1, dim)
        n = np.linalg.norm(M, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        return pd.Series(list(M / n))

    return norm_udf


def _assign_udf(centroids: np.ndarray, normalize: bool = False):
    """argmax-dot cell assignment; ``centroids`` (k x dim, rows unit
    norm) rides into the Arrow closure — kilobytes, re-shipped per
    iteration, never a join. ``normalize`` folds the input L2-normalize
    into the SAME udf (argmax dot is scale-invariant so it changes
    nothing mathematically, but chaining a separate normalize udf would
    plan two daisy-chained CPU-bound python stages per task — the
    CLAUDE.md 2x-oversubscription gotcha)."""
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def cell_udf(vecs: pd.Series) -> pd.Series:
        M = np.asarray(list(vecs), dtype=np.float64).reshape(-1, C.shape[1])
        if normalize:
            n = np.linalg.norm(M, axis=1, keepdims=True)
            n[n == 0.0] = 1.0
            M = M / n
        return pd.Series(np.argmax(M @ C.T, axis=1).astype("int32"))

    return cell_udf


@dataclass
class KMeansModel:
    centroids: np.ndarray  # (k, dim), rows L2-normalized
    vec_col: str

    def assign(self, df: DataFrame, out_col: str = "_cell") -> DataFrame:
        """ONE narrow fused Arrow pass (normalize + argmax in a single
        udf); nothing shuffles."""
        return df.withColumn(
            out_col,
            _assign_udf(self.centroids, normalize=True)(
                F.col(self.vec_col)),
        )


def kmeans_fit(
    df: DataFrame,
    dim: int,
    k: int = 16,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "kmeans",
) -> KMeansModel:
    """Full-data spherical Lloyd's, distributed as described in the
    module docstring. Seeding: the k rows with the smallest
    md5(salt:id) rank — deterministic, order-independent, and O(k)
    driver memory (TakeOrderedAndProject, not a sort-the-corpus)."""
    normed = df.select(
        F.col(id_col).alias("_id"),
        _normalize_udf(dim)(F.col(vec_col)).alias("_v"),
    ).persist()
    seed_rows = (
        normed.orderBy(_md5_rank(F.col("_id"), salt), F.col("_id"))
        .limit(k).collect()
    )
    if not seed_rows:
        normed.unpersist()
        raise ValueError("kmeans_fit: empty input")
    C = np.asarray([r["_v"] for r in seed_rows], dtype=np.float64)
    if C.shape[0] < k:  # fewer rows than cells: pad by repeating row 0
        C = np.vstack([C, np.repeat(C[:1], k - C.shape[0], axis=0)])
    for _ in range(iters):
        assigned = normed.select(
            _assign_udf(C)(F.col("_v")).alias("_cell"),
            F.posexplode("_v").alias("pos", "x"),
        )
        # one aggregate: partial (map-side) combine caps each task's shuffle
        # output at k*dim rows; count(*) per (cell,pos) == cell size
        parts = (
            assigned.groupBy("_cell", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        newC = C.copy()
        sums = np.zeros((k, dim))
        counts = np.zeros(k, dtype=np.int64)
        for r in parts:
            sums[r["_cell"], r["pos"]] = r["s"]
            counts[r["_cell"]] = r["n"]
        nonempty = counts > 0
        newC[nonempty] = sums[nonempty] / counts[nonempty, None]
        norms = np.linalg.norm(newC, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        C = newC / norms
    normed.unpersist()
    return KMeansModel(centroids=C, vec_col=vec_col)


def semantic_dedup(
    embeddings: DataFrame,
    dim: int,
    k: int = 16,
    iters: int = 5,
    cosine_threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 1024,
    metrics: dict | None = None,
) -> DataFrame:
    """SemDeDup: k-means-cluster the embeddings, then within each cell
    drop every row that has a SMALLER-id neighbor at cosine >=
    ``cosine_threshold`` in the same cell. Returns (id_col, kept bool).

    Shapes that survive 100 TB:
    - the pair search is cell-local — k is the knob that bounds cell
      size (SemDeDup picks k ~ n/desired_cell); ``max_bucket`` +
      ``metrics`` guard a degenerate corpus exactly like every other
      banding family (shared ``capped_self_join_pairs`` lifecycle);
    - pairs carry ids only (SLIM pattern); the dim-float vectors are
      re-attached per-id just for the exact-cosine verify on the few
      candidates;
    - the keep-decision is one distinct + one left_anti join, all on
      slim id columns.

    Identical vectors always share a cell (spherical assignment of
    equal inputs is equal), so exact duplicates can never escape the
    blocking — q48's planted oracle checks precisely that, plus zero
    false positives on the random corpus.
    """
    model = kmeans_fit(embeddings, dim, k=k, iters=iters,
                       id_col=id_col, vec_col=vec_col)
    cells = model.assign(
        embeddings.select(id_col, vec_col), out_col="_cell"
    ).persist()
    pairs = capped_self_join_pairs(
        cells.select(F.col(id_col).alias("id"), "_cell"),
        bucket_cols=("_cell",), max_bucket=max_bucket, metrics=metrics,
    )
    va = cells.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"))
    vb = cells.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"))
    dropped = (
        pairs.join(va, "a").join(vb, "b")
        .where(cosine_col(F.col("_va"), F.col("_vb"))
               >= F.lit(float(cosine_threshold)))
        .select(F.col("b").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    out = cells.select(id_col).join(dropped, id_col, "left").select(
        id_col, F.col("_dropped").isNull().alias("kept")
    )
    result = out.localCheckpoint()  # pin before releasing the cache
    cells.unpersist()
    return result
