"""Distributed k-means / SemDeDup (operators/cluster.py) and the
capped-group-sample + grouped-quantiles additions to quality.py."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from generative_ner_spark.operators import cluster, quality


def _clustered_vecs(n_per: int = 40, k: int = 4, dim: int = 8):
    """Well-separated clusters: axis-aligned centers + small seeded noise
    (separation >> noise, so assignment parity vs numpy is exact)."""
    rng = np.random.default_rng(7)
    rows = []
    for c in range(k):
        center = np.zeros(dim)
        center[c] = 10.0
        for i in range(n_per):
            rows.append((c * n_per + i,
                         (center + rng.normal(0, 0.5, dim)).tolist()))
    return rows


def _numpy_lloyd(ids, V, k, iters, salt="kmeans"):
    """Pure replica of cluster.kmeans_fit: same hash seeding, same
    spherical update, same empty-cell rule."""
    V = np.asarray(V, dtype=np.float64)
    nrm = np.linalg.norm(V, axis=1, keepdims=True)
    nrm[nrm == 0.0] = 1.0
    V = V / nrm

    def rank(i):
        return int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:15], 16)

    order = sorted(range(len(ids)), key=lambda j: (rank(ids[j]), ids[j]))
    C = V[order[:k]].copy()
    for _ in range(iters):
        cells = np.argmax(V @ C.T, axis=1)
        newC = C.copy()
        for c in range(k):
            m = cells == c
            if m.any():
                newC[c] = V[m].sum(axis=0) / m.sum()
        n = np.linalg.norm(newC, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        C = newC / n
    return C, np.argmax(V @ C.T, axis=1)


class TestKMeans:
    def test_matches_numpy_lloyd(self, spark):
        rows = _clustered_vecs()
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        model = cluster.kmeans_fit(df.repartition(4), dim=8, k=4, iters=4)
        ids = [r[0] for r in rows]
        C_np, cells_np = _numpy_lloyd(ids, [r[1] for r in rows], 4, 4)
        assert np.allclose(model.centroids, C_np, atol=1e-8)
        got = {r["vec_id"]: r["_cell"]
               for r in model.assign(df).select("vec_id", "_cell").collect()}
        assert got == {i: int(c) for i, c in zip(ids, cells_np)}

    def test_identical_vectors_share_cell(self, spark):
        """The structural guarantee q48's oracle leans on: equal inputs
        assign equally, including positively-scaled copies (spherical)."""
        rows = _clustered_vecs()
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        copies = [(1000 + i, [x * 3.0 for x in rows[i][1]]) for i in range(10)]
        both = df.unionByName(spark.createDataFrame(
            copies, "vec_id long, embedding array<double>"))
        model = cluster.kmeans_fit(df, dim=8, k=4, iters=3)
        cellmap = {r["vec_id"]: r["_cell"]
                   for r in model.assign(both).collect()}
        for i in range(10):
            assert cellmap[1000 + i] == cellmap[i]

    def test_partitioning_invariance(self, spark):
        rows = _clustered_vecs()
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        m1 = cluster.kmeans_fit(df.repartition(1), dim=8, k=4, iters=3)
        m8 = cluster.kmeans_fit(df.repartition(8), dim=8, k=4, iters=3)
        # float-sum order may differ across partitionings; separated
        # clusters keep assignments identical
        a1 = {r["vec_id"]: r["_cell"] for r in m1.assign(df).collect()}
        a8 = {r["vec_id"]: r["_cell"] for r in m8.assign(df).collect()}
        assert a1 == a8

    def test_empty_input_raises(self, spark):
        df = spark.createDataFrame([], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="empty input"):
            cluster.kmeans_fit(df, dim=8, k=4)


class TestSemanticDedup:
    def test_planted_dups_dropped(self, spark):
        rows = _clustered_vecs()
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        copies = [(1000 + i, rows[i][1]) for i in range(10)]
        both = df.unionByName(spark.createDataFrame(
            copies, "vec_id long, embedding array<double>"))
        out = {r["vec_id"]: r["kept"]
               for r in cluster.semantic_dedup(both, dim=8, k=4, iters=3,
                                               cosine_threshold=0.9999
                                               ).collect()}
        assert len(out) == len(rows) + 10
        for i in range(10):
            assert out[1000 + i] is False  # copy: dominated by i
        # noise sigma 0.5 on separation 10: original pairs stay ~<=0.999 < 0.9999
        assert all(out[i] for i, _ in rows)

    def test_degenerate_corpus_is_capped_not_quadratic(self, spark):
        """300 identical vectors in one cell vs max_bucket=256: the shared
        capped_self_join_pairs lifecycle drops the bucket (reported via
        metrics) instead of building 300^2 pairs — everything kept."""
        rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(300)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        metrics: dict = {}
        out = cluster.semantic_dedup(df, dim=4, k=2, iters=2,
                                     max_bucket=256, metrics=metrics)
        assert metrics["capped_buckets"] == 1
        assert metrics["capped_rows"] == 300
        assert out.where("NOT kept").count() == 0

    def test_shuffle_partition_invariance(self, spark):
        rows = _clustered_vecs()
        copies = [(1000 + i, rows[i][1]) for i in range(5)]
        df = spark.createDataFrame(rows + copies,
                                   "vec_id long, embedding array<double>")

        def run():
            return sorted(
                (r["vec_id"], r["kept"])
                for r in cluster.semantic_dedup(df, dim=8, k=4, iters=3,
                                                cosine_threshold=0.9999
                                                ).collect())

        base = run()
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            assert run() == base
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


class TestCappedGroupSample:
    def _df(self, spark, n=2000, hot_share=0.5):
        """Planted hot group: one group holds hot_share of all rows."""
        rows = [(i, "hot" if i % 2 == 0 else f"g{i % 7}") for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, grp string")

    def test_equals_single_window(self, spark):
        df = self._df(spark)
        two = quality.capped_group_sample(df, "grp", 9, salt_buckets=16)
        w = Window.partitionBy("grp").orderBy(
            quality._md5_rank("doc_id", "cap"), "doc_id")
        naive = (df.withColumn("_rn", F.row_number().over(w))
                 .where(F.col("_rn") <= 9).drop("_rn"))
        assert (sorted((r["doc_id"], r["grp"]) for r in two.collect())
                == sorted((r["doc_id"], r["grp"]) for r in naive.collect()))

    def test_cap_and_bucket_invariance(self, spark):
        df = self._df(spark)
        base = None
        for buckets in (1, 4, 32):
            out = quality.capped_group_sample(df, "grp", 11,
                                              salt_buckets=buckets)
            got = sorted((r["doc_id"], r["grp"]) for r in out.collect())
            counts = out.groupBy("grp").count().collect()
            assert all(r["count"] <= 11 for r in counts)
            base = got if base is None else base
            assert got == base

    def test_small_groups_pass_through(self, spark):
        df = self._df(spark, n=40)
        out = quality.capped_group_sample(df, "grp", 1000)
        assert out.count() == 40  # cap above group size keeps everything


class TestGroupedQuantiles:
    def test_exact_matches_numpy(self, spark):
        rng = np.random.default_rng(3)
        rows = [(i, f"g{i % 3}", float(v))
                for i, v in enumerate(rng.normal(50, 20, 900))]
        df = spark.createDataFrame(rows, "id long, grp string, v double")
        got = {(r["grp"], r["p"]): r["q"]
               for r in quality.grouped_quantiles(df, "grp", "v").collect()}
        for g in ("g0", "g1", "g2"):
            vals = np.array([v for _, gg, v in rows if gg == g])
            for p in (0.25, 0.5, 0.75, 0.9):
                want = float(np.quantile(vals, p, method="linear"))
                assert abs(got[(g, p)] - want) <= 1e-6, (g, p)
