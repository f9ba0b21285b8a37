"""Similarity search over an embedding column (array<float>).

* brute_force_topk — exact cosine top-k for a single query vector: the query
  is a literal array baked into the plan (no join at all); score is the
  cosine_col numpy kernel (one Arrow pass), top-k via orderBy+limit
  (Spark plans TakeOrderedAndProject — a per-partition heap + driver merge,
  NOT a full sort shuffle; this is the right plan at any scale).
* knn_join_topk — exact k-NN for MANY queries: one numpy-matmul Arrow pass
  scores each corpus partition against the (broadcast-sized) query set and
  pre-reduces to k candidates per query per partition; the global window
  then ranks <= k * queries * partitions rows, never the full cross
  product.
* lsh_bucketed_topk — the scale path: random-hyperplane LSH (SimHash for
  vectors) buckets both sides; candidates = same-bucket pairs in any of
  ``tables`` independent hash tables; exact cosine re-rank on candidates
  only. Recall tunable by (tables, hyperplanes). Deterministic hyperplanes:
  components derived from xxhash64(dim_index, table, plane) — reproducible
  across runs with no RNG state.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import DoubleType


# Driver-side query collects are bounded by this default (overridable per
# call via max_query_rows). 100k queries x a 1-4 KB embedding row is a few
# hundred MB of driver heap — the practical ceiling for the "query set
# rides into the plan as a broadcast/closure" designs below; past it the
# right tool is a corpus x corpus join (embedding_near_dup_pairs) or
# chunking the query set.
DEFAULT_MAX_QUERY_ROWS = 100_000


def _collect_query_rows(queries: DataFrame, cols: list[str],
                        max_query_rows: int, caller: str) -> list:
    """Collect the query frame with a hard row bound. The batch ANN / kNN
    paths hold every query vector on the driver BY DESIGN (numpy closure /
    broadcast bucket frame); an oversized query frame must fail with a
    clear, immediate error — not an opaque driver OOM mid-collect.
    limit(N+1) bounds the check itself: we never materialize more than one
    row past the threshold to discover the overflow."""
    rows = queries.select(*cols).limit(max_query_rows + 1).collect()
    if len(rows) > max_query_rows:
        raise ValueError(
            f"{caller}: query frame exceeds max_query_rows="
            f"{max_query_rows}. These batch paths hold the query set on "
            "the driver by design; chunk the queries, raise "
            "max_query_rows explicitly if the driver has the heap for "
            "it, or use a corpus-scale join operator "
            "(e.g. embedding_near_dup_pairs) instead."
        )
    return rows


def _norm(a):
    """L2 norm as a left fold over the array (q16's norm column)."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


@pandas_udf(DoubleType())
def cosine_col(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact cosine of two array columns: the one pairwise scorer of every
    exact re-rank and verify (this module and cluster.semantic_dedup).
    A numpy Arrow kernel, not an expression: the aggregate/zip_with fold
    runs interpreted per element (CodegenFallback), and a dim-unrolled
    chain overflows the JVM's 64 KB method limit at dim 64.

    Rows are stacked per array length; the dot product and both squared
    norms are LEFT folds over the columns from 0.0
    (``acc = acc + A[:, i] * B[:, i]``), the addition order of Spark's
    aggregate fold, so the doubles are bit-identical to it (np.dot/matmul
    sums pairwise). NULL (numpy NaN -> Arrow null) for a zero norm, a NULL
    array, a NULL element (NaN after Arrow) or unequal lengths; desc
    ordering sorts NULLs last, so degenerate vectors never rank."""
    out = np.full(len(a), np.nan)
    na = np.array([-1 if v is None else len(v) for v in a], dtype=np.int64)
    nb = np.array([-1 if v is None else len(v) for v in b], dtype=np.int64)
    ok = (na == nb) & (na >= 0)
    for d in np.unique(na[ok]):
        rows = np.flatnonzero(ok & (na == d))
        A, B = (np.array([s.iat[r] for r in rows], dtype=np.float64)
                .reshape(len(rows), d) for s in (a, b))
        dot = sa = sb = np.zeros(len(rows))
        for i in range(d):
            dot = dot + A[:, i] * B[:, i]
            sa = sa + A[:, i] * A[:, i]
            sb = sb + B[:, i] * B[:, i]
        den = np.sqrt(sa) * np.sqrt(sb)
        with np.errstate(divide="ignore", invalid="ignore"):
            out[rows] = np.where(den == 0.0, np.nan, dot / den)
    return pd.Series(out)


def brute_force_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against one literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine_col(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def _knn_partition_candidates(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    max_query_rows: int,
) -> DataFrame:
    """Per-partition top-k candidates for every query: ONE Arrow pass that
    scores a corpus partition against ALL queries with a single numpy
    matmul per batch and keeps a bounded (k per query) running top-k across
    the partition's batches. Output is <= k * n_queries rows PER PARTITION
    — this is the pre-reduction that makes the downstream global window
    scale-safe (it sees <= k * n_queries * n_partitions rows instead of the
    full query x corpus cross product).

    Candidate selection uses the same ordering as the final ranking
    (rounded cosine desc, id asc), so the pre-reduction can never drop a
    row the final window would have kept."""
    qrows = _collect_query_rows(
        queries, [query_id_col, query_vec_col], max_query_rows,
        "knn_join_topk")
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"{query_id_col} {qid_type}, {id_col} {id_type}, cosine double"
    spark = embeddings.sparkSession
    if not qrows:  # empty query set -> empty result, not a numpy crash
        return spark.createDataFrame([], out_schema)
    qids = np.asarray([r[0] for r in qrows])
    Q = np.asarray([list(r[1]) for r in qrows], dtype=np.float64)  # (nq, dim)
    Qn = np.sqrt((Q * Q).sum(axis=1))
    nq = len(qids)

    def fn(batches):
        # running per-query top-k across this partition's batches
        run_ids = [None] * nq
        run_sc = [None] * nq
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(list(pdf[vec_col]), dtype=np.float64)  # (n, dim)
            ids = pdf[id_col].to_numpy()
            Vn = np.sqrt((V * V).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                S = np.round((V @ Q.T) / (Vn[:, None] * Qn[None, :]), 6)
            for j in range(nq):
                sc = S[:, j]
                cand_ids, cand_sc = ids, sc
                if run_ids[j] is not None:
                    cand_ids = np.concatenate([run_ids[j], ids])
                    cand_sc = np.concatenate([run_sc[j], sc])
                # zero-norm vectors: cosine is undefined -> numpy NaN ->
                # Arrow null -> Spark NULL, and the final window's desc
                # ordering puts NULLS LAST — so the selection key must rank
                # them last too (-inf), keeping exactly the rows the window
                # would keep. (The pure-JVM expression paths can't even
                # express this: double division by zero RAISES under
                # Spark 4 ANSI mode.)
                sel = np.where(np.isnan(cand_sc), -np.inf, cand_sc)
                order = np.lexsort((cand_ids, -sel))[:k]
                run_ids[j], run_sc[j] = cand_ids[order], cand_sc[order]
        if run_ids[0] is None:
            return
        out_q, out_i, out_s = [], [], []
        for j in range(nq):
            out_q.extend([qids[j]] * len(run_ids[j]))
            out_i.extend(run_ids[j])
            out_s.extend(run_sc[j])
        yield pd.DataFrame({query_id_col: out_q, id_col: out_i, "cosine": out_s})

    return embeddings.select(id_col, vec_col).mapInPandas(fn, out_schema)


def knn_join_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """Exact k-NN join: every query row gets its top-k corpus neighbors.

    Queries must be broadcast-sized (they ride into the Arrow pass as a
    numpy closure) — enforced via ``max_query_rows`` with a clear
    ValueError rather than a driver OOM. The corpus side streams. Two
    stages:
      1. per-partition bounded pre-reduction (_knn_partition_candidates):
         numpy-matmul scoring + a k-per-query running heap, so each corpus
         partition emits <= k * n_queries rows;
      2. global exact ranking: the window shuffles only the pre-reduced
         candidates (<= k * n_queries * n_partitions rows), never the full
         query x corpus score matrix.
    """
    cand = _knn_partition_candidates(
        embeddings, queries, k, id_col, vec_col, query_id_col,
        query_vec_col, max_query_rows,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _hyperplane(dim: int, table: int, plane: int) -> list[float]:
    """Deterministic ±1 hyperplane components (driver-side, md5-derived).

    Stacked into the numpy matrix of ``_bucket_udf`` (and
    ``_query_buckets``), so executors bucket a batch with one matmul —
    deriving the components with per-row hash expressions re-evaluated
    them for every vector (dominant ANN cost)."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"hp:{table}:{plane}:{d}".encode()).digest()[0]
        out.append(1.0 if h & 1 else -1.0)
    return out


def _bucket_udf(dim: int, tables: int, planes: int):
    """THE bucket computation, shared by every corpus-side call site
    (with_lsh_buckets and build_lsh_index) so a change to the encoding —
    sign convention, plane count limits — can never diverge corpus and
    index buckets: one Arrow pandas UDF computing sign(V @ H^T) for all
    tables*planes hyperplanes in a single numpy matmul per batch. The
    query side shares the SAME H/powers convention via _query_buckets."""
    H = np.array(
        [_hyperplane(dim, t, p) for t in range(tables) for p in range(planes)],
        dtype=np.float64,
    )  # (tables*planes, dim)
    powers = (2 ** np.arange(planes)).astype(np.int64)

    @pandas_udf("array<int>")
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        V = np.asarray(list(vecs), dtype=np.float64)          # (n, dim)
        signs = (V @ H.T > 0).reshape(len(V), tables, planes)  # (n, t, p)
        bk = (signs * powers).sum(axis=2).astype("int32")      # (n, tables)
        return pd.Series(list(bk))

    return buckets_udf


def with_lsh_buckets(
    embeddings: DataFrame,
    dim: int,
    tables: int = 4,
    planes: int = 8,
    vec_col: str = "embedding",
    out: str = "bucket",
) -> DataFrame:
    """Add (lsh_table, bucket) rows: bucket = integer from ``planes`` sign bits.

    Dense linear algebra done RIGHT for Spark: one Arrow-vectorized pandas
    UDF computing sign(V @ H^T) for all tables*planes hyperplanes in a single
    numpy matmul per batch (the per-plane aggregate-expression form rebuilt a
    large codegen tree per hyperplane and re-walked the vector per plane —
    numpy is the vectorized path here, exactly the pandas-UDF use case).
    Hyperplanes stay deterministic (md5-derived, same as before).
    """
    buckets_udf = _bucket_udf(dim, tables, planes)
    return (
        embeddings.withColumn("_bk", buckets_udf(F.col(vec_col)))
        .select(
            "*",
            F.posexplode("_bk").alias("lsh_table", out),
        )
        .drop("_bk")
    )


@dataclass
class LshIndex:
    """Persisted-index ANN shape: ``df`` holds (id, vec, _bk array<int>) with
    one bucket id per hash table — NOT exploded, so the index is exactly one
    extra int column per table and can be cached / written as a table and
    probed many times without recomputing corpus buckets (the r1 probe
    rebuilt them per query — its dominant cost)."""

    df: DataFrame
    dim: int
    tables: int
    planes: int
    id_col: str
    vec_col: str

    def persist(self) -> "LshIndex":
        self.df = self.df.persist()
        return self

    def unpersist(self) -> "LshIndex":
        self.df.unpersist()
        return self


def build_lsh_index(
    embeddings: DataFrame,
    dim: int,
    tables: int = 4,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> LshIndex:
    """Bucket the corpus once (single numpy-matmul pandas UDF pass —
    the SAME _bucket_udf with_lsh_buckets uses)."""
    buckets_udf = _bucket_udf(dim, tables, planes)
    df = embeddings.select(
        id_col, vec_col, buckets_udf(F.col(vec_col)).alias("_bk")
    )
    return LshIndex(df, dim, tables, planes, id_col, vec_col)


def _query_buckets(query: list[float], dim: int, tables: int, planes: int
                   ) -> list[int]:
    """Query-side buckets computed DRIVER-SIDE with numpy — no Spark job,
    no broadcast join (the r1 probe spent a whole job + join on this)."""
    H = np.array(
        [_hyperplane(dim, t, p) for t in range(tables) for p in range(planes)],
        dtype=np.float64,
    )
    v = np.asarray([float(x) for x in query], dtype=np.float64)
    signs = (H @ v > 0).reshape(tables, planes)
    powers = (2 ** np.arange(planes)).astype(np.int64)
    return [int((signs[t] * powers).sum()) for t in range(tables)]


def probe_lsh_index(index: LshIndex, query: list[float], k: int = 10
                    ) -> DataFrame:
    """ANN probe: OR-of-equalities filter over the per-table bucket array
    (candidate iff it collides with the query in ANY table), exact cosine
    re-rank, TakeOrderedAndProject top-k. One narrow pass: no explode (the
    r1 form multiplied the corpus x tables rows), no join, and no
    dropDuplicates shuffle (a row matches the filter once, not per table)."""
    qb = _query_buckets(query, index.dim, index.tables, index.planes)
    collide = None
    for t in range(index.tables):
        cond = F.element_at("_bk", t + 1) == F.lit(qb[t])
        collide = cond if collide is None else (collide | cond)
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = index.df.where(collide).select(
        F.col(index.id_col),
        F.round(cosine_col(F.col(index.vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(
        F.col("cosine").desc(), F.col(index.id_col).asc()
    ).limit(k)


def probe_lsh_index_many(
    index: LshIndex,
    queries: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """BATCH ANN probe: top-k per query for a broadcast-sized query set
    (enforced via ``max_query_rows``: clear ValueError, not a driver OOM).

    The single-probe OR-filter does not scale past a handful of queries
    (the filter grows per query and every probe is its own job). Batch
    shape instead: query buckets computed driver-side with one numpy
    matmul, exploded into a small (query_id, lsh_table, bucket) frame that
    BROADCAST-joins the index's exploded buckets; candidates dedup on
    (query_id, id); exact cosine re-rank via the query-vector broadcast;
    row_number window per query. The corpus-side explode is narrow (tables
    x one int) over the persisted index — no re-bucketing, no shuffle of
    vectors except the candidate rows themselves.

    Output: (query_id, id, cosine, rank) with rank <= k.
    """
    spark = index.df.sparkSession
    qrows = _collect_query_rows(
        queries, [query_id_col, query_vec_col], max_query_rows,
        "probe_lsh_index_many")
    out_schema = (
        f"{query_id_col} {queries.schema[query_id_col].dataType.simpleString()}, "
        f"{index.id_col} {index.df.schema[index.id_col].dataType.simpleString()}, "
        "cosine double, rank int"
    )
    if not qrows:
        return spark.createDataFrame([], out_schema)
    qb_rows = []
    for r in qrows:
        # SAME query-side bucket computation as the single probe
        for t, bk in enumerate(_query_buckets(
                list(r[1]), index.dim, index.tables, index.planes)):
            qb_rows.append((r[0], t, bk))
    qb = spark.createDataFrame(
        qb_rows,
        f"{query_id_col} {queries.schema[query_id_col].dataType.simpleString()}, "
        "lsh_table int, bucket int",
    )
    exploded = index.df.select(
        index.id_col, index.vec_col,
        F.posexplode("_bk").alias("lsh_table", "bucket"),
    )
    cand = (
        exploded.join(F.broadcast(qb), ["lsh_table", "bucket"])
        .select(query_id_col, index.id_col, index.vec_col)
        .dropDuplicates([query_id_col, index.id_col])
    )
    qvecs = spark.createDataFrame(
        [(r[0], [float(x) for x in r[1]]) for r in qrows],
        f"{query_id_col} {queries.schema[query_id_col].dataType.simpleString()}, "
        "_qv array<double>",
    )
    scored = cand.join(F.broadcast(qvecs), query_id_col).select(
        query_id_col, index.id_col,
        F.round(cosine_col(F.col(index.vec_col), F.col("_qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(index.id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query: list[float],
    dim: int,
    k: int = 10,
    tables: int = 4,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: build_lsh_index + probe_lsh_index in one shot (single probe);
    callers with many probes should build the index once and persist it."""
    index = build_lsh_index(embeddings, dim, tables, planes, id_col, vec_col)
    return probe_lsh_index(index, query, k)


@dataclass
class WrittenLshIndex:
    """A written (partition-pruned) LSH index — see write_lsh_index."""

    df: DataFrame
    dim: int
    tables: int
    planes: int
    id_col: str
    vec_col: str


def write_lsh_index(index: LshIndex, path: str) -> None:
    """Persist the LSH index for PARTITION-PRUNED single probes.

    The in-memory probe's OR-of-equalities filter over the ``_bk`` array
    is row-level: every probe scans every index file (column-pruned but
    not partition-pruned). A written table at 10^12 rows must prune FILES,
    so the index is written EXPLODED by table — rows (lsh_table, bucket,
    id, vec), parquet ``partitionBy(lsh_table, bucket)``. Storage is
    x ``tables`` (the standard at-scale LSH trade: one bucketed copy per
    table — same shape Faiss/Annoy-style sharded LSH tables use); a probe
    then reads exactly ``tables`` (table, bucket) directories. Keep
    ``planes`` modest for written indexes (tables x 2^planes directories).

    A JSON manifest carries (dim, tables, planes, columns) so a later
    session probes without re-bucketing the corpus.
    """
    import json
    import os

    exploded = index.df.select(
        index.id_col, index.vec_col,
        F.posexplode("_bk").alias("lsh_table", "bucket"),
    )
    exploded.write.partitionBy("lsh_table", "bucket").mode(
        "overwrite").parquet(path)
    manifest = {
        "dim": index.dim,
        "tables": index.tables,
        "planes": index.planes,
        "id_col": index.id_col,
        "vec_col": index.vec_col,
    }
    with open(os.path.join(path, "_lsh_manifest.json"), "w") as f:
        json.dump(manifest, f)


def read_lsh_index(spark, path: str) -> WrittenLshIndex:
    """Reload a written LSH index (see write_lsh_index). The partition
    columns (lsh_table, bucket) come back from the directory layout, so
    probe filters prune at the FILE level."""
    import json
    import os

    with open(os.path.join(path, "_lsh_manifest.json")) as f:
        m = json.load(f)
    return WrittenLshIndex(
        spark.read.parquet(path), m["dim"], m["tables"], m["planes"],
        m["id_col"], m["vec_col"],
    )


def probe_written_lsh_index(windex: WrittenLshIndex, query: list[float],
                            k: int = 10) -> DataFrame:
    """Partition-pruned single probe: the query's per-table buckets are
    computed driver-side; the filter is an OR of (lsh_table, bucket)
    conjunctions over the PARTITION columns, so the scan touches exactly
    ``tables`` directories of the written index regardless of corpus
    size. Candidates dedup on id (a vector can collide in several
    tables), then exact cosine re-rank, TakeOrderedAndProject top-k."""
    qb = _query_buckets(query, windex.dim, windex.tables, windex.planes)
    collide = None
    for t in range(windex.tables):
        cond = (F.col("lsh_table") == t) & (F.col("bucket") == F.lit(qb[t]))
        collide = cond if collide is None else (collide | cond)
    cand = (
        windex.df.where(collide)
        .select(windex.id_col, windex.vec_col)
        .dropDuplicates([windex.id_col])
    )
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = cand.select(
        F.col(windex.id_col),
        F.round(cosine_col(F.col(windex.vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(
        F.col("cosine").desc(), F.col(windex.id_col).asc()
    ).limit(k)


@dataclass
class IvfIndex:
    """IVF (inverted-file) ANN index: rows partitioned by nearest coarse
    centroid. ``df`` holds (id, vec, _cell int); ``centroids`` is the
    (n_cells, dim) numpy array (driver-side, kilobytes — it rides into
    probe filters as literals). The scale shape: writing ``df`` partitioned
    by _cell gives partition pruning on probes — a probe reads only the
    ``nprobe`` nearest cells' files, never the full corpus."""

    df: DataFrame
    centroids: "np.ndarray"
    id_col: str
    vec_col: str


def _kmeans_centroids(sample: "np.ndarray", n_cells: int, iters: int = 10,
                      seed: int = 0) -> "np.ndarray":
    """Deterministic Lloyd's k-means on a driver-side sample (numpy).

    Seeding: the first n_cells points of a seeded random permutation of the
    sample (plain random seeding, not kmeans++). A cluster that becomes
    empty keeps its previous centroid. Deterministic for a given
    (sample, seed) — no RNG state at probe time.
    """
    rng = np.random.RandomState(seed)
    idx = rng.permutation(len(sample))[:n_cells]
    C = sample[idx].copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def build_ivf_index(
    embeddings: DataFrame,
    dim: int,
    n_cells: int = 16,
    sample_size: int = 2048,
    kmeans_iters: int = 10,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Train coarse centroids on a seeded sample, assign every row to its
    nearest cell in one vectorized pandas-UDF pass.

    Scale notes: the sample is a driver-side collect of ``sample_size``
    rows (k-means on 10^3-10^4 points is milliseconds); assignment is one
    narrow Arrow pass (numpy argmin over a (batch, cells) distance matrix);
    nothing shuffles. Persist or write ``index.df`` partitioned by _cell
    for pruned probes.
    """
    sample_rows = (
        embeddings.select(F.col(vec_col).alias("_v"),
                          F.xxhash64(F.col(id_col), F.lit(seed)).alias("_o"))
        .orderBy("_o")  # seeded deterministic sample via TakeOrdered
        .limit(sample_size)
        .collect()
    )
    if not sample_rows:
        # fail with the cause: np.asarray([]) is 1-D and the k-means
        # indexing below would raise an opaque IndexError
        raise ValueError(
            "build_ivf_index: embeddings frame is empty — cannot train "
            "coarse centroids on zero sample rows")
    S = np.asarray([list(r["_v"]) for r in sample_rows], dtype=np.float64)
    C = _kmeans_centroids(S, n_cells, kmeans_iters, seed)

    @pandas_udf("int")
    def cell_udf(vecs: pd.Series) -> pd.Series:
        V = np.asarray(list(vecs), dtype=np.float64)
        d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    df = embeddings.select(
        id_col, vec_col, cell_udf(F.col(vec_col)).alias("_cell")
    )
    return IvfIndex(df, C, id_col, vec_col)


def write_ivf_index(index: IvfIndex, path: str) -> None:
    """Persist the IVF index: parquet partitioned by ``_cell`` (so probes
    partition-prune to their nprobe cells' files) plus a JSON manifest
    carrying the centroids and column names — everything a later session
    needs to probe without retraining or rescanning the corpus."""
    import json
    import os

    index.df.write.partitionBy("_cell").mode("overwrite").parquet(path)
    manifest = {
        "centroids": index.centroids.tolist(),
        "id_col": index.id_col,
        "vec_col": index.vec_col,
    }
    with open(os.path.join(path, "_ivf_manifest.json"), "w") as f:
        json.dump(manifest, f)


def read_ivf_index(spark, path: str) -> IvfIndex:
    """Reload a written IVF index (see write_ivf_index). The partition
    column ``_cell`` comes back from the directory layout, so probe
    IN-filters prune at the FILE level."""
    import json
    import os

    with open(os.path.join(path, "_ivf_manifest.json")) as f:
        m = json.load(f)
    return IvfIndex(
        spark.read.parquet(path),
        np.asarray(m["centroids"], dtype=np.float64),
        m["id_col"],
        m["vec_col"],
    )


def probe_ivf_index(index: IvfIndex, query: list[float], k: int = 10,
                    nprobe: int = 4) -> DataFrame:
    """Probe: rank cells by centroid distance DRIVER-SIDE (numpy over the
    kilobyte centroid table — no Spark job), filter the index to the
    ``nprobe`` nearest cells (an IN filter that partition-prunes a
    cell-partitioned index), exact cosine re-rank, TakeOrderedAndProject."""
    q = np.asarray([float(x) for x in query], dtype=np.float64)
    d2 = ((index.centroids - q[None, :]) ** 2).sum(axis=1)
    cells = [int(c) for c in d2.argsort()[:nprobe]]
    qcol = F.array(*[F.lit(float(x)) for x in query])
    scored = index.df.where(F.col("_cell").isin(cells)).select(
        F.col(index.id_col),
        F.round(cosine_col(F.col(index.vec_col), qcol), 6).alias("cosine"),
    )
    return scored.orderBy(
        F.col("cosine").desc(), F.col(index.id_col).asc()
    ).limit(k)


def probe_ivf_index_many(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """BATCH IVF probe: top-k per query for a broadcast-sized query set
    (enforced via ``max_query_rows``: clear ValueError, not a driver OOM).

    Per query, the nprobe nearest cells are ranked driver-side against the
    kilobyte centroid table; the (query_id, _cell) pairs broadcast-join the
    cell-partitioned index (a join on the partition column — still
    partition-prunable to the UNION of probed cells when the index is a
    written table), then exact cosine re-rank + per-query window.

    Output: (query_id, id, cosine, rank) with rank <= k.
    """
    spark = index.df.sparkSession
    qrows = _collect_query_rows(
        queries, [query_id_col, query_vec_col], max_query_rows,
        "probe_ivf_index_many")
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    out_schema = (
        f"{query_id_col} {qid_t}, "
        f"{index.id_col} {index.df.schema[index.id_col].dataType.simpleString()}, "
        "cosine double, rank int"
    )
    if not qrows:
        return spark.createDataFrame([], out_schema)
    cell_rows = []
    for r in qrows:
        v = np.asarray([float(x) for x in r[1]], dtype=np.float64)
        d2 = ((index.centroids - v[None, :]) ** 2).sum(axis=1)
        for c in d2.argsort()[:nprobe]:
            cell_rows.append((r[0], int(c)))
    qc = spark.createDataFrame(cell_rows, f"{query_id_col} {qid_t}, _cell int")
    cand = index.df.join(F.broadcast(qc), "_cell").select(
        query_id_col, index.id_col, index.vec_col
    )
    qvecs = spark.createDataFrame(
        [(r[0], [float(x) for x in r[1]]) for r in qrows],
        f"{query_id_col} {qid_t}, _qv array<double>",
    )
    scored = cand.join(F.broadcast(qvecs), query_id_col).select(
        query_id_col, index.id_col,
        F.round(cosine_col(F.col(index.vec_col), F.col("_qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(index.id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def ivf_topk(
    embeddings: DataFrame,
    query: list[float],
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN in one shot (train + assign + probe); callers with many
    probes build the index once and persist/write it partitioned by _cell."""
    index = build_ivf_index(embeddings, dim, n_cells=n_cells, seed=seed,
                            id_col=id_col, vec_col=vec_col)
    return probe_ivf_index(index, query, k, nprobe)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    cosine_threshold: float = 0.95,
    tables: int = 6,
    planes: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 256,
    metrics: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH self-join + exact verify.

    SLIM banding: the self-join carries (lsh_table, bucket, id) ONLY —
    the r1 form shuffled the full `dim`-float vector on BOTH sides of the
    join, tables x copies.
    Vectors are re-attached per-id for the exact cosine verify on the
    (few) candidate pairs. The identical left/right subplans collapse into
    one ReusedExchange, so the bucketing UDF runs once.

    ``max_bucket`` caps pathological buckets before the self-join: a
    degenerate corpus (zero-ish vectors sharing one sign pattern) can put
    millions of ids into a single (table, bucket), making pair generation
    quadratic. Buckets above the cap are skipped; pass ``metrics`` (a
    dict) to receive {"capped_buckets", "capped_rows"} — the same contract
    as canonicalize.lsh_candidate_pairs.
    """
    vecs = embeddings.select(F.col(id_col).alias("_id"),
                             F.col(vec_col).alias("_vec"))
    # banding rows feed the optional metrics job and both self-join
    # sides: persist so the Arrow bucketing UDF runs ONCE, and eagerly
    # materialize the candidate pairs below before unpersisting
    b = with_lsh_buckets(
        embeddings.select(id_col, vec_col), dim, tables, planes, vec_col
    ).select("lsh_table", "bucket", id_col).persist()
    from generative_ner_spark.operators.canonicalize import (
        capped_self_join_pairs,
    )

    pairs = capped_self_join_pairs(
        b, ("lsh_table", "bucket"), id_col, max_bucket, metrics)
    b.unpersist()  # candidates are materialized; banding cache done
    return (
        pairs
        .join(vecs.select(F.col("_id").alias("a"), F.col("_vec").alias("va")), "a")
        .join(vecs.select(F.col("_id").alias("b"), F.col("_vec").alias("vb")), "b")
        .withColumn("cosine",
                    F.round(cosine_col(F.col("va"), F.col("vb")), 6))
        .where(F.col("cosine") >= cosine_threshold)
        .select("a", "b", "cosine")
    )
