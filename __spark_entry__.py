"""Driver contract for the spark-graft builder (PySpark target).

``entry``   — flagship: full KG-construction pipeline (mention detection ->
              linking -> canonicalization -> triples) over sf0.001 testdata.
``queries`` — one entry per implemented operator family (SURVEY.md §2 +
              training-data ops); each returns a DataFrame on (spark, sf_dir).
``oracle_sql`` — DuckDB-equivalent ANSI SQL for EVERY queries() entry
              (the registry, not this docstring, is the count):
              non-SQL-looking operators are made replayable by construction
              — md5 hash families for the minhash/simhash machinery,
              literal-hyperplane replay for the LSH ANN probe, structural
              planted-copy recall for IVF, a recursive transitive-closure
              CTE for the fuzzy-dedup components.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from generative_ner_spark.operators import dedup, quality, similarity
from generative_ner_spark.operators.quality import LANG_MARKERS
from generative_ner_spark.plans.session import adaptive_min_partitions


# CPU-heavy consumers (shingling/minhash/simhash/Arrow UDFs) read these;
# the relational tables (lineitem/orders/...) keep their native splits —
# their aggregation queries are scan-cheap and an unconditional exchange
# of 6M rows would cost more than it buys (measured in OPTIMIZATION_r06).
_PAR_TABLES = {"documents", "embeddings"}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return adaptive_min_partitions(df) if name in _PAR_TABLES else df


def _t_seq(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read WITHOUT the adaptive_min_partitions scan repartition — for
    scan-cheap queries (one md5 per row, or no text column at all) where
    the parallelization exchange costs more than the serial compute it
    would spread (measured in OPTIMIZATION_r06: q22/q44/q97 regressed
    0.3-0.6 s each under the repartition while gaining nothing)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Relational operator grounding (SURVEY.md §2: S6, S20, S28 analogues + the
# join/window/agg machinery the KG stages are built from)
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy-agg with map-side combine (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join; dimension sides broadcast (no big-side shuffle for
    customer/nation/region at real scale; AQE picks broadcast here)."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c, n = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )


def q03_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k (row_number), the linking top-1 primitive."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey",
                F.round("o_totalprice", 2).alias("totalprice"), "rk")
    )


def q04_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti join (the checkpoint-resume primitive).

    Anti-joins against a deterministic 1/7th order subset (o_orderkey % 7)
    so the result is non-empty at every sf — every customer has orders in
    the generated testdata, which made the plain anti-join trivially green
    on 0 rows (VERDICT r1 #8)."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    o7 = o.where((F.col("o_orderkey") % 7) == 0)
    return (
        c.join(o7, c.c_custkey == o7.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q05_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 label-set discovery: distinct + sort."""
    e = _t(spark, sf_dir, "events")
    return e.select("event_type").distinct().orderBy("event_type")


def q06_order_lineitem_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S20 keyed equi-join (replaces the reference's positional zip)."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


def q07_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag window + running sum over gaps > 30 min."""
    e = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


def q08_salted_groupby_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (skew pattern); must equal a plain
    GROUP BY — the oracle proves the salting is semantics-preserving."""
    e = _t(spark, sf_dir, "events")
    salted = e.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count("*").alias("c"), F.sum("value").alias("v")
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("c").alias("n_events"),
            F.round(F.sum("v"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Text / training-data operators over ``documents``
# ---------------------------------------------------------------------------

def q09_normalize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S23 normalize_answer as a codegen'd column (md5'd to keep rows small)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.md5(quality.normalize_text_col("text")).alias("norm_hash")
    ).orderBy("doc_id")


def q10_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        quality.token_count_col("text").alias("n_ws_tokens"),
        quality.bpe_ish_token_count_col("text").alias("n_bpeish_tokens"),
    ).orderBy("doc_id")


def q11_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return quality.lang_id(d).select("doc_id", "lang_pred").orderBy("doc_id")


def q12_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return quality.quality_features(d).select(
        "doc_id", "q_n_chars", "q_n_tokens", "q_punct_ratio",
        "q_stopword_ratio", "q_mean_token_len",
    ).orderBy("doc_id")


def q13_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicates(d).orderBy("fingerprint")


def q14_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine MinHash scalar (md5-based; see quality.py docstring)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", quality.minhash_signature_col("text").alias("minhash")
    ).orderBy("doc_id")


def q15_ngram_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(
            "size(array_distinct(transform(sequence(1, greatest(length(text) - 2, 1)), "
            "i -> substring(text, i, 3))))"
        ).alias("n_distinct_3grams"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------

def q16_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _t(spark, sf_dir, "embeddings")
    from generative_ner_spark.operators.similarity import _norm

    return em.select(
        "vec_id", F.round(_norm(F.col("embedding")), 4).alias("l2_norm")
    ).orderBy("vec_id")


def _probe_vector(em: DataFrame) -> list | None:
    """The vec_id = 0 embedding that q17, q18 and q29 rank against, or
    None when the table has no such row (those queries then return no
    rows)."""
    row = em.where("vec_id = 0").select("embedding").first()
    return None if row is None else list(row[0])


def _no_probe(em: DataFrame) -> DataFrame:
    """The empty (vec_id, cosine) result of a top-k without a probe."""
    return em.select("vec_id", F.lit(None).cast("double").alias("cosine")
                     ).limit(0)


def q17_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 vs the vec_id=0 vector (ANN baseline).
    Plans as TakeOrderedAndProject: per-partition heap, no full sort."""
    em = _t(spark, sf_dir, "embeddings")
    qvec = _probe_vector(em)
    if qvec is None:
        return _no_probe(em)
    return similarity.brute_force_topk(em.where("vec_id != 0"), qvec, k=10)


def q18_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path). FULL DuckDB oracle: the hyperplanes
    are deterministic md5-derived ±1 constants (similarity._hyperplane), so
    the oracle embeds them as literals and replays the ENTIRE probe —
    per-table sign-bit bucketing, OR-of-collisions candidate filter, exact
    cosine re-rank — end-to-end in SQL. Recall vs the exact q17 top-k is
    additionally pinned in tests/test_operators.py."""
    em = _t(spark, sf_dir, "embeddings")
    qvec = _probe_vector(em)
    if qvec is None:
        return _no_probe(em)
    # the oracle's hyperplane literals are generated for dim=64: if the
    # testdata embeddings are ever regenerated at a different width, fail
    # HERE with the cause, not downstream as an inscrutable hash mismatch
    assert len(qvec) == 64, (
        f"q18 oracle replays dim=64 hyperplanes; embeddings are "
        f"dim={len(qvec)} — regenerate the oracle literals")
    # planes=6 (64 buckets/table) keeps bucket occupancy high enough on a
    # near-random corpus that the probe gathers >= k candidates
    return similarity.lsh_bucketed_topk(
        em.where("vec_id != 0"), qvec, dim=len(qvec), k=10,
        tables=8, planes=6,
    )


def _truncated_salted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared q19/q20/q31 near-dup corpus: documents plus 97%-length
    truncated copies of the first 20 docs (ids +1_000_000). ONE Spark
    helper mirroring the ONE shared oracle-side _SALTED_DOCS_SQL — a
    salting edit desyncs all three queries together (loud, not a
    confusing partial oracle failure). bench.py's fast-family entries
    reuse it."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = d.where("doc_id < 20").select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.expr(
            "substring(text, 1, cast(length(text) * 0.97 as int))"
        ).alias("text"),
    )
    return d.unionByName(mutated)


def q19_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs; corpus is salted with truncated copies of the
    first 20 docs so the operator demonstrably fires. Uses the md5 hash
    family (60-bit signature) so the DuckDB oracle replays signatures +
    the hamming<=3 pair set end-to-end: with 4 equal chunks and hamming<=3
    the banding output EQUALS brute-force hamming pairs (pigeonhole), which
    is exactly what the oracle computes. The xxhash64 fast family is pinned
    separately in tests."""
    return dedup.simhash_near_dup_pairs(
        _truncated_salted_docs(spark, sf_dir), max_hamming=3,
        hash_family="md5",
        # cap lifted so the output is the pure pigeonhole pair set the
        # oracle replays; the hot-bucket cap is exercised by its own test
        max_bucket=None,
    ).orderBy("a", "b")


def q20_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over the same salted corpus. Uses the md5
    hash family so the DuckDB oracle replays shingling, the k=64 universal-
    hash minhash signature, 8-band blocking (slice equality) and the exact-
    Jaccard verify end-to-end. max_bucket is lifted so the output is the
    pure LSH-blocked pair set (the hot-bucket cap is exercised by the
    canonicalize tests)."""
    return (
        dedup.near_duplicate_pairs_minhash(
            _truncated_salted_docs(spark, sf_dir)
            .withColumn("doc_id", F.col("doc_id").cast("string")),
            jaccard_threshold=0.8,
            max_bucket=None,
            hash_family="md5",
        )
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------------------
# KG pipeline over testdata (flagship path)
# ---------------------------------------------------------------------------

def q25_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane LSH + exact verify.

    The testdata embeddings are near-random (max pairwise cosine ~0.33), so
    the corpus is salted with scaled copies of the first 10 vectors
    (cosine exactly 1.0 with their originals) — the operator must find
    exactly those planted pairs (rows-only check; xxhash64 hyperplanes)."""
    em = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = em.where("vec_id < 10").select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
    )
    return (
        similarity.embedding_near_dup_pairs(
            em.unionByName(copies), dim=64, cosine_threshold=0.99,
            tables=8, planes=8,
            # cap lifted so the output is the pure LSH-blocked pair set
            # the oracle replays; the cap is exercised by its own test
            max_bucket=None,
        )
        .select("a", "b", "cosine")
        .orderBy("a", "b")
    )


def q23_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total), null-marker aligned."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .rollup("o_orderstatus", "l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            "n_items",
            "total_price",
        )
        .orderBy("o_orderstatus", "l_returnflag")
    )


def q24_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction from the events props column."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q26_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: fixed 500-char windows, stride 400 (overlap
    100) — pure JVM sequence+substring explode, one row per chunk."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    size, stride = 500, 400
    return (
        d.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, greatest(CAST(ceil((length(text) - {size})/{stride}.0) AS INT) + 1, 1)), "
                    f"i -> substring(text, (i-1)*{stride} + 1, {size}))"
                )
            ).alias("chunk_idx", "chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.length("chunk").alias("chunk_len"),
            F.md5("chunk").alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def q27_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) curation aggregates over quality features.

    Reads documents WITHOUT the scan repartition: avg_stopword_ratio
    is a float average whose round-6 value sits on a rounding boundary at
    some SFs, so Spark must replay DuckDB's sequential per-group addition
    order — a repartitioned scan reorders the FP sum and flips the 6th
    decimal (observed at sf0.01). q27 is not a bench headline, so the
    single-task scan costs nothing measured."""
    d = quality.quality_features(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", "lang", "text")
    )
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("q_n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("q_stopword_ratio"), 6).alias("avg_stopword_ratio"),
            F.min("q_n_chars").alias("min_chars"),
            F.max("q_n_chars").alias("max_chars"),
        )
        .orderBy("source", "lang")
    )


def kg_mention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full mention-detection pipeline (explode -> prompt -> stub generate ->
    parse -> ground), aggregated to per-(doc,label) counts. Noise-free, so
    DuckDB can replay the semantics with string functions (see oracle)."""
    from generative_ner_spark.plans import testdata_kg

    mentions = testdata_kg.testdata_mentions(spark, sf_dir)
    return (
        mentions.groupBy("doc_id", "label")
        .agg(F.count("*").alias("n_mentions"))
        .orderBy("doc_id", "label")
    )


def kg_mention_counts_individual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individual-format pipeline (per-label fan-out, pred.py:105-120
    semantics); noise-free counts match the collective oracle exactly."""
    from generative_ner_spark.plans import testdata_kg

    mentions = testdata_kg.testdata_mentions_individual(spark, sf_dir)
    return (
        mentions.groupBy("doc_id", "label")
        .agg(F.count("*").alias("n_mentions"))
        .orderBy("doc_id", "label")
    )


def q21_cost_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/cost accounting columns (S29; chars/4 heuristic, rounded USD)."""
    from generative_ner_spark.operators import cost

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        cost.with_cost_estimate(d, "text")
        .select("doc_id", "prompt_tokens", "usd_cost")
        .orderBy("doc_id")
    )


def q22_batch_tasks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-task builder (S18): dense custom_id assignment, funnel-free
    (md5-bucketed counts + broadcast offsets + per-bucket window)."""
    from generative_ner_spark.operators import batchapi

    d = _t_seq(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("example_id"),
        F.array(
            F.struct(F.lit("user").alias("role"), F.col("text").alias("content"))
        ).alias("prompt"),
    )
    return batchapi.build_batch_tasks(d).select("custom_id", "example_id")


def q28_sync_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sync generation wrapper (S16, openai_api.py:173-266): injectable
    responder in mapInPandas, finish-reason guard as an error column. The
    deterministic stub responder is SQL-expressible, so this has a full
    DuckDB oracle (including the ~1/16 of prompts that finish 'length')."""
    from generative_ner_spark.operators import syncgen

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("example_id"),
        F.array(
            F.struct(F.lit("user").alias("role"), F.col("text").alias("content"))
        ).alias("prompt"),
    )
    # nulls coalesced to '' for the driver's hash compare only (the operator
    # itself keeps NULL text/error, reference parity)
    return syncgen.generate_sync(d).select(
        "example_id", "prompt_hash",
        F.coalesce("generated_text", F.lit("")).alias("generated_text"),
        "finish_reason",
        F.coalesce("error", F.lit("")).alias("error"),
    ).orderBy("example_id")


def q30_curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation chain (quality gates + lang gate + exact-dedup
    keep-min) over a corpus salted with exact copies of the first 10 docs —
    the dedup step demonstrably fires and the full oracle replays every
    stage (filters-before-shuffle semantics proven value-equal)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.where("doc_id < 10").select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    curated = quality.curate(
        d.unionByName(dups), lang="en", min_tokens=20, max_stopword_ratio=0.5
    )
    return curated.select(
        "doc_id", "lang_pred", "q_n_tokens", "q_stopword_ratio", "fingerprint"
    ).orderBy("doc_id")


def q29_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse k-means cells + nprobe probe + exact re-rank) against
    the vec_id=0 query — the second scale path beside hyperplane LSH (q18).

    Oracle strategy (driver-trained k-means centroids are not SQL-
    replayable): the corpus is salted with 12 positively-scaled copies of
    the query vector — they sit at cosine 1.0 (max random cosine ~0.37) and
    assign to the query's own coarse cell, the probe's rank-1 cell, so the
    probe's top-10 == exact top-10 == the first 10 copies STRUCTURALLY.
    The DuckDB oracle replays exactly that (same pattern as q25). Raw-
    corpus recall vs the exact q17 top-k stays pinned in tests."""
    em = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = _probe_vector(em)
    if qvec is None:
        return _no_probe(em)
    copies = (
        em.where("vec_id = 0")
        .crossJoin(spark.range(12).select(F.col("id").alias("_i")))
        .select(
            (F.col("_i") + F.lit(1_000_000)).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
        )
    )
    corpus = em.where("vec_id != 0").unionByName(copies)
    return similarity.ivf_topk(
        corpus, qvec, dim=len(qvec), k=10,
        n_cells=16, nprobe=6,
    )


def q31_near_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy deduplication end-to-end (RefinedWeb/Dolma staple): MinHash-LSH
    pairs -> connected components -> keep the min-id doc per near-dup
    cluster. md5 hash family + lifted bucket cap => the DuckDB oracle
    replays the WHOLE thing, components included (recursive transitive-
    closure CTE)."""
    salted = _truncated_salted_docs(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("string"))
    return (
        dedup.near_dedup_documents(
            salted, jaccard_threshold=0.8, max_bucket=None,
            hash_family="md5",
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


def q33_repetition_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (dup-line fractions + top
    word-bigram coverage). The raw testdata has no newlines, so the line
    features run over a deterministic multi-line construction (doc_id-mod
    repeat patterns — SQL-replayable, so the oracle covers every branch);
    the bigram features run on the real word content."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s1 = F.expr("substring(text, 1, 60)")
    s2 = F.expr("substring(text, 61, 60)")
    m = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.concat_ws("\n", s1, s1, s2))
        .when(F.col("doc_id") % 3 == 1, F.concat_ws("\n", s1, s2, s2, s2))
        .otherwise(F.concat_ws("\n", s1, s2))
        .alias("text"),
    )
    return quality.repetition_features(m).orderBy("doc_id")


def q34_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalanced deterministic downsampling: lang-ID the corpus,
    then keep per-language hash-sampled fractions (en 50%, und 20%,
    otherwise 100%). Pure rowwise md5 predicate — reproducible across
    engines, so the DuckDB oracle replays lang-ID + the exact sample."""
    d = _t(spark, sf_dir, "documents")
    langs = quality.lang_id(d).select("doc_id", "lang_pred", "text")
    return (
        quality.stratified_hash_sample(
            langs, {"en": 0.5, "und": 0.2}, "lang_pred",
            key_col="doc_id", default_rate=1.0,
        )
        .select("doc_id", "lang_pred")
        .orderBy("doc_id")
    )


def _ts_docs(spark: SparkSession, sf_dir: str,
             dup_first_n: int = 0) -> DataFrame:
    """Deterministic interleaved docs with event time for the streaming
    replays: each flat document becomes one text-span doc with
    ingest_ts = 2025-01-01 00:00 + (doc_id % 240) minutes (24 ten-minute
    windows over 4 h). With ``dup_first_n``, byte-identical copies of the
    first n docs are re-emitted ONE HOUR later under 'dup-' ids — always
    strictly after their originals, so first-seen dedup must suppress
    exactly them."""
    flat = _t(spark, sf_dir, "documents").select("doc_id", "text")
    span = F.array(F.struct(
        F.lit("text").alias("kind"),
        F.col("text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )).alias("spans")
    base_ts = "timestamp'2025-01-01 00:00:00'"
    docs = flat.select(
        F.concat(F.lit("tdoc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.expr(f"{base_ts} + make_interval(0, 0, 0, 0, 0, "
               f"cast(doc_id % 240 as int), 0)").alias("ingest_ts"),
        span,
    )
    if dup_first_n:
        dups = flat.where(F.col("doc_id") < dup_first_n).select(
            F.concat(F.lit("dup-"), F.col("doc_id").cast("string")).alias("doc_id"),
            F.expr(f"{base_ts} + make_interval(0, 0, 0, 0, 1, "
                   f"cast(doc_id % 240 as int), 0)").alias("ingest_ts"),
            span,
        )
        docs = docs.unionByName(dups)
    return docs


def q35_windowed_mention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of the STREAMING stateful windowed mention-count stage:
    the SAME builder (streaming/mentions.py windowed_mention_counts_stream
    — lexicon regex extraction, tumbling 10-minute window, sum) runs on a
    static frame (withWatermark is a no-op on batch), which puts the
    window/mention semantics under the DuckDB oracle. The streaming-only
    semantics (watermark eviction, late-row drop) are pinned by the
    streaming pytest suite."""
    from generative_ner_spark.plans.testdata_kg import LEXICON
    from generative_ner_spark.streaming import mentions as sm

    out = sm.windowed_mention_counts_stream(
        _ts_docs(spark, sf_dir), LEXICON, window_duration="10 minutes")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "label",
        "n_mentions",
    ).orderBy("window_start", "label")


def q36_first_seen_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen document dedup (streaming/mentions.py
    first_seen_dedup_batch_replay): the corpus is salted with hour-late
    byte-identical copies of the first 50 docs; the operator must keep
    exactly the earliest (ingest_ts, doc_id) row per fingerprint."""
    from generative_ner_spark.streaming import mentions as sm

    out = sm.first_seen_dedup_batch_replay(
        _ts_docs(spark, sf_dir, dup_first_n=50))
    return out.select(
        "fingerprint",
        "doc_id",
        F.date_format("ingest_ts", "yyyy-MM-dd HH:mm:ss").alias("ingest_ts"),
    ).orderBy("fingerprint", "doc_id")


_PII_SALTS = [
    " contact john.doe@example.com or jane_smith+tag@mail.co now",
    " server at 10.0.0.1 and 192.168.255.12 port",
    " call +1 555 123 4567 today",
]


def _pii_salted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic PII strings appended to doc_id%5 in
    {0,1,2} (the raw testdata carries no PII): emails / IPs / a phone."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.concat("text", F.lit(_PII_SALTS[0])))
        .when(F.col("doc_id") % 5 == 1, F.concat("text", F.lit(_PII_SALTS[1])))
        .when(F.col("doc_id") % 5 == 2, F.concat("text", F.lit(_PII_SALTS[2])))
        .otherwise(F.col("text"))
        .alias("text"),
    )


def q37_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/pii.py): per-doc email/IP/
    phone counts and the redacted-text length (proves the replacement
    ran), over the deterministically PII-salted corpus. Patterns live in
    the Java-regex/RE2 common subset, so the DuckDB oracle replays counts
    AND redaction byte-for-byte."""
    from generative_ner_spark.operators import pii

    red = pii.redact_pii(pii.with_pii_features(_pii_salted_docs(spark, sf_dir)))
    return red.select(
        "doc_id", "n_emails", "n_ips", "n_phones", "has_pii",
        F.length("redacted").alias("redacted_len"),
    ).orderBy("doc_id")


def q38_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (operators/decontam.py): docs with
    doc_id%97==0 form the eval set; the corpus is everything else PLUS a
    planted contaminated twin per eval doc (its first 200 chars, id
    +2000000) — the report must surface at least every twin. Broadcast
    eval n-grams; the corpus never shuffles before the per-doc agg."""
    from generative_ner_spark.operators import decontam

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    eval_df = d.where("doc_id % 97 = 0")
    corpus = d.where("doc_id % 97 != 0").unionByName(
        eval_df.select(
            (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
            F.expr("substring(text, 1, 200)").alias("text"),
        )
    )
    return decontam.contamination_report(corpus, eval_df, n=8).orderBy(
        "doc_id")


def q39_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard-parallel sequence packing (operators/
    packing.py): documents -> (shard, bin) training sequences of 500
    whitespace tokens, md5 stream order — the layout is a pure function
    of (doc ids, salt), so the DuckDB oracle replays shard, order and
    bin assignment exactly."""
    from generative_ner_spark.operators import packing

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return packing.packing_report(
        d, token_budget=500, shards=8
    ).orderBy("shard", "bin")


_URL_SALTS = [
    " see https://example.com/a/b?x=1 and http://blog.example.org/post today",
    " via https://news.example.com/today ok",
    " mirror http://example.com:8080/path here",
]

_BOILER = ["subscribe to our newsletter today", "follow us for more updates"]


def q40_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + per-domain corpus stats (operators/urls.py) over a
    deterministically URL-salted corpus (raw testdata has no URLs): the
    C4-style per-domain decision table. Extraction is
    one narrow codegen pass; the domain agg is map-side combined."""
    from generative_ner_spark.operators import urls

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    salted = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.concat("text", F.lit(_URL_SALTS[0])))
        .when(F.col("doc_id") % 4 == 1, F.concat("text", F.lit(_URL_SALTS[1])))
        .when(F.col("doc_id") % 4 == 2, F.concat("text", F.lit(_URL_SALTS[2])))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return urls.domain_stats(salted).orderBy("domain")


def q41_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (operators/dedup.py
    dedup_paragraphs — the CCNet/Dolma boilerplate remover). Docs are
    built with shared boilerplate paragraphs around per-doc content; each
    boilerplate paragraph must survive ONLY in its first (min doc_id,
    idx) occurrence and every doc is rebuilt in original paragraph
    order."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s1 = F.expr("substring(text, 1, 60)")
    s2 = F.expr("substring(text, 61, 60)")
    m = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat_ws("\n", F.lit(_BOILER[0]), s1, F.lit(_BOILER[1]), s2),
        )
        .otherwise(F.concat_ws("\n", F.lit(_BOILER[0]), s1, s2))
        .alias("text"),
    )
    return dedup.dedup_paragraphs(m).orderBy("doc_id")


def q42_interleaved_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-composition features (operators/multimodal.py
    composition_features — the OBELICS-style structural filter): docs
    built media-only (doc_id%7==0), text+media (doc_id%3==0), or
    text-only; one narrow array-expression projection, no explode. The
    has_text flag IS the require_text curation gate."""
    from generative_ner_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    text_span = F.struct(
        F.lit("text").alias("kind"), F.col("text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"), F.lit(0).alias("offset"),
    )
    media_span = F.struct(
        F.lit("image").alias("kind"), F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("s3://corpus/media/img-"), F.col("doc_id"))
        .alias("media_ref"), F.lit(1).alias("offset"),
    )
    docs = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.array(media_span))
        .when(F.col("doc_id") % 3 == 0, F.array(text_span, media_span))
        .otherwise(F.array(text_span))
        .alias("spans"),
    )
    return multimodal.composition_features(docs).select(
        "doc_id", "n_spans", "n_text_spans", "n_media_spans",
        "text_chars", "media_per_text", "has_text",
    ).orderBy("doc_id")


def q43_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (operators/tfidf.py): explode ->
    map-side-combined (doc, term) counts, term-keyed doc-frequency agg,
    one-row corpus-size broadcast, smoothed-idf scoring, per-doc window.
    min_df=2 drops hapax noise; ties break on term asc (total order, so
    the value hash is stable cross-engine)."""
    from generative_ner_spark.operators import tfidf

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf.tfidf_top_terms(d, top_k=5, min_df=2).orderBy(
        "doc_id", "rank")


def q44_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (quality.assign_split): pure
    rowwise md5-interval assignment — hash-stable across re-runs and
    cluster sizes (unlike randomSplit), zero shuffle. Weights 90/5/5;
    intervals laid out in sorted-name order (test, train, valid)."""
    d = _t_seq(spark, sf_dir, "documents").select("doc_id")
    return quality.assign_split(
        d, {"train": 0.9, "valid": 0.05, "test": 0.05}
    ).orderBy("doc_id")


def q45_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 lexical retrieval (operators/bm25.py): query terms ride
    a literal isin pushdown filter on the tf scan, corpus constants a
    one-row broadcast, per-query-term doc frequencies a broadcast join on
    the slim hit rows, top-k via TakeOrderedAndProject. Lucene-style
    non-negative idf; ties break on doc_id asc (total order)."""
    from generative_ner_spark.operators import bm25

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25.bm25_search(
        d, ["spark", "vector", "stream"], top_k=10
    ).orderBy("rank")


def q46_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/temporal.py): every error event
    gains its user's most recent purchase at-or-before it — the
    single-shuffle union+window encoding (one Exchange on user_id, no
    range-join explosion). Left join: errors with no prior purchase keep
    nulls. DuckDB replays with its native ASOF LEFT JOIN."""
    from generative_ner_spark.operators import temporal

    ev = _t(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value")
    return temporal.asof_join(
        errors, purchases, key_cols=["user_id"],
        right_payload=["event_id", "value"], suffix="_p",
        right_seq_col="event_id",
    ).orderBy("event_id")


def q47_capped_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing (quality.capped_group_sample): keep at most 50
    events per event_type, deterministically the 50 with the smallest
    (md5 rank, id). Two-phase window — rank inside (group, hash-salt
    bucket) first, then over the <= buckets*n survivors — so a hot group
    never lands on one reducer; exact because a global top-n row is
    always in its own bucket's top-n."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    return quality.capped_group_sample(
        ev, "event_type", 50, key_col="event_id"
    ).orderBy("event_id")


def q48_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/cluster.py): distributed spherical k-means,
    then drop rows with a smaller-id same-cell neighbor at cosine >=
    0.99. Planted structural oracle (q25/q29 pattern): exact copies of
    vecs 0..9 are appended at ids 1000000+i — identical vectors always
    share a cell (equal inputs assign equally), so every copy must be
    dropped and, with max random-pair cosine ~0.33 << 0.99, every
    original kept; the decision table is then fully SQL-expressible."""
    from generative_ner_spark.operators import cluster

    em = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = em.where("vec_id < 10").select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding"
    )
    return cluster.semantic_dedup(
        em.unionByName(copies), dim=64, k=8, iters=3, cosine_threshold=0.99
    ).orderBy("vec_id")


def q49_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles (quality.grouped_quantiles): p25/50/75/90
    of event value per event_type via Spark's exact `percentile` — the
    same linear-interpolation definition as DuckDB quantile_cont, so the
    values hash-match at 6dp."""
    ev = _t(spark, sf_dir, "events")
    return quality.grouped_quantiles(ev, "event_type", "value").orderBy(
        "event_type", "p")


def q50_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a WRITTEN MinHash index (continuous-crawl
    staple, dedup.write_minhash_index / dedup_against_index): the corpus
    index is written bucket-partitioned (banding by pmod(band_hash),
    shingles by pmod(xxhash64(id))), then a new batch — 10 near-copies
    (97%-truncated, must drop) + 5 fresh md5-text docs (must survive) —
    probes it: broadcast batch banding, FILE-pruned corpus scans, exact
    Jaccard on candidates only; corpus text never read. md5 hash family
    so the DuckDB oracle replays the full corpus-vs-batch pair stage."""
    import shutil
    import tempfile

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    near = d.where("doc_id < 10").select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.expr(
            "substring(text, 1, cast(length(text) * 0.97 as int))"
        ).alias("text"),
    )
    fresh = d.where("doc_id < 5").select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.concat(
            F.md5(F.col("doc_id").cast("string")),
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("x"))),
        ).alias("text"),
    )
    work = tempfile.mkdtemp(prefix="q50_mh_idx_")
    try:
        dedup.write_minhash_index(d, work, hash_family="md5", scheme="kmin")
        out = dedup.dedup_against_index(near.unionByName(fresh), work)
    finally:
        # dedup_against_index localCheckpoints its result, so the index
        # files are no longer needed once it returns
        shutil.rmtree(work, ignore_errors=True)
    return out.select("doc_id").orderBy("doc_id")


def q51_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture sampling (quality.token_budget_sample):
    per source, keep docs in md5-rank order until the source's token
    budget is exhausted (src0 800 / src1 400 / src2 2000 tokens, every
    other source the 600-token default). Spark runs the distributed
    prefix-sum (rank-segment subtotals + offsets broadcast, ONE data
    shuffle on (source, segment)); the oracle replays the semantics as a
    plain per-source window cumsum over the same md5 rank."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        quality.token_count_col("text").alias("n_tok"))
    return quality.token_budget_sample(
        d, {"src0": 800, "src1": 400, "src2": 2000},
        group_col="source", weight_col="n_tok", key_col="doc_id",
        default_budget=600,
    ).orderBy("doc_id")


def q52_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (temporal.sessionize): per user, events
    more than 12h apart start a new session; one row per session with
    start/end/count/exact-microsecond duration. ONE Exchange on user_id
    (the session agg reuses the lag-window's partitioning). Integer-
    microsecond gap math on both engines — no float epoch drift; ties
    break on event_id. The oracle is the identical lag+cumsum window
    in DuckDB."""
    from generative_ner_spark.operators import temporal

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return temporal.sessionize(
        ev, key_col="user_id", ts_col="ts", gap_seconds=43200,
        seq_col="event_id",
    ).orderBy("user_id", "session_idx")


def q53_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (quality.
    weighted_sample, Efraimidis-Spirakis): the 100 documents drawn with
    probability proportional to n_chars, via priority ln(u)/w over the
    md5-derived uniform u — no RNG, identical winners on any cluster
    size. Spark's plan is TakeOrderedAndProject (bounded per-partition
    top-n, no full sort); DuckDB replays the same priority ORDER BY
    LIMIT over the same rank."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return quality.weighted_sample(
        d, 100, weight_col="n_chars", key_col="doc_id",
    ).orderBy("doc_id")


def q54_duplicate_window_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring spans (dedup.duplicate_window_spans,
    the Lee-et-al-2022 exact-substring dedup restated distributively):
    every 8-token window occurring more than once corpus-wide, merged
    into maximal (doc_id, span_start, span_end) token-index spans.
    Slim (id, pos, md5) rows only cross the exchanges — text never
    shuffles; duplicate hashes found by a map-side-combined count.
    DuckDB replays the identical window-hash + island-merge SQL."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.duplicate_window_spans(
        d, id_col="doc_id", text_col="text", w=8,
    ).orderBy("doc_id", "span_start")


def q55_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram fluency scoring (tfidf.unigram_logprob_score):
    per-doc mean negative log-likelihood under the corpus's own unigram
    distribution — the KenLM-style quality proxy without a model file.
    One explode + map-side-combined term count (persisted: it feeds the
    vocab agg AND the scoring join), broadcast vocabulary join, floats
    rounded to 6 on both engines."""
    from generative_ner_spark.operators import tfidf

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (tfidf.unigram_logprob_score(d, id_col="doc_id")
            .withColumnRenamed("id", "doc_id").orderBy("doc_id"))


def q56_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language heavy hitters (tfidf.top_terms_per_group): exact
    top-10 terms by frequency per lang, total-ordered (cnt DESC, term
    ASC). Explode collapses through ONE map-side-combined groupBy to a
    vocabulary-sized frame; the top-k is the two-phase (group,
    term-hash-bucket) window so one language's vocabulary never sits on
    a single reducer."""
    from generative_ner_spark.operators import tfidf

    d = _t(spark, sf_dir, "documents").select("lang", "text")
    return tfidf.top_terms_per_group(
        d, group_col="lang", k=10).orderBy("lang", "rank")


def q57_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join (temporal.interval_join): error events
    landing inside any same-user purchase window [ts, ts+2h] — the
    range predicate becomes part of the equi-join key (intervals
    explode to hour buckets, each point probes its OWN bucket, so every
    qualifying pair appears exactly once, no dedup pass). DuckDB
    replays it as the plain BETWEEN range join."""
    from generative_ner_spark.operators import temporal

    ev = _t(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts")
    windows = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("lo"),
        F.timestamp_micros(
            # events.ts is TIMESTAMP_NTZ; session tz is UTC so the cast
            # is exact (same contract as temporal._micros)
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.lit(7_200_000_000)
        ).alias("hi"),
        F.col("event_id").alias("p_event_id"),
        F.col("value").alias("p_value"),
    )
    return temporal.interval_join(
        errors, windows, key_cols="user_id",
        bucket_seconds=3600, suffix="",
    ).orderBy("event_id", "p_event_id")


def _part_coocc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared graph input for q58-q60: the part co-occurrence graph
    (parts are nodes; an edge when two parts ship in the same order) —
    the market-basket stand-in for the KG's entity co-mention graph."""
    from generative_ner_spark.operators import graph

    # NO scan repartition here (measured in OPTIMIZATION_r06): the first
    # operator is a groupBy(basket) that reshuffles anyway, so a
    # round-robin exchange of 6M rows ahead of it costs ~8s and buys nothing
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return graph.cooccurrence_edges(
        li, basket_col="l_orderkey", item_col="l_partkey")


def q58_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-salience PageRank (graph.pagerank) over the part
    co-occurrence graph: 5 power iterations, damping 0.85, uniform init;
    undirected => no dangling mass. ONE Exchange per iteration (the
    contribution groupBy — the adjacency is pre-partitioned by src and
    ranks arrive hash-partitioned on node from the previous step);
    localCheckpoint truncates the per-iteration lineage. The oracle
    unrolls the identical five updates as chained CTEs, all-DOUBLE
    arithmetic, round-6 float contract."""
    from generative_ner_spark.operators import graph

    return graph.pagerank(
        _part_coocc_edges(spark, sf_dir), n_iter=5, damping=0.85,
    ).orderBy("node")


def q59_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-node triangle counts (graph.triangle_counts) over the
    part co-occurrence graph — degree-ordered orientation (Suri &
    Vassilvitskii WWW'11) so each triangle yields ONE wedge at its
    lowest-rank vertex and hub out-degrees stay O(sqrt E): no
    curse-of-the-last-reducer bucket. DuckDB replays the identical
    orientation + wedge-close SQL."""
    from generative_ner_spark.operators import graph

    return graph.triangle_counts(
        _part_coocc_edges(spark, sf_dir)).orderBy("node")


def q60_khop_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-expansion BFS (graph.khop_neighbors): every part within 3
    hops of the ~1%-sampled seed parts, labeled with its minimal hop.
    Frontier-only expansion (hop i joins just the hop-(i-1) frontier
    against the persisted adjacency, anti-joins visited) — work per hop
    is O(frontier x degree), never O(visited). Oracle = the same three
    frontier expansions as chained CTEs with MIN(hop) merges."""
    from generative_ner_spark.operators import graph

    seeds = _t(spark, sf_dir, "part").where(
        F.col("p_partkey") % 97 == 0).select(
        F.col("p_partkey").alias("node"))
    return graph.khop_neighbors(
        _part_coocc_edges(spark, sf_dir), seeds, k=3,
    ).orderBy("node")


def q61_rolling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h velocity features (temporal.rolling_agg): every
    event gains the count and value-sum of same-user events in
    [ts-24h, ts]. ONE Exchange on user_id; the RANGE frame (not ROWS)
    makes equal-timestamp rows share a frame — deterministic without a
    sequence column, and exactly DuckDB's RANGE BETWEEN replay.
    Round-6 float contract on the windowed sum."""
    from generative_ner_spark.operators import temporal

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value")
    return temporal.rolling_agg(
        ev, key_cols="user_id", ts_col="ts", window_seconds=86400,
        value_col="value",
    ).drop("value").orderBy("event_id")


def q62_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (tfidf.pmi_bigrams): adjacent-bigram PMI over
    the documents corpus, pairs seen >= 5 times. One explode + ONE
    map-side-combined groupBy over corpus-sized data; marginals are
    vocabulary-sized re-aggregations of the persisted pair counts. The
    oracle replays the same tokenizer, the same bigram-table marginals,
    and the same ln(n_pair*N/(n_first*n_second)) rounded to 6."""
    from generative_ner_spark.operators import tfidf

    d = _t(spark, sf_dir, "documents").select("text")
    return tfidf.pmi_bigrams(d, min_count=5).orderBy("w1", "w2")


def q63_fuzzy_name_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate entity-name linking (linking.fuzzy_name_link):
    deterministically mutated part names (drop last char / append 'x' /
    unchanged by partkey mod 3) re-linked to the part catalog within
    Levenshtein distance 2. Blocking = equi-join on (lower 1-char
    prefix, length band via catalog-side explode) — no similarity cross
    join; best match is a map-side-combinable min(struct(distance,
    entity_id)). The oracle replays the identical blocking predicate
    and tie-break."""
    from generative_ner_spark.operators import linking

    part = _t(spark, sf_dir, "part")
    mentions = part.select(
        F.col("p_partkey").alias("mention_id"),
        F.expr(
            "CASE CAST(p_partkey % 3 AS INT)"
            " WHEN 0 THEN substring(p_name, 1, length(p_name) - 1)"
            " WHEN 1 THEN concat(p_name, 'x')"
            " ELSE p_name END").alias("mention"),
    )
    catalog = part.select(
        F.col("p_partkey").alias("entity_id"),
        F.col("p_name").alias("name"))
    return linking.fuzzy_name_link(
        mentions, catalog, max_distance=2).orderBy("mention_id")


def q64_jaccard_set_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (dedup.jaccard_set_join): every
    document pair with 3-token-shingle-set Jaccard >= 0.5. PPJoin
    prefix filtering (rarest-first global shingle order; a doc exposes
    only its first n-ceil(t*n)+1 shingles as join keys) makes candidate
    generation rare-shingle-bound instead of all-pairs; exact
    verification on sorted shingle arrays. The oracle replays the
    UNFILTERED quadratic definition, so hash-equality also certifies
    the prefix filter lossless."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.jaccard_set_join(
        d, shingle_n=3, threshold=0.5).orderBy("a", "b")


def q65_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (graph.components) over the part
    co-occurrence graph -> (node, component = min member id) — the
    cluster primitive behind every fuzzy-dedup survivor pick, exposed on
    the graph API. Alternating large-star/small-star (Kiveris et al.
    SoCC'14), O(log n) rounds; the oracle is the recursive
    transitive-closure CTE (min reachable id == component minimum)."""
    from generative_ner_spark.operators import graph

    return graph.components(
        _part_coocc_edges(spark, sf_dir)).orderBy("node")


def q66_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window RAG chunking (packing.chunk_documents): 32-token
    chunks every 24 tokens (8-token overlap) over the documents corpus.
    A pure narrow projection — tokenize, O(1)-depth start-offset
    sequence, explode, slice; no shuffle, no UDF. The oracle replays
    the identical list slicing in DuckDB."""
    from generative_ner_spark.operators import packing

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return packing.chunk_documents(
        d, chunk_tokens=32, overlap=8).orderBy("doc_id", "chunk_id")


def q67_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf fit (tfidf.zipf_slope): least-squares slope of
    ln(freq) on ln(rank) over each language's top-500 terms — the
    corpus-health gate (natural text ~ -1; boilerplate drifts flat).
    ONE corpus-sized groupBy (term counts); the regression is a
    vocabulary-sized window + closed-form aggregate, replayed verbatim
    by the oracle (round-6 float contract)."""
    from generative_ner_spark.operators import quality, tfidf

    d = quality.lang_id(_t(spark, sf_dir, "documents"))
    return tfidf.zipf_slope(
        d, group_col="lang_pred", top_n=500, min_terms=10,
    ).orderBy("lang_pred")


def q68_decayed_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted user activity (temporal.decayed_counts):
    per-user event count + exponential-decay score (7-day half-life,
    anchored at the corpus max timestamp — deterministic, never
    wall-clock). ONE map-side-combined groupBy; the decay weight is
    per-row codegen. Oracle replays the same max-ts CTE and
    power(0.5, age/hl) arithmetic, round-6."""
    from generative_ner_spark.operators import temporal

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    return temporal.decayed_counts(
        ev, key_cols="user_id", ts_col="ts", half_life_days=7.0,
    ).orderBy("user_id")


def q69_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk-style walks (graph.random_walks): 2 walks
    x 3 steps from every ~1%-sampled seed part over the co-occurrence
    graph; the step choice is md5(salt:walk:step) mod degree over the
    dst-sorted neighbor list, so the walks are byte-identical on any
    engine/cluster size and the oracle replays them exactly (three
    unrolled ranked-adjacency joins)."""
    from generative_ner_spark.operators import graph

    seeds = _t(spark, sf_dir, "part").where(
        F.col("p_partkey") % 97 == 0).select(
        F.col("p_partkey").alias("node"))
    return graph.random_walks(
        _part_coocc_edges(spark, sf_dir), walk_len=3, walks_per_node=2,
        seeds=seeds,
    ).orderBy("walk_id", "step")


def q70_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster audit report (dedup.fuzzy_dup_clusters): every
    doc of the q31 salted corpus that sits in a MinHash-LSH near-dup
    cluster, with its component id (= min member) and cluster size —
    what a curation run logs for review before committing to a survivor
    policy. Shares the q31 pair machinery (md5 family, lifted cap) so
    the oracle replays pairs AND components (recursive CTE) and adds
    the size aggregate."""
    salted = _truncated_salted_docs(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("string"))
    return dedup.fuzzy_dup_clusters(
        salted, jaccard_threshold=0.8, max_bucket=None,
        hash_family="md5",
    ).orderBy("doc_id")


def q71_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (graph.label_propagation): 3 synchronous
    label-propagation rounds over the part co-occurrence graph, ties to
    the smallest label — a pure function of (edges, n_iter), so the
    oracle replays the identical unrolled argmax rounds. Per round: one
    adjacency-vs-labels join + two map-side-combined aggregates."""
    from generative_ner_spark.operators import graph

    return graph.label_propagation(
        _part_coocc_edges(spark, sf_dir), n_iter=3).orderBy("node")


def q72_group_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language relative quality gate (quality.
    filter_by_group_quantile): keep each language's docs at or above
    its OWN median token count — the CCNet-style per-group threshold an
    absolute cutoff can't express. ONE map-side-combined threshold agg
    broadcast back; the boundary is cross-engine exact because the
    interpolated quantile is either an order statistic or strictly
    between two (see operator docstring)."""
    from generative_ner_spark.operators import quality

    d = quality.lang_id(_t(spark, sf_dir, "documents"))
    d = d.select("doc_id", "lang_pred",
                 quality.token_count_col("text").alias("n_tok"))
    return quality.filter_by_group_quantile(
        d, group_col="lang_pred", value_col="n_tok", prob=0.5,
    ).select("doc_id", "lang_pred", "n_tok").orderBy("doc_id")


def q73_approx_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION approximate global triangle count (graph.
    triangle_count_approx): md5-coin edge sampling at p=0.5 (the same
    subgraph on every engine/run — sampling noise is a property of the
    input, not the run), exact count on the sample, scale by 1/p^3.
    Cuts the dominant wedge-join work ~p^2 = 4x; the oracle replays the
    identical coin, orientation, wedge-close and scaling."""
    from generative_ner_spark.operators import graph

    return graph.triangle_count_approx(
        _part_coocc_edges(spark, sf_dir), p=0.5)


def q74_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot merge (temporal.merge_changelog — Iceberg MERGE INTO
    semantics): the snapshot is each user's latest (value, event_type)
    before 2024-01-15; the changelog is every event from then on, with
    'error' events as deletes. Latest change wins (ties by event_id),
    deleted keys disappear, untouched keys keep their snapshot row —
    ONE window exchange, no join. The oracle replays the identical
    union + row_number election."""
    from pyspark.sql import Window

    from generative_ner_spark.operators import temporal

    e = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    snap = (
        e.where(F.col("ts") < cutoff)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "value", "event_type")
    )
    chg = e.where(F.col("ts") >= cutoff).select(
        "user_id", "value", "event_type", "ts", "event_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert")).alias("op"),
    )
    return temporal.merge_changelog(
        snap, chg, "user_id", ts_col="ts", op_col="op", seq_col="event_id",
    ).orderBy("user_id")


def q75_triple_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-predicate conflict resolution (triples.
    resolve_conflicts): every order asserts (customer,
    has_order_status, status); the majority status wins per customer
    (ties: smaller status), with the competing-value count as the
    audit column. One slim groupBy + one slim window."""
    from generative_ner_spark.operators import triples as T

    o = _t(spark, sf_dir, "orders")
    tr = o.select(
        F.col("o_custkey").alias("subj_id"),
        F.lit("has_order_status").alias("pred"),
        F.col("o_orderstatus").alias("obj_id"),
    )
    return T.resolve_conflicts(tr).orderBy("subj_id")


def q76_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology range-constraint check (triples.constraint_violations):
    orders assert has_order_status and has_priority triples; the
    constraint table admits only {F, O} statuses and the three urgent
    priority grades, so 'P' orders and low priorities surface in the
    violation report. Broadcast semi/anti joins + one slim groupBy."""
    from generative_ner_spark.operators import triples as T

    o = _t(spark, sf_dir, "orders")
    tr = o.select(
        F.col("o_custkey").alias("subj_id"),
        F.lit("has_order_status").alias("pred"),
        F.col("o_orderstatus").alias("obj_id"),
    ).unionByName(o.select(
        F.col("o_custkey").alias("subj_id"),
        F.lit("has_priority").alias("pred"),
        F.col("o_orderpriority").alias("obj_id"),
    ))
    allowed = spark.createDataFrame(
        [("has_order_status", "F"), ("has_order_status", "O"),
         ("has_priority", "1-URGENT"), ("has_priority", "2-HIGH"),
         ("has_priority", "3-MEDIUM")],
        "pred string, obj_id string",
    )
    return T.constraint_violations(tr, allowed).orderBy("pred", "obj_id")


def q77_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (dedup.remove_boilerplate_lines —
    the CCNet/RefinedWeb line filter): docs are built with a banner
    line in EVERY doc, a footer in half, and a within-doc duplicated
    content line in every third. Lines in >= 10 distinct docs vanish
    from ALL docs (unlike q41's first-wins policy) and within-doc
    repeats keep only their first occurrence; rebuild preserves
    order."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s1 = F.expr("substring(text, 1, 60)")
    s2 = F.expr("substring(text, 61, 60)")
    m = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit(_BOILER[0]),
            s1,
            F.when(F.col("doc_id") % 3 == 0, s1).otherwise(s2),
            F.when(F.col("doc_id") % 2 == 0, F.lit(_BOILER[1])),
        ).alias("text"),
    )
    return dedup.remove_boilerplate_lines(m, min_docs=10).orderBy("doc_id")


def q78_hashed_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear quality classifier (quality.
    hashed_quality_score — the fastText-style filter shape): md5-
    indexed integer micro-weights, document score = mean token weight,
    keep = score >= 0. ZERO shuffle, one codegen projection; integer
    accumulation makes the mean float-exact across engines."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return quality.hashed_quality_score(d, threshold=0.0).select(
        "doc_id", "quality_score", "keep").orderBy("doc_id")


def q79_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL snapshot dedup (urls.canonical_url_col +
    dedup_by_canonical_url): four crawl-variant spellings per page
    (www + trailing slash / bare / userinfo + query / port + fragment)
    collapse onto one canonical key; the longest document per key
    survives (ties: smallest doc_id), URL-less docs always survive.
    Slim winner election, losers-only anti-join."""
    from generative_ner_spark.operators import urls

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    g = (F.col("doc_id") % 37).cast("string")
    p = (F.col("doc_id") % 7).cast("string")
    url = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(
            F.lit("https://www.example"), g, F.lit(".com/item/"), p,
            F.lit("/")))
        .when(F.col("doc_id") % 4 == 1, F.concat(
            F.lit("https://example"), g, F.lit(".com/item/"), p))
        .when(F.col("doc_id") % 4 == 2, F.concat(
            F.lit("https://user:pw@example"), g, F.lit(".com/item/"), p,
            F.lit("?utm=1")))
        .otherwise(F.concat(
            F.lit("https://example"), g, F.lit(".com:8080/item/"), p,
            F.lit("#f")))
    )
    docs = d.select("doc_id", url.alias("url"), "n_chars")
    return urls.dedup_by_canonical_url(
        docs, quality_col="n_chars",
    ).select("doc_id", "canonical_url").orderBy("doc_id")


def q80_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 validity intervals (temporal.scd2_history): the events
    changelog per user ('error' rows as deletes) becomes a versioned
    history — each upsert a row with [valid_from, valid_to) closed by
    the NEXT change, deletes closing but not emitting. ONE window
    exchange. The time-travel companion of q74's latest-wins merge."""
    from generative_ner_spark.operators import temporal

    e = _t(spark, sf_dir, "events").select(
        "user_id", "value", "event_type", "ts", "event_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert")).alias("op"),
    )
    return temporal.scd2_history(
        e, "user_id", ts_col="ts", op_col="op", seq_col="event_id",
        payload=["value", "event_type"],
    ).orderBy("user_id", "version")


def q81_nll_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality tiers (quality.
    bucket_by_group_quantiles over tfidf.unigram_logprob_score): each
    doc labeled by where its unigram NLL falls among ITS LANGUAGE's
    terciles — CCNet §4.3's per-language perplexity split. Thresholds
    are one map-side-combined percentile agg broadcast back; the
    boundary is cross-engine exact (q72's order-statistic argument)."""
    from generative_ner_spark.operators import tfidf

    d = _t(spark, sf_dir, "documents")
    scored = tfidf.unigram_logprob_score(d).select(
        F.col("id").alias("doc_id"), "nll")
    j = scored.join(d.select("doc_id", "lang"), "doc_id")
    return quality.bucket_by_group_quantiles(
        j, group_col="lang", value_col="nll",
    ).select("doc_id", "lang", "nll", "bucket").orderBy("doc_id")


def q82_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (sketches.kmv_sketch, k=128): distinct
    parts per lineitem return flag, estimated from the 128 smallest
    md5-unit hashes — deterministic order statistics, so the ESTIMATE
    itself is oracle-exact. ~2000 true distincts per flag exercises the
    (k-1)/h_k branch."""
    from generative_ner_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    return sketches.kmv_sketch(
        li, group_col="l_returnflag", value_col="l_partkey", k=128,
    ).select("l_returnflag", "n_kept", "est_distinct").orderBy(
        "l_returnflag")


def q83_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + sharding (packing.shard_layout):
    every doc gets its md5-uniform shard and its within-shard position
    in hash-rank order — the reproducible write layout a training run
    shards into files with. One codegen hash + one window exchange on
    the uniform shard key."""
    from generative_ner_spark.operators import packing

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return packing.shard_layout(d, n_shards=8).select(
        "doc_id", "shard", "pos").orderBy("doc_id")


def q84_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (graph.hits, 2 L1-normalized rounds)
    over the directed supplier -> customer shipment graph: good hubs
    (suppliers) ship to well-supplied customers, good authorities
    (customers) buy from strong suppliers. The oracle replays the
    unrolled rounds with the same scalar normalizations."""
    from generative_ner_spark.operators import graph

    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
            .alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
            .alias("dst"),
        )
    )
    return graph.hits(edges, n_iter=2).orderBy("node")


def q85_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-k-smoothed bigram LM NLL (tfidf.bigram_nll): one modeling
    step past q55's unigram proxy — word-ORDER violations now score
    high. One corpus-wide bigram count (map-side combined, persisted);
    marginals + vocab scalar are vocabulary-sized derivatives."""
    from generative_ner_spark.operators import tfidf

    d = _t(spark, sf_dir, "documents")
    return tfidf.bigram_nll(d, add_k=0.5).select(
        F.col("id").alias("doc_id"), "n_bigrams", "nll").orderBy("doc_id")


def q86_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient (graph.
    clustering_coefficient = degrees + triangle_counts + one uniform-key
    join) over a 1/3-sparsified part co-occurrence graph (every third
    order) — the clique-ness signal for entity neighborhoods. The
    oracle replays orientation, wedge-close, membership counts and the
    2T/d(d-1) arithmetic."""
    from generative_ner_spark.operators import graph

    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 3 == 0).select("l_orderkey", "l_partkey")
    edges = graph.cooccurrence_edges(
        li, basket_col="l_orderkey", item_col="l_partkey")
    return graph.clustering_coefficient(edges).orderBy("node")


def q87_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group CDF normalization (quality.group_percent_rank): each
    doc's length percentile WITHIN its own language — the calibration
    that makes heterogeneous signals comparable across groups. ONE
    window exchange; exact integer rank arithmetic => float-exact
    oracle."""
    d = _t_seq(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return quality.group_percent_rank(
        d, group_col="lang", value_col="n_chars",
    ).orderBy("doc_id")


def q88_mixed_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level language-consistency (quality.
    mixed_language_stats): 24-token chunks, per-chunk lang-ID, per-doc
    majority + disagreement ratio — the Dolma-style mixed-language
    flag a doc-level argmax averages away. Chunking and lang-ID are
    pure codegen; only slim (id, lang) counts shuffle."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return quality.mixed_language_stats(
        d, chunk_tokens=24,
    ).orderBy("doc_id")


def q89_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (bm25.rrf_fuse — Cormack et al. SIGIR'09):
    three top-50 document rankings on incomparable scales (length,
    token count, hash order) fused into one top-10 via Σ 1/(60+rank).
    The fused agg is result-set-sized; exact-integer reciprocals."""
    from pyspark.sql import Window

    from generative_ner_spark.operators import bm25

    d = _t(spark, sf_dir, "documents")

    def ranked(order_cols):
        w = Window.orderBy(*order_cols)
        return (
            d.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 50)
            .select("doc_id", "rank")
        )

    r1 = ranked([F.col("n_chars").desc(), F.col("doc_id").asc()])
    r2 = ranked([quality.token_count_col("text").desc(),
                 F.col("doc_id").asc()])
    r3 = ranked([F.md5(F.concat(F.lit("rrf:"),
                                F.col("doc_id").cast("string"))).asc(),
                 F.col("doc_id").asc()])
    return bm25.rrf_fuse([r1, r2, r3], k=60, top_k=10).orderBy("rank")


def q90_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (graph.adamic_adar) on the q86
    sparsified co-occurrence graph: top-200 NON-edge pairs by common
    neighbors weighted 1/ln(deg) — "which entities should probably be
    linked". Wedge generation from the degree-annotated adjacency,
    map-side-combined pair agg, slim anti-join against existing
    edges."""
    from generative_ner_spark.operators import graph

    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 10 == 0).select("l_orderkey", "l_partkey")
    edges = graph.cooccurrence_edges(
        li, basket_col="l_orderkey", item_col="l_partkey")
    return graph.adamic_adar(edges).orderBy(
        F.col("aa").desc(), F.col("a").asc(), F.col("b").asc()).limit(200)


def q91_throttle_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key event throttling (temporal.throttle_events): at most one
    event per user per 2-hour quiet period — alert-dedup semantics
    (gap-island firsts, which reduce to ONE lag comparison). One window
    exchange, codegen filter, no state."""
    from generative_ner_spark.operators import temporal

    e = _t(spark, sf_dir, "events")
    return temporal.throttle_events(
        e, "user_id", ts_col="ts", quiet_seconds=7200, seq_col="event_id",
    ).select("event_id", "user_id", "ts").orderBy("event_id")


def q92_mention_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-mention context extraction (detect.
    mention_context_windows): every occurrence of a 3-term catalog with
    ±5 tokens of context — the corpus → NER-training-examples export.
    Pure narrow codegen, ZERO shuffle."""
    from generative_ner_spark.operators import detect

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return detect.mention_context_windows(
        d, terms=["spark", "table", "query"], window=5,
    ).orderBy("doc_id", "pos")


def q93_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG-embedding training negatives (triples.negative_samples —
    filtered TransE protocol): (supplier, supplies, part) positives
    from every 20th order, k=2 md5-indexed corruptions against the
    rank-ordered part catalog, false negatives dropped via a slim
    anti-join. Deterministic: the training set is byte-identical on
    every run and engine."""
    from generative_ner_spark.operators import triples as T

    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 20 == 0)
    pos = li.select(
        F.col("l_suppkey").alias("subj_id"),
        F.lit("supplies").alias("pred"),
        F.col("l_partkey").alias("obj_id"),
    ).distinct()
    ents = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("entity_id"))
    return T.negative_samples(pos, ents, k=2).orderBy(
        "subj_id", "pred", "neg_obj", "slot")


def q94_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit — the composition a real pretraining run
    MUST ship: md5-interval split assignment (q44) x MinHash-LSH
    near-dup pairs (q20, md5 family) filtered to pairs that straddle a
    split boundary. Every such pair is an eval answer leaked into
    train. Pair machinery + two slim split joins."""
    salted = _truncated_salted_docs(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("string"))
    pairs = dedup.near_duplicate_pairs_minhash(
        salted, jaccard_threshold=0.8, max_bucket=None,
        hash_family="md5")
    spl = quality.assign_split(
        salted.select("doc_id"),
        {"train": 0.9, "valid": 0.05, "test": 0.05})
    return (
        pairs
        .join(spl.select(F.col("doc_id").alias("a"),
                         F.col("split").alias("split_a")), "a")
        .join(spl.select(F.col("doc_id").alias("b"),
                         F.col("split").alias("split_b")), "b")
        .where(F.col("split_a") != F.col("split_b"))
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"),
                "split_a", "split_b")
        .orderBy("a", "b")
    )


def q95_bounded_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded transitive closure (graph.bounded_closure): a synthetic
    part_of forest (partkey -> partkey/10 for keys >= 10) expanded to
    all ancestors within 3 hops with minimal depth — the ontology-
    subsumption materialization. One Exchange per round, anti-join
    keeps minimal depths, localCheckpoint per round."""
    from generative_ner_spark.operators import graph

    p = _t(spark, sf_dir, "part").select("p_partkey")
    edges = p.where(F.col("p_partkey") >= 10).select(
        F.col("p_partkey").alias("src"),
        (F.col("p_partkey") / 10).cast("long").alias("dst"),
    )
    return graph.bounded_closure(edges, max_depth=3).orderBy(
        "src", "depth", "dst")


def q96_property_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property-table pivot (triples.property_table): customer triples
    (order status / priority / date assertions) denormalized into one
    wide row per customer — the SPARQL property-table serving layout.
    ONE map-side-combined groupBy; explicit predicate list compiles to
    min(CASE) aggregates."""
    from generative_ner_spark.operators import triples as T

    o = _t(spark, sf_dir, "orders")
    tr = (
        o.select(F.col("o_custkey").alias("subj_id"),
                 F.lit("status").alias("pred"),
                 F.col("o_orderstatus").alias("obj_id"))
        .unionByName(o.select(
            F.col("o_custkey").alias("subj_id"),
            F.lit("priority").alias("pred"),
            F.col("o_orderpriority").alias("obj_id")))
        .unionByName(o.select(
            F.col("o_custkey").alias("subj_id"),
            F.lit("order_date").alias("pred"),
            F.col("o_orderdate").cast("string").alias("obj_id")))
    )
    return T.property_table(
        tr, ["status", "priority", "order_date"]).orderBy("subj_id")


def q97_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Tukey-fence outlier flagging (quality.iqr_outliers):
    each doc judged against ITS LANGUAGE's length quartiles. One
    map-side-combined percentile agg broadcast back; fences rounded to
    the 1e-6 grid on both engines (the documented cross-engine
    contract for fence ARITHMETIC, vs q72's bare order-statistic
    compare)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return quality.iqr_outliers(
        d, group_col="lang", value_col="n_chars",
    ).select("doc_id", "lang", "n_chars", "lo_fence", "hi_fence",
             "is_outlier").orderBy("doc_id")


def q98_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (graph.personalized_pagerank, 3 rounds,
    damping 0.85) over the 1/3-sparsified co-occurrence graph with
    every 101st part as the seed set — 'entities related to THIS query
    set', the KG recommendation primitive. PageRank's per-iteration
    ONE-Exchange shape; the oracle unrolls the identical updates with
    the seed-teleport CASE."""
    from generative_ner_spark.operators import graph

    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 3 == 0).select("l_orderkey", "l_partkey")
    edges = graph.cooccurrence_edges(
        li, basket_col="l_orderkey", item_col="l_partkey")
    seeds = _t(spark, sf_dir, "part").where(
        F.col("p_partkey") % 101 == 0).select(
        F.col("p_partkey").alias("node"))
    return graph.personalized_pagerank(
        edges, seeds, n_iter=3, damping=0.85).orderBy("node")


def q99_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate vs the corpus's own df>=5 pruned
    vocabulary (tfidf.oov_rate) — the tokenizer-prep hapax-soup gate.
    One persisted (doc, term) count feeds the df agg AND the broadcast
    membership join."""
    from generative_ner_spark.operators import tfidf

    d = _t(spark, sf_dir, "documents")
    return tfidf.oov_rate(d, min_df=5).select(
        F.col("id").alias("doc_id"), "n_tok", "n_oov", "oov_ratio",
    ).orderBy("doc_id")


def q100_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-row corpus health dashboard (quality.corpus_health_report):
    docs, tokens, vocabulary size, exact-dup ratio, mean doc length —
    the before/after numbers every curation stage logs. Two map-side-
    combined aggregate passes, one-row cross join."""
    d = _t(spark, sf_dir, "documents")
    return quality.corpus_health_report(d)


def q101_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel (temporal.funnel_counts): view -> click ->
    purchase per user, each step strictly after the previous step's
    reach time — order-aware product-analytics funnel with per-step
    conversion. k slim per-user passes; no full-stream window."""
    from generative_ner_spark.operators import temporal

    e = _t(spark, sf_dir, "events")
    return temporal.funnel_counts(
        e, ["view", "click", "purchase"]).orderBy("step_idx")


def q102_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix (temporal.retention_cohorts):
    users cohorted by first-event ISO week, cells = cohort users active
    at each week offset. Slim per-user cohort join + map-side-combined
    cell agg."""
    from generative_ner_spark.operators import temporal

    e = _t(spark, sf_dir, "events")
    return temporal.retention_cohorts(e).orderBy(
        "cohort_week", "week_offset")


def q32_knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join (3 query vectors x top-5 corpus neighbors): numpy-
    matmul Arrow scoring with a k-per-query-per-partition pre-reduction,
    then one global window. Fully SQL-expressible semantics => full DuckDB
    oracle (window row_number over exact cosines)."""
    em = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = em.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return (
        similarity.knn_join_topk(em, queries, k=5)
        .select("query_id", "vec_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: emitted (subj, pred, obj) triples (the P/R>=0.95 gate vs
    the reference loop lives in tests/test_pipeline.py; full DuckDB oracle
    on the noise-free lexicon corpus)."""
    from generative_ner_spark.plans import testdata_kg

    res = testdata_kg.run_testdata_pipeline(spark, sf_dir)
    return res.triples.select(
        "subj_id", "pred", "obj_id", "doc_id", "span_offset"
    ).orderBy("doc_id", "span_offset", "pred", "subj_id", "obj_id")


def kg_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: media spans -> executor-side fetch -> typed
    metadata (deterministic fake payloads). Oracle covers (media_ref, kind,
    size_bytes) — which docs produce media rows, the ref format, and the
    fetched payload size; content_hash is dropped from the driver compare
    only because DuckDB's md5 can't hash raw BLOBs (it is pinned by the
    multimodal pytest suite instead)."""
    from generative_ner_spark.operators import multimodal
    from generative_ner_spark.plans import testdata_kg

    docs = testdata_kg.interleaved_docs(spark, sf_dir)
    media = multimodal.extract_media_spans(docs)
    return (
        multimodal.media_metadata(multimodal.fetch_payloads(media))
        .select("media_ref", "kind", "size_bytes")
        .orderBy("media_ref")
    )


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return kg_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_revenue_by_nation": q02_revenue_by_nation,
        "q03_window_topk_orders": q03_window_topk_orders,
        "q04_customers_without_orders": q04_customers_without_orders,
        "q05_distinct_event_types": q05_distinct_event_types,
        "q06_order_lineitem_join_agg": q06_order_lineitem_join_agg,
        "q07_user_sessions": q07_user_sessions,
        "q08_salted_groupby_counts": q08_salted_groupby_counts,
        "q09_normalize_documents": q09_normalize_documents,
        "q10_token_counts": q10_token_counts,
        "q11_lang_id": q11_lang_id,
        "q12_quality_features": q12_quality_features,
        "q13_fingerprint_dedup": q13_fingerprint_dedup,
        "q14_minhash_signature": q14_minhash_signature,
        "q15_ngram_distinct_count": q15_ngram_distinct_count,
        "q16_embedding_norms": q16_embedding_norms,
        "q17_cosine_topk": q17_cosine_topk,
        "q18_ann_lsh_topk": q18_ann_lsh_topk,
        "q19_simhash_near_dups": q19_simhash_near_dups,
        "q20_minhash_near_dups": q20_minhash_near_dups,
        "q21_cost_estimate": q21_cost_estimate,
        "q22_batch_tasks": q22_batch_tasks,
        "q23_rollup_revenue": q23_rollup_revenue,
        "q24_json_props": q24_json_props,
        "q25_embedding_near_dups": q25_embedding_near_dups,
        "q26_chunk_documents": q26_chunk_documents,
        "q27_curation_report": q27_curation_report,
        "q28_sync_generate": q28_sync_generate,
        "q29_ivf_topk": q29_ivf_topk,
        "q30_curated_documents": q30_curated_documents,
        "q31_near_dedup_documents": q31_near_dedup_documents,
        "q32_knn_join_topk": q32_knn_join_topk,
        "q33_repetition_features": q33_repetition_features,
        "q34_stratified_sample": q34_stratified_sample,
        "q35_windowed_mention_counts": q35_windowed_mention_counts,
        "q36_first_seen_dedup": q36_first_seen_dedup,
        "q37_pii_redaction": q37_pii_redaction,
        "q38_decontamination": q38_decontamination,
        "q39_sequence_packing": q39_sequence_packing,
        "q40_domain_stats": q40_domain_stats,
        "q41_paragraph_dedup": q41_paragraph_dedup,
        "q42_interleaved_composition": q42_interleaved_composition,
        "q43_tfidf_top_terms": q43_tfidf_top_terms,
        "q44_split_assignment": q44_split_assignment,
        "q45_bm25_search": q45_bm25_search,
        "q46_asof_join": q46_asof_join,
        "q47_capped_group_sample": q47_capped_group_sample,
        "q48_semantic_dedup": q48_semantic_dedup,
        "q49_grouped_quantiles": q49_grouped_quantiles,
        "q50_incremental_dedup": q50_incremental_dedup,
        "q51_token_budget_mixture": q51_token_budget_mixture,
        "q52_sessionize": q52_sessionize,
        "q53_weighted_sample": q53_weighted_sample,
        "q54_duplicate_window_spans": q54_duplicate_window_spans,
        "q55_unigram_nll": q55_unigram_nll,
        "q56_top_terms_per_lang": q56_top_terms_per_lang,
        "q57_interval_join": q57_interval_join,
        "q58_pagerank": q58_pagerank,
        "q59_triangle_counts": q59_triangle_counts,
        "q60_khop_neighbors": q60_khop_neighbors,
        "q61_rolling_events": q61_rolling_events,
        "q62_pmi_collocations": q62_pmi_collocations,
        "q63_fuzzy_name_link": q63_fuzzy_name_link,
        "q64_jaccard_set_join": q64_jaccard_set_join,
        "q65_connected_components": q65_connected_components,
        "q66_doc_chunks": q66_doc_chunks,
        "q67_zipf_slope": q67_zipf_slope,
        "q68_decayed_salience": q68_decayed_salience,
        "q69_random_walks": q69_random_walks,
        "q70_dup_clusters": q70_dup_clusters,
        "q71_label_propagation": q71_label_propagation,
        "q72_group_quantile_gate": q72_group_quantile_gate,
        "q73_approx_triangles": q73_approx_triangles,
        "q74_snapshot_merge": q74_snapshot_merge,
        "q75_triple_conflicts": q75_triple_conflicts,
        "q76_constraint_violations": q76_constraint_violations,
        "q77_boilerplate_lines": q77_boilerplate_lines,
        "q78_hashed_quality": q78_hashed_quality,
        "q79_url_dedup": q79_url_dedup,
        "q80_scd2_history": q80_scd2_history,
        "q81_nll_buckets": q81_nll_buckets,
        "q82_kmv_distinct": q82_kmv_distinct,
        "q83_shard_layout": q83_shard_layout,
        "q84_hits": q84_hits,
        "q85_bigram_nll": q85_bigram_nll,
        "q86_clustering_coefficient": q86_clustering_coefficient,
        "q87_percent_rank": q87_percent_rank,
        "q88_mixed_language": q88_mixed_language,
        "q89_rrf_fusion": q89_rrf_fusion,
        "q90_adamic_adar": q90_adamic_adar,
        "q91_throttle_events": q91_throttle_events,
        "q92_mention_contexts": q92_mention_contexts,
        "q93_negative_samples": q93_negative_samples,
        "q94_cross_split_leakage": q94_cross_split_leakage,
        "q95_bounded_closure": q95_bounded_closure,
        "q96_property_table": q96_property_table,
        "q97_iqr_outliers": q97_iqr_outliers,
        "q98_personalized_pagerank": q98_personalized_pagerank,
        "q99_oov_rate": q99_oov_rate,
        "q100_corpus_health": q100_corpus_health,
        "q101_funnel": q101_funnel,
        "q102_retention_cohorts": q102_retention_cohorts,
        "kg_mention_counts": kg_mention_counts,
        "kg_mention_counts_individual": kg_mention_counts_individual,
        "kg_triples": kg_triples,
        "kg_media_metadata": kg_media_metadata,
    }


# SQL building blocks shared by several oracles (DuckDB dialect).
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[!-/;-@\\[-`{-~]', '', 'g'), "
    "'[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))"
)
_WS_TOKENS_SQL = (
    "CASE WHEN length(trim(text)) = 0 THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) END"
)


def _lang_id_sql(from_: str = "documents", order_by: bool = True) -> str:
    langs = sorted(LANG_MARKERS)  # de, en, es, fr — same order as Spark side
    hits = ", ".join(
        f"len(regexp_extract_all(lower(text), '{LANG_MARKERS[lang]}', 0)) AS h_{lang}"
        for lang in langs
    )
    # argmax with ties to earlier lang in sorted order
    cond = []
    for i, lang in enumerate(langs):
        others = [f"h_{lang} >= h_{o}" for o in langs[i + 1 :]]
        cond.append(
            ("WHEN " + " AND ".join(others) + f" THEN '{lang}'")
            if others
            else f"ELSE '{lang}'"
        )
    case = " ".join(cond)
    zero = " AND ".join(f"h_{lang} = 0" for lang in langs)
    return (
        f"SELECT doc_id, CASE WHEN {zero} THEN 'und' {case} END AS lang_pred "
        f"FROM (SELECT doc_id, {hits} FROM {from_})"
        + (" ORDER BY doc_id" if order_by else "")
    )


def _mixed_lang_sql(chunk_tokens: int = 24) -> str:
    """q88 oracle: replay no-overlap chunking (q66's slice arithmetic),
    the per-chunk lang-ID argmax (same marker regexes and tie order as
    _lang_id_sql, keyed by (doc_id, chunk_id)), then majority +
    disagreement ratio."""
    langs = sorted(LANG_MARKERS)
    hits = ", ".join(
        f"len(regexp_extract_all(lower(text), '{LANG_MARKERS[lang]}', 0))"
        f" AS h_{lang}"
        for lang in langs
    )
    cond = []
    for i, lang in enumerate(langs):
        others = [f"h_{lang} >= h_{o}" for o in langs[i + 1:]]
        cond.append(
            ("WHEN " + " AND ".join(others) + f" THEN '{lang}'")
            if others else f"ELSE '{lang}'"
        )
    case = " ".join(cond)
    zero = " AND ".join(f"h_{lang} = 0" for lang in langs)
    c = int(chunk_tokens)
    return rf"""
        WITH tk AS (
            SELECT doc_id, list_filter(regexp_split_to_array(
                text, '[ \t\n\x0b\f\r]+'), x -> x != '') AS t
            FROM documents
        ), chunks AS (
            SELECT doc_id, CAST(s / {c} AS INT) AS chunk_id,
                   array_to_string(t[s + 1:s + {c}], ' ') AS text
            FROM tk, UNNEST(range(0, greatest(len(t), 1), {c})) AS u(s)
            WHERE len(t) > 0
        ), h AS (
            SELECT doc_id, chunk_id, {hits} FROM chunks
        ), lang AS (
            SELECT doc_id, chunk_id,
                   CASE WHEN {zero} THEN 'und' {case} END AS lang_pred
            FROM h
        ), counts AS (
            SELECT doc_id, lang_pred, count(*) AS n
            FROM lang GROUP BY doc_id, lang_pred
        ), major AS (
            SELECT doc_id, lang_pred, n,
                   row_number() OVER (PARTITION BY doc_id
                       ORDER BY n DESC, lang_pred ASC) AS rn
            FROM counts
        ), tot AS (
            SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chunks
            FROM counts GROUP BY doc_id
        )
        SELECT m.doc_id, t.n_chunks, m.lang_pred AS major_lang,
               m.n AS n_major,
               round(1.0 - m.n / CAST(t.n_chunks AS DOUBLE), 6)
                   AS mixed_ratio
        FROM major m JOIN tot t USING (doc_id)
        WHERE m.rn = 1 ORDER BY m.doc_id"""


# Salted near-dup corpus shared by the q19/q20 oracles: the original docs
# plus truncated copies of the first 20 (doc_id + 1000000). trunc() matters:
# Spark's CAST(double AS int) truncates while DuckDB's rounds half-even.
_SALTED_DOCS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           substring(text, 1, CAST(trunc(length(text) * 0.97) AS INT)) AS text
    FROM documents WHERE doc_id < 20
"""

# md5-family token hash shared by the q19/q20 oracles: first 15 hex chars of
# md5 -> 60-bit BIGINT, the twin of Spark's conv(substring(md5(t),1,15),16,10)
_MD5_HASH60 = "CAST('0x' || substring(md5({v}), 1, 15) AS BIGINT)"


def _simhash_pairs_sql(width: int = 60, max_hamming: int = 3) -> str:
    """q19 oracle: full replay of the md5-family SimHash near-dup operator.

    Signature: per whitespace token, 60-bit md5 hash; bit i of the signature
    is the sign of the sum over tokens of ±1 by the token hash's bit i —
    identical arithmetic to dedup.with_simhash(hash_family='md5'). The pair
    stage is brute-force hamming <= 3, which EQUALS the Spark side's 4-chunk
    banding output by pigeonhole (hamming<=3 => one of 4 chunks identical),
    so the oracle checks banding recall exactness, not just the signature.
    """
    token_hashes = (
        "list_transform(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), "
        "t -> t != ''), t -> " + _MD5_HASH60.format(v="t") + ")"
    )
    bit_terms = []
    for i in range(width):
        bit_terms.append(
            f"(CASE WHEN coalesce(list_sum(list_transform(_hs, h -> "
            f"CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0 "
            f"THEN CAST(1 AS BIGINT) << {i} ELSE CAST(0 AS BIGINT) END)"
        )
    sig = " + ".join(bit_terms)  # disjoint bits: + == |
    return f"""
        WITH docs AS ({_SALTED_DOCS_SQL}),
        sigs AS (
            SELECT doc_id, {sig} AS sh
            FROM (SELECT doc_id, {token_hashes} AS _hs FROM docs)
        )
        SELECT a.doc_id AS a, b.doc_id AS b,
               CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
        ORDER BY a, b"""


def _minhash_sql_parts(k: int = 64, bands: int = 8, shingle_n: int = 5,
                       threshold: float = 0.8, docs_sql: str | None = None,
                       pair_cond: str = "a.doc_id < b.doc_id") -> dict:
    """Shared CTE fragments replaying the md5-family MinHash-LSH machinery
    (used by the q20/q31/q50 oracles): distinct char-5-gram shingles, the
    k=64 universal-hash signature over the Mersenne prime (identical
    coefficients via canonicalize._mh_coeffs), band blocking as r-slice
    equality (the Spark side groups on xxhash64(slice) — equal slices,
    equal hash), and the exact-Jaccard verify. ``docs_sql`` overrides the
    corpus (default: the shared salted docs); ``pair_cond`` overrides the
    pair-side predicate (q50 uses corpus-side < 10^6 <= batch-side
    instead of the symmetric a < b)."""
    from generative_ner_spark.operators.canonicalize import _MH_P, _mh_coeffs

    coeffs = _mh_coeffs(k)
    r = k // bands
    shingles = (
        f"CASE WHEN length(text) < {shingle_n} THEN [text] "
        f"ELSE list_distinct([substring(text, i, {shingle_n}) "
        f"FOR i IN generate_series(1, length(text) - {shingle_n - 1})]) END"
    )
    shash = _MD5_HASH60.format(v="s") + f" % {_MH_P}"
    mh = "[" + ", ".join(
        f"list_min(list_transform(_hs, h -> (h * {a} + {b}) % {_MH_P}))"
        for a, b in coeffs
    ) + "]"
    band_match = " OR ".join(
        f"a.mh[{j * r + 1}:{j * r + r}] = b.mh[{j * r + 1}:{j * r + r}]"
        for j in range(bands)
    )
    jac = ("len(list_intersect(a.sh, b.sh)) / "
           "len(list_distinct(a.sh || b.sh))")
    ctes = f"""docs AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
            FROM ({docs_sql if docs_sql is not None else _SALTED_DOCS_SQL})
        ),
        m AS (
            SELECT doc_id, sh, {mh} AS mh
            FROM (SELECT doc_id, sh, list_transform(sh, s -> {shash}) AS _hs
                  FROM (SELECT doc_id, {shingles} AS sh FROM docs))
        ),
        pairs AS (
            SELECT a.doc_id AS a, b.doc_id AS b, {jac} AS jaccard
            FROM m a JOIN m b ON {pair_cond}
            WHERE ({band_match}) AND {jac} >= {threshold}
        )"""
    return {"ctes": ctes}


def _minhash_pairs_sql(k: int = 64, bands: int = 8, shingle_n: int = 5,
                       threshold: float = 0.8) -> str:
    """q20 oracle: full replay of the md5-family MinHash-LSH near-dup
    operator (see _minhash_sql_parts). doc_ids are VARCHAR on both sides,
    so a < b is the same lexicographic order."""
    parts = _minhash_sql_parts(k, bands, shingle_n, threshold)
    return f"""
        WITH {parts['ctes']}
        SELECT a, b, round(jaccard, 4) AS jaccard FROM pairs
        ORDER BY a, b"""


def _cross_split_leakage_sql() -> str:
    """q94 oracle: the q20 pair machinery + the q44 md5-interval split
    CASE applied to both pair sides; only boundary-straddling pairs
    survive."""
    parts = _minhash_sql_parts(k=64, bands=8, shingle_n=5, threshold=0.8)
    split_case = (
        "CASE WHEN CAST('0x' || substring(md5('split:' || doc_id), 1, 15)"
        " AS BIGINT) % 1000000 < 50000 THEN 'test' "
        "WHEN CAST('0x' || substring(md5('split:' || doc_id), 1, 15)"
        " AS BIGINT) % 1000000 < 950000 THEN 'train' "
        "ELSE 'valid' END"
    )
    return f"""
        WITH {parts['ctes']},
        spl AS (SELECT doc_id, {split_case} AS split FROM docs)
        SELECT p.a, p.b, round(p.jaccard, 4) AS jaccard,
               sa.split AS split_a, sb.split AS split_b
        FROM pairs p
        JOIN spl sa ON sa.doc_id = p.a
        JOIN spl sb ON sb.doc_id = p.b
        WHERE sa.split != sb.split
        ORDER BY p.a, p.b"""


def _dup_clusters_sql(k: int = 64, bands: int = 8, shingle_n: int = 5,
                      threshold: float = 0.8) -> str:
    """q70 oracle: the q31 pair machinery + transitive-closure components,
    then per-component sizes instead of the survivor filter — (doc_id,
    component = min member, cluster_size)."""
    parts = _minhash_sql_parts(k, bands, shingle_n, threshold)
    return f"""
        WITH RECURSIVE {parts['ctes']},
        edges AS (
            SELECT a AS id1, b AS id2 FROM pairs
            UNION
            SELECT b AS id1, a AS id2 FROM pairs
        ),
        reach(src, dst) AS (
            SELECT id1, id1 FROM edges
            UNION
            SELECT r.src, e.id2 FROM reach r JOIN edges e ON r.dst = e.id1
        ),
        comp AS (SELECT src AS doc_id, min(dst) AS component
                 FROM reach GROUP BY src),
        sizes AS (SELECT component, COUNT(*) AS cluster_size
                  FROM comp GROUP BY component)
        SELECT comp.doc_id, comp.component, sizes.cluster_size
        FROM comp JOIN sizes USING (component)
        ORDER BY comp.doc_id"""


def _near_dedup_sql(k: int = 64, bands: int = 8, shingle_n: int = 5,
                    threshold: float = 0.8) -> str:
    """q31 oracle: fuzzy dedup replay end-to-end — the q20 pair machinery,
    then connected components via a recursive transitive-closure CTE
    (symmetric edges + reflexive seed => min reachable id == the component
    minimum, exactly connected_components' contract), then drop every
    non-minimum member and return the survivors."""
    parts = _minhash_sql_parts(k, bands, shingle_n, threshold)
    return f"""
        WITH RECURSIVE {parts['ctes']},
        edges AS (
            SELECT a AS id1, b AS id2 FROM pairs
            UNION
            SELECT b AS id1, a AS id2 FROM pairs
        ),
        reach(src, dst) AS (
            SELECT id1, id1 FROM edges
            UNION
            SELECT r.src, e.id2 FROM reach r JOIN edges e ON r.dst = e.id1
        ),
        comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src),
        drop_ids AS (SELECT id FROM comp WHERE id != component)
        SELECT doc_id FROM docs
        WHERE doc_id NOT IN (SELECT id FROM drop_ids)
        ORDER BY doc_id"""


_INCR_DOCS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           substring(text, 1, CAST(trunc(length(text) * 0.97) AS INT)) AS text
    FROM documents WHERE doc_id < 10
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           md5(CAST(doc_id AS VARCHAR)) ||
           md5(CAST(doc_id AS VARCHAR) || 'x') AS text
    FROM documents WHERE doc_id < 5
"""


def _incremental_dedup_sql(k: int = 64, bands: int = 8, shingle_n: int = 5,
                           threshold: float = 0.8) -> str:
    """q50 oracle: incremental dedup replay — the q20 signature/banding/
    verify machinery over corpus ∪ batch, but with the ASYMMETRIC pair
    predicate (corpus side id < 10^6 <= batch side id) matching
    dedup_against_index's corpus-vs-batch contract; survivors are the
    batch docs with no qualifying corpus partner."""
    parts = _minhash_sql_parts(
        k, bands, shingle_n, threshold, docs_sql=_INCR_DOCS_SQL,
        pair_cond=("CAST(a.doc_id AS BIGINT) < 1000000 "
                   "AND CAST(b.doc_id AS BIGINT) >= 1000000"))
    return f"""
        WITH {parts['ctes']}
        SELECT CAST(doc_id AS BIGINT) AS doc_id FROM docs
        WHERE CAST(doc_id AS BIGINT) >= 1000000
          AND doc_id NOT IN (SELECT b FROM pairs)
        ORDER BY doc_id"""


def _lsh_ann_sql(dim: int = 64, tables: int = 8, planes: int = 6,
                 k: int = 10) -> str:
    """q18 oracle: FULL replay of the hyperplane-LSH ANN probe in SQL.

    The ±1 hyperplanes are deterministic md5-derived driver-side constants
    (similarity._hyperplane) — embedded here as literal arrays, so DuckDB
    recomputes per-table sign-bit buckets for the corpus AND the query, the
    OR-of-collisions candidate filter, and the exact cosine re-rank. Sign
    parity between numpy's matmul and DuckDB's sequential dot holds with
    huge margin (min |dot| ~1e-5 on the testdata vs ~1e-13 float noise)."""
    from generative_ner_spark.operators.similarity import _hyperplane

    def dot(vec: str, t: int, p: int) -> str:
        lit = "[" + ",".join(f"{x:.1f}" for x in _hyperplane(dim, t, p)) + "]"
        return (f"list_dot_product(list_transform({vec}, "
                f"x -> CAST(x AS DOUBLE)), {lit})")

    def bucket(vec: str, t: int) -> str:
        return "(" + " + ".join(
            f"(CASE WHEN {dot(vec, t, p)} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(planes)
        ) + ")"

    qb = ", ".join(f"{bucket('qv', t)} AS qb{t}" for t in range(tables))
    cb = ", ".join(f"{bucket('embedding', t)} AS b{t}" for t in range(tables))
    collide = " OR ".join(f"cb.b{t} = qb.qb{t}" for t in range(tables))
    return f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        qb AS (SELECT {qb} FROM q),
        cb AS (SELECT vec_id, embedding, {cb}
               FROM embeddings WHERE vec_id != 0)
        SELECT cb.vec_id,
               round(list_dot_product(cb.embedding, q.qv) /
                     (sqrt(list_sum(list_transform(cb.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                      sqrt(list_sum(list_transform(q.qv,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                   AS cosine
        FROM cb, qb, q
        WHERE {collide}
        ORDER BY cosine DESC, cb.vec_id ASC LIMIT {k}"""


def _mention_counts_sql() -> str:
    from generative_ner_spark.plans.testdata_kg import LEXICON

    per_term = []
    for term, label in sorted(LEXICON.items()):
        per_term.append(
            f"SELECT 'tdoc-' || CAST(doc_id AS VARCHAR) AS doc_id, '{label}' AS label, "
            f"CAST((length(lower(text)) - length(replace(lower(text), '{term}', ''))) / {len(term)} AS BIGINT) AS n "
            f"FROM documents "
            f"WHERE len(regexp_extract_all(lower(text), '\\b{term}\\b', 0)) > 0"
        )
    union = " UNION ALL ".join(per_term)
    # CAST on SUM: DuckDB sum(BIGINT) -> HUGEINT vs Spark BIGINT (see q07)
    return (
        f"SELECT doc_id, label, CAST(SUM(n) AS BIGINT) AS n_mentions FROM ({union}) "
        f"GROUP BY doc_id, label ORDER BY doc_id, label"
    )


def _windowed_counts_sql() -> str:
    """q35 oracle: replay the streaming windowed mention-count stage —
    whole-word lexicon hits per doc, tumbling 10-minute event-time
    windows, per-(window, label) sums. time_bucket == Spark's window()
    start for zero-aligned tumbling windows. Patterns come from the SAME
    word_pattern() builder the Spark operator uses (escaped, lowercased,
    conditional boundaries) so a metacharacter or uppercase lexicon term
    can never diverge the two sides."""
    from generative_ner_spark.plans.testdata_kg import LEXICON
    from generative_ner_spark.streaming.mentions import word_pattern

    vals = ", ".join(
        f"('{word_pattern(t)}', '{lb}')" for t, lb in sorted(LEXICON.items())
    )
    return f"""
        WITH docs AS (
            SELECT TIMESTAMP '2025-01-01 00:00:00'
                   + (doc_id % 240) * INTERVAL 1 MINUTE AS ts,
                   lower(text) AS t
            FROM documents
        ),
        hits AS (
            SELECT ts, label,
                   len(regexp_extract_all(t, pat, 0)) AS n
            FROM docs, (VALUES {vals}) AS lex(pat, label)
        ),
        agg AS (
            SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS ws, label,
                   CAST(SUM(n) AS BIGINT) AS n_mentions
            FROM hits WHERE n > 0 GROUP BY ws, label
        )
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               strftime(ws + INTERVAL 10 MINUTE,
                        '%Y-%m-%d %H:%M:%S') AS window_end,
               label, n_mentions
        FROM agg ORDER BY window_start, label"""


def _first_seen_dedup_sql() -> str:
    """q36 oracle: replay the first-seen dedup batch twin — the corpus +
    hour-late 'dup-' copies of the first 50 docs, fingerprint = md5 of
    the normalized text, earliest (ts, doc_id) per fingerprint wins."""
    return f"""
        WITH base AS (
            SELECT 'tdoc-' || CAST(doc_id AS VARCHAR) AS doc_id,
                   TIMESTAMP '2025-01-01 00:00:00'
                   + (doc_id % 240) * INTERVAL 1 MINUTE AS ts,
                   text
            FROM documents
            UNION ALL
            SELECT 'dup-' || CAST(doc_id AS VARCHAR),
                   TIMESTAMP '2025-01-01 00:00:00' + INTERVAL 1 HOUR
                   + (doc_id % 240) * INTERVAL 1 MINUTE,
                   text
            FROM documents WHERE doc_id < 50
        ),
        fp AS (
            SELECT doc_id, ts, md5({_NORM_SQL}) AS fingerprint FROM base
        ),
        r AS (
            SELECT *, row_number() OVER (PARTITION BY fingerprint
                         ORDER BY ts, doc_id) AS rn
            FROM fp
        )
        SELECT fingerprint, doc_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ingest_ts
        FROM r WHERE rn = 1 ORDER BY fingerprint, doc_id"""


def _pii_sql() -> str:
    """q37 oracle: replay PII salting, counts, and the chained redaction."""
    from generative_ner_spark.operators.pii import PII_PATTERNS

    salted = f"""
        SELECT doc_id,
               CASE doc_id % 5
                   WHEN 0 THEN text || '{_PII_SALTS[0]}'
                   WHEN 1 THEN text || '{_PII_SALTS[1]}'
                   WHEN 2 THEN text || '{_PII_SALTS[2]}'
                   ELSE text
               END AS text
        FROM documents"""
    red = "text"
    for pat, placeholder in PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{pat}', '{placeholder}', 'g')"
    counts = {
        name: f"len(regexp_extract_all(text, '{pat}', 0))"
        for name, (pat, _ph) in PII_PATTERNS.items()
    }
    return f"""
        WITH docs AS ({salted})
        SELECT doc_id,
               {counts['email']} AS n_emails,
               {counts['ip']} AS n_ips,
               {counts['phone']} AS n_phones,
               ({counts['email']} + {counts['ip']} + {counts['phone']}) > 0
                   AS has_pii,
               length({red}) AS redacted_len
        FROM docs ORDER BY doc_id"""


def _decontam_sql(n: int = 8) -> str:
    """q38 oracle: replay eval/corpus split + planted twins + distinct
    word n-gram overlap report."""
    toks = ("list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), "
            "x -> x != '')")
    return f"""
        WITH eval_docs AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
        ),
        corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 97 != 0
            UNION ALL
            SELECT doc_id + 2000000, substring(text, 1, 200) FROM eval_docs
        ),
        ev_grams AS (
            SELECT DISTINCT eval_id,
                   array_to_string(tk[i : i + {n - 1}], ' ') AS ngram
            FROM (SELECT doc_id AS eval_id, tk,
                         unnest(generate_series(1, len(tk) - {n - 1})) AS i
                  FROM (SELECT doc_id, {toks} AS tk FROM eval_docs)
                  WHERE len(tk) >= {n})
        ),
        co_grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(tk[i : i + {n - 1}], ' ') AS ngram
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk) - {n - 1})) AS i
                  FROM (SELECT doc_id, {toks} AS tk FROM corpus)
                  WHERE len(tk) >= {n})
        )
        SELECT c.doc_id,
               CAST(count(DISTINCT c.ngram) AS BIGINT) AS n_overlap_ngrams,
               CAST(count(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs_hit
        FROM co_grams c JOIN ev_grams e USING (ngram)
        GROUP BY c.doc_id ORDER BY c.doc_id"""


def _packing_sql(token_budget: int = 500, shards: int = 8,
                 salt: str = "pack") -> str:
    """q39 oracle: replay md5 shard + stream order + cumulative-sum bin
    assignment + the per-(shard, bin) layout aggregate."""
    key = f"'{salt}:' || CAST(doc_id AS VARCHAR)"
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   {_WS_TOKENS_SQL} AS n_tokens,
                   CAST('0x' || substring(md5({key}), 1, 15) AS BIGINT)
                       % {shards} AS shard,
                   md5({key}) AS okey
            FROM documents
        ),
        packed AS (
            SELECT shard,
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY shard
                            ORDER BY okey ROWS UNBOUNDED PRECEDING)
                        - n_tokens) / {token_budget}) AS BIGINT) AS bin,
                   n_tokens
            FROM toks
        )
        SELECT shard, bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM packed GROUP BY shard, bin ORDER BY shard, bin"""


def _domain_stats_sql() -> str:
    """q40 oracle: replay URL salting, extraction, domain capture, stats."""
    from generative_ner_spark.operators.urls import DOMAIN_PAT, URL_PAT

    return f"""
        WITH docs AS (
            SELECT doc_id,
                   CASE doc_id % 4
                       WHEN 0 THEN text || '{_URL_SALTS[0]}'
                       WHEN 1 THEN text || '{_URL_SALTS[1]}'
                       WHEN 2 THEN text || '{_URL_SALTS[2]}'
                       ELSE text
                   END AS text
            FROM documents
        ),
        urls AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(text, '{URL_PAT}', 0)) AS url
            FROM docs
        )
        SELECT lower(regexp_extract(url, '{DOMAIN_PAT}', 1)) AS domain,
               CAST(count(*) AS BIGINT) AS n_urls,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM urls GROUP BY domain ORDER BY domain"""


def _paragraph_dedup_sql() -> str:
    """q41 oracle: replay boilerplate construction, first-occurrence-wins
    paragraph dedup, and the ordered rebuild."""
    return f"""
        WITH docs AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN
                            '{_BOILER[0]}' || chr(10) ||
                            substring(text, 1, 60) || chr(10) ||
                            '{_BOILER[1]}' || chr(10) ||
                            substring(text, 61, 60)
                        ELSE '{_BOILER[0]}' || chr(10) ||
                             substring(text, 1, 60) || chr(10) ||
                             substring(text, 61, 60)
                   END AS text
            FROM documents
        ),
        paras AS (
            SELECT doc_id, i - 1 AS idx, tk[i] AS para
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk))) AS i
                  FROM (SELECT doc_id, string_split(text, chr(10)) AS tk
                        FROM docs))
            WHERE tk[i] != ''
        ),
        ranked AS (
            SELECT doc_id, idx, para,
                   row_number() OVER (PARTITION BY md5(para)
                        ORDER BY doc_id, idx) AS rn
            FROM paras
        )
        SELECT doc_id,
               string_agg(para, chr(10) ORDER BY idx) AS text
        FROM ranked WHERE rn = 1
        GROUP BY doc_id ORDER BY doc_id"""


def _boilerplate_lines_sql(min_docs: int = 10) -> str:
    """q77 oracle: replay the line construction (banner in every doc,
    footer in half, within-doc duplicate content line in every third),
    within-doc first-occurrence election, >= min_docs boilerplate
    exclusion, and the ordered rebuild."""
    return f"""
        WITH docs AS (
            SELECT doc_id,
                   '{_BOILER[0]}' || chr(10) ||
                   substring(text, 1, 60) || chr(10) ||
                   CASE WHEN doc_id % 3 = 0 THEN substring(text, 1, 60)
                        ELSE substring(text, 61, 60) END ||
                   CASE WHEN doc_id % 2 = 0
                        THEN chr(10) || '{_BOILER[1]}' ELSE '' END AS text
            FROM documents
        ),
        lines AS (
            SELECT doc_id, i - 1 AS idx, tk[i] AS line
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk))) AS i
                  FROM (SELECT doc_id, string_split(text, chr(10)) AS tk
                        FROM docs))
            WHERE tk[i] != ''
        ),
        first_in_doc AS (
            SELECT doc_id, idx, line, md5(line) AS lh,
                   row_number() OVER (PARTITION BY doc_id, md5(line)
                       ORDER BY idx) AS rn
            FROM lines
        ),
        boiler AS (
            SELECT md5(line) AS lh FROM lines
            GROUP BY 1 HAVING count(DISTINCT doc_id) >= {min_docs}
        )
        SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
        FROM first_in_doc
        WHERE rn = 1 AND lh NOT IN (SELECT lh FROM boiler)
        GROUP BY doc_id ORDER BY doc_id"""


def _tfidf_sql(top_k: int = 5, min_df: int = 2) -> str:
    """q43 oracle: replay tokenize -> tf -> df -> smoothed-idf score ->
    per-doc top-k. Same explicit-whitespace-class tokenizer as q38;
    score rounded to 6 on both sides; ties break (score desc, term asc)."""
    toks = ("list_filter(regexp_split_to_array(lower(text), "
            "'[ \\t\\n\\x0b\\f\\r]+'), x -> x != '')")
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest({toks}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM tok GROUP BY doc_id, term
        ),
        docfreq AS (
            SELECT term, count(*) AS df
            FROM tf GROUP BY term HAVING count(*) >= {min_df}
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
                   round(tf.tf * (ln((n.n_docs + 1) / (docfreq.df + 1))
                                  + 1), 6) AS score
            FROM tf JOIN docfreq USING (term) CROSS JOIN n
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
            FROM scored
        )
        SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {top_k}
        ORDER BY doc_id, rank"""


def _bm25_sql(terms: tuple = ("spark", "vector", "stream"),
              k1: float = 1.2, b: float = 0.75, top_k: int = 10) -> str:
    """q45 oracle: replay tokenize -> tf -> doc lengths -> corpus
    constants -> Lucene-idf BM25 -> top-k. Same tokenizer class as
    q43/q38; per-term contributions and the doc sum rounded to 6 on both
    sides; avg_dl = total tokens / n_docs (token-free docs dilute it),
    matching bm25_scores."""
    toks = ("list_filter(regexp_split_to_array(lower(text), "
            "'[ \\t\\n\\x0b\\f\\r]+'), x -> x != '')")
    in_list = ", ".join(f"'{t}'" for t in sorted(terms))
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest({toks}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM tok GROUP BY doc_id, term
        ),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
        meta AS (
            SELECT (SELECT count(*) FROM documents) AS n,
                   (SELECT coalesce(sum(tf), 0) FROM tf) AS tok_total
        ),
        hits AS (SELECT * FROM tf WHERE term IN ({in_list})),
        dfreq AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
        scored AS (
            SELECT h.doc_id,
                   round(ln(1 + (m.n - d.df + 0.5) / (d.df + 0.5))
                         * h.tf * ({k1} + 1)
                         / (h.tf + {k1} * (1 - {b} + {b} * l.dl
                            / (m.tok_total * 1.0 / m.n))), 6) AS s
            FROM hits h
            JOIN dfreq d USING (term)
            JOIN dl l USING (doc_id)
            CROSS JOIN meta m
        ),
        agg AS (
            SELECT doc_id, count(*) AS n_terms_hit,
                   round(sum(s), 6) AS score
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, n_terms_hit, score,
               CAST(row_number() OVER (
                   ORDER BY score DESC, doc_id ASC) AS INT) AS rank
        FROM agg ORDER BY score DESC, doc_id ASC LIMIT {top_k}"""


def _composition_sql() -> str:
    """q42 oracle: the span construction is pure doc_id arithmetic, so the
    features collapse to CASE expressions."""
    return """
        WITH f AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN 1
                        WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS n_spans,
                   CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS n_text_spans,
                   CASE WHEN doc_id % 7 = 0 THEN 0 ELSE length(text) END
                       AS text_chars
            FROM documents
        )
        SELECT doc_id, n_spans, n_text_spans,
               n_spans - n_text_spans AS n_media_spans,
               text_chars,
               round(1.0 * (n_spans - n_text_spans)
                     / greatest(n_text_spans, 1), 6) AS media_per_text,
               n_text_spans > 0 AS has_text
        FROM f ORDER BY doc_id"""


def _triples_sql() -> str:
    """Flagship oracle: replay the full KG pipeline's triple semantics in SQL.

    On the noise-free lexicon corpus the pipeline collapses exactly: every
    mention surface IS its lexicon term (so linking resolves to T:term with
    no NIL path), the six entity names are mutual non-near-dups (so
    canonicalization is the identity), and triples per doc are instance_of
    per present term + co_occurs_with for every term pair a < b. A term is
    present iff it whole-word matches (gold construction); grounding then
    re-finds at least that occurrence.
    """
    from generative_ner_spark.plans.testdata_kg import LEXICON

    vals = ", ".join(f"('{t}', '{lb}')" for t, lb in sorted(LEXICON.items()))
    return f"""
        WITH present AS (
            SELECT 'tdoc-' || CAST(doc_id AS VARCHAR) AS doc_id, term, label
            FROM documents, (VALUES {vals}) AS lex(term, label)
            WHERE len(regexp_extract_all(lower(text),
                      '\\b' || term || '\\b', 0)) > 0
        )
        SELECT 'T:' || term AS subj_id, 'instance_of' AS pred,
               label AS obj_id, doc_id, CAST(0 AS INTEGER) AS span_offset
        FROM present
        UNION ALL
        SELECT 'T:' || a.term, 'co_occurs_with', 'T:' || b.term,
               a.doc_id, CAST(0 AS INTEGER)
        FROM present a JOIN present b
          ON a.doc_id = b.doc_id AND a.term < b.term
        ORDER BY doc_id, span_offset, pred, subj_id, obj_id
    """


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""",
        "q02_revenue_by_nation": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name""",
        "q03_window_topk_orders": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rk
            FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
                  FROM orders) WHERE rk <= 3""",
        "q04_customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_orderkey % 7 = 0)
            ORDER BY c_custkey""",
        "q05_distinct_event_types": """
            SELECT DISTINCT event_type FROM events ORDER BY event_type""",
        "q06_order_lineitem_join_agg": """
            SELECT o_orderstatus, count(*) AS n_items,
                   round(sum(l_extendedprice), 2) AS total_price
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderstatus ORDER BY o_orderstatus""",
        "q07_user_sessions": """
            -- CAST: DuckDB sum(int) returns HUGEINT; Spark returns BIGINT.
            -- Values are equal, but the driver's value-hash is dtype-sensitive.
            SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM (SELECT user_id,
                         -- floor() per timestamp BEFORE differencing:
                         -- DuckDB epoch() keeps microseconds (DOUBLE)
                         -- while Spark's unix_timestamp truncates each
                         -- timestamp to whole seconds, so a raw-epoch
                         -- gap in (1800, 1801) would open a session only
                         -- on the DuckDB side
                         CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER
                             (PARTITION BY user_id ORDER BY ts, event_id))) > 1800
                              OR lag(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) IS NULL
                              THEN 1 ELSE 0 END AS new_sess
                  FROM events)
            GROUP BY user_id ORDER BY user_id""",
        "q08_salted_groupby_counts": """
            SELECT event_type, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY event_type ORDER BY event_type""",
        "q09_normalize_documents": f"""
            SELECT doc_id, md5({_NORM_SQL}) AS norm_hash
            FROM documents ORDER BY doc_id""",
        "q10_token_counts": f"""
            SELECT doc_id,
                   {_WS_TOKENS_SQL} AS n_ws_tokens,
                   len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0b\\f\\r]', 0))
                       AS n_bpeish_tokens
            FROM documents ORDER BY doc_id""",
        "q11_lang_id": _lang_id_sql(),
        "q12_quality_features": f"""
            SELECT doc_id,
                   length(text) AS q_n_chars,
                   {_WS_TOKENS_SQL} AS q_n_tokens,
                   round(length(regexp_replace(text, '[^!-/;-@\\[-`{{-~]', '', 'g'))
                         / greatest(length(text), 1), 6) AS q_punct_ratio,
                   round(len(regexp_extract_all(lower(text),
                         '\\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\\b', 0))
                         / greatest({_WS_TOKENS_SQL}, 1), 6) AS q_stopword_ratio,
                   round(list_sum(list_transform(
                             list_filter(regexp_split_to_array(trim(text),
                                 '[ \\t\\n\\x0b\\f\\r]+'), x -> x != ''),
                             t -> length(t)))
                         / greatest({_WS_TOKENS_SQL}, 1), 6) AS q_mean_token_len
            FROM documents ORDER BY doc_id""",
        "q13_fingerprint_dedup": f"""
            SELECT md5({_NORM_SQL}) AS fingerprint, count(*) AS n_docs,
                   min(doc_id) AS keep_id
            FROM documents GROUP BY 1 ORDER BY fingerprint""",
        "q14_minhash_signature": """
            SELECT doc_id, min(md5(substring(text, i, 5))) AS minhash
            FROM (SELECT doc_id, text,
                         unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i
                  FROM documents)
            GROUP BY doc_id ORDER BY doc_id""",
        "q15_ngram_distinct_count": """
            SELECT doc_id, count(DISTINCT substring(text, i, 3)) AS n_distinct_3grams
            FROM (SELECT doc_id, text,
                         unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i
                  FROM documents)
            GROUP BY doc_id ORDER BY doc_id""",
        "q16_embedding_norms": """
            SELECT vec_id,
                   round(sqrt(list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
            FROM embeddings ORDER BY vec_id""",
        "q17_cosine_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(embedding, qv) /
                         (sqrt(list_sum(list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                          sqrt(list_sum(list_transform(qv,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                       AS cosine
            FROM embeddings, q WHERE vec_id != 0
            ORDER BY cosine DESC, vec_id ASC LIMIT 10""",
        "q21_cost_estimate": """
            SELECT doc_id,
                   CASE WHEN length(text) = 0 THEN 0
                        ELSE greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), 1)
                   END AS prompt_tokens,
                   round(CASE WHEN length(text) = 0 THEN 0
                              ELSE greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), 1)
                         END / 1000.0 * 0.00015, 8) AS usd_cost
            FROM documents ORDER BY doc_id""",
        "q22_batch_tasks": """
            -- global order = (md5 bucket prefix, example_id): replicates the
            -- Spark side's funnel-free dense numbering exactly
            SELECT 'task-' || CAST(row_number() OVER (
                       ORDER BY substring(md5(example_id), 1, 2), example_id) - 1
                       AS VARCHAR) AS custom_id,
                   example_id
            FROM (SELECT CAST(doc_id AS VARCHAR) AS example_id FROM documents)""",
        "q23_rollup_revenue": """
            SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
                   coalesce(l_returnflag, 'ALL') AS l_returnflag,
                   count(*) AS n_items,
                   round(sum(l_extendedprice), 2) AS total_price
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY ROLLUP (o_orderstatus, l_returnflag)
            ORDER BY o_orderstatus, l_returnflag""",
        "q24_json_props": """
            -- CAST on SUM: HUGEINT vs BIGINT, see q07 note
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type ORDER BY event_type""",
        "q26_chunk_documents": """
            SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
                   length(substring(text, (i-1)*400 + 1, 500)) AS chunk_len,
                   md5(substring(text, (i-1)*400 + 1, 500)) AS chunk_hash
            FROM (SELECT doc_id, text,
                         unnest(generate_series(1,
                             greatest(CAST(ceil((length(text) - 500)/400.0) AS INT) + 1, 1)))
                             AS i
                  FROM documents)
            ORDER BY doc_id, chunk_idx""",
        "q27_curation_report": f"""
            SELECT source, lang, count(*) AS n_docs,
                   round(avg({_WS_TOKENS_SQL}), 4) AS avg_tokens,
                   round(avg(round(len(regexp_extract_all(lower(text),
                         '\\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\\b', 0))
                         / greatest({_WS_TOKENS_SQL}, 1), 6)), 6) AS avg_stopword_ratio,
                   min(length(text)) AS min_chars,
                   max(length(text)) AS max_chars
            FROM documents GROUP BY source, lang ORDER BY source, lang""",
        "q28_sync_generate": """
            SELECT CAST(doc_id AS VARCHAR) AS example_id,
                   md5(text) AS prompt_hash,
                   CASE WHEN substring(md5(text), 1, 1) = '0' THEN ''
                        ELSE 'echo:' || md5(text) END AS generated_text,
                   CASE WHEN substring(md5(text), 1, 1) = '0' THEN 'length'
                        ELSE 'stop' END AS finish_reason,
                   CASE WHEN substring(md5(text), 1, 1) = '0'
                        THEN 'finish_reason=length' ELSE '' END AS error
            FROM documents ORDER BY example_id""",
        "kg_mention_counts": _mention_counts_sql(),
        "kg_mention_counts_individual": _mention_counts_sql(),
        "q25_embedding_near_dups": """
            -- the planted pairs are the ONLY near-dups (max random cosine
            -- ~0.33 << 0.99) and LSH recall on them is STRUCTURAL, not
            -- probabilistic: positive scaling preserves every hyperplane
            -- sign, so a copy collides with its original in every table
            SELECT vec_id AS a, vec_id + 1000000 AS b,
                   round(list_dot_product(embedding, cem) /
                         (sqrt(list_sum(list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                          sqrt(list_sum(list_transform(cem,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                       AS cosine
            FROM (SELECT vec_id, embedding,
                         list_transform(embedding,
                             x -> CAST(x AS DOUBLE) * 1.001) AS cem
                  FROM embeddings WHERE vec_id < 10)
            ORDER BY a, b""",
        "q30_curated_documents": f"""
            WITH docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10
            ),
            q AS (
                SELECT doc_id,
                       {_WS_TOKENS_SQL} AS q_n_tokens,
                       round(len(regexp_extract_all(lower(text),
                             '\\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\\b', 0))
                             / greatest({_WS_TOKENS_SQL}, 1), 6)
                           AS q_stopword_ratio,
                       md5({_NORM_SQL}) AS fingerprint
                FROM docs
            ),
            l AS ({_lang_id_sql(from_="docs", order_by=False)})
            SELECT q.doc_id, l.lang_pred, q.q_n_tokens, q.q_stopword_ratio,
                   q.fingerprint
            FROM q JOIN l USING (doc_id)
            WHERE l.lang_pred = 'en'
              AND q.q_n_tokens BETWEEN 20 AND 100000
              AND q.q_stopword_ratio <= 0.5
            QUALIFY row_number() OVER (PARTITION BY q.fingerprint
                                       ORDER BY q.doc_id) = 1
            ORDER BY q.doc_id""",
        "kg_triples": _triples_sql(),
        "kg_media_metadata": """
            SELECT 's3://corpus/media/img-' || CAST(doc_id AS VARCHAR)
                       AS media_ref,
                   'image' AS kind,
                   CAST(128 AS BIGINT) AS size_bytes
            FROM documents WHERE doc_id % 3 = 0 ORDER BY media_ref""",
        "q31_near_dedup_documents": _near_dedup_sql(k=64, bands=8,
                                                    shingle_n=5, threshold=0.8),
        "q32_knn_join_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 3),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       round(list_dot_product(e.embedding, q.qv) /
                             (sqrt(list_sum(list_transform(e.embedding,
                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                              sqrt(list_sum(list_transform(q.qv,
                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                           AS cosine
                FROM embeddings e, q
            )
            SELECT query_id, vec_id, cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, vec_id) AS INT) AS rank
            FROM scored
            QUALIFY rank <= 5
            ORDER BY query_id, rank""",
        "q33_repetition_features": """
            WITH docs AS (
                SELECT doc_id,
                    CASE WHEN doc_id % 3 = 0 THEN
                             substring(text, 1, 60) || chr(10) ||
                             substring(text, 1, 60) || chr(10) ||
                             substring(text, 61, 60)
                         WHEN doc_id % 3 = 1 THEN
                             substring(text, 1, 60) || chr(10) ||
                             substring(text, 61, 60) || chr(10) ||
                             substring(text, 61, 60) || chr(10) ||
                             substring(text, 61, 60)
                         ELSE substring(text, 1, 60) || chr(10) ||
                              substring(text, 61, 60)
                    END AS text
                FROM documents
            ),
            lines AS (
                SELECT doc_id, line
                FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
                      FROM docs)
                WHERE line != ''
            ),
            per_line AS (
                SELECT doc_id, line, count(*) AS c, length(line) AS len
                FROM lines GROUP BY doc_id, line
            ),
            line_stats AS (
                SELECT doc_id,
                       CAST(sum(c) AS BIGINT) AS n_lines,
                       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup,
                       CAST(sum(len * c) AS BIGINT) AS chars,
                       CAST(sum(CASE WHEN c > 1 THEN len * c ELSE 0 END) AS BIGINT) AS dup_chars
                FROM per_line GROUP BY doc_id
            ),
            toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'),
                                   x -> x != '') AS tk
                FROM docs
            ),
            bg AS (
                SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg
                FROM (SELECT doc_id, tk,
                             unnest(generate_series(1, len(tk) - 1)) AS i
                      FROM toks WHERE len(tk) >= 2)
            ),
            bg_cnt AS (SELECT doc_id, bg, count(*) AS bc FROM bg GROUP BY doc_id, bg),
            top AS (
                SELECT doc_id, bg AS top_bigram, CAST(bc AS BIGINT) AS top_bigram_count
                FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY bc DESC, bg ASC) AS rn FROM bg_cnt)
                WHERE rn = 1
            )
            SELECT d.doc_id,
                   coalesce(l.n_lines, 0) AS n_lines,
                   round(coalesce(1.0 * l.dup / l.n_lines, 0), 6) AS dup_line_frac,
                   round(coalesce(1.0 * l.dup_chars / l.chars, 0), 6) AS dup_line_char_frac,
                   coalesce(t.top_bigram, '') AS top_bigram,
                   coalesce(t.top_bigram_count, 0) AS top_bigram_count,
                   round(coalesce(1.0 * t.top_bigram_count * length(t.top_bigram)
                         / greatest(length(d.text), 1), 0), 6) AS top_bigram_char_frac
            FROM docs d
            LEFT JOIN line_stats l USING (doc_id)
            LEFT JOIN top t USING (doc_id)
            ORDER BY d.doc_id""",
        "q34_stratified_sample": f"""
            WITH l AS ({_lang_id_sql(order_by=False)})
            SELECT doc_id, lang_pred
            FROM l
            WHERE CAST('0x' || substring(md5('sample:' ||
                      CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
                  < CASE lang_pred WHEN 'en' THEN 500000
                                   WHEN 'und' THEN 200000
                                   ELSE 1000000 END
            ORDER BY doc_id""",
        "q18_ann_lsh_topk": _lsh_ann_sql(dim=64, tables=8, planes=6, k=10),
        "q35_windowed_mention_counts": _windowed_counts_sql(),
        "q36_first_seen_dedup": _first_seen_dedup_sql(),
        "q37_pii_redaction": _pii_sql(),
        "q38_decontamination": _decontam_sql(n=8),
        "q39_sequence_packing": _packing_sql(token_budget=500, shards=8),
        "q40_domain_stats": _domain_stats_sql(),
        "q41_paragraph_dedup": _paragraph_dedup_sql(),
        "q42_interleaved_composition": _composition_sql(),
        "q43_tfidf_top_terms": _tfidf_sql(top_k=5, min_df=2),
        "q45_bm25_search": _bm25_sql(),
        # q46: DuckDB's native ASOF LEFT JOIN is the reference semantics
        # for the union+window encoding (greatest r.ts <= l.ts per key;
        # unmatched left rows keep nulls)
        "q46_asof_join": """
            SELECT l.event_id, l.user_id, l.ts, l.value,
                   r.ts AS ts_p, r.event_id AS event_id_p,
                   r.value AS value_p
            FROM (SELECT * FROM events WHERE event_type = 'error') l
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
            ORDER BY l.event_id""",
        # q44: replay the md5-interval split. Sorted-name cumulative
        # edges for {train:.9, valid:.05, test:.05} -> test<50000,
        # train<950000, valid otherwise (last split takes the slack).
        "q44_split_assignment": """
            SELECT doc_id,
                   CASE WHEN CAST('0x' || substring(md5('split:' ||
                             CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                             % 1000000 < 50000 THEN 'test'
                        WHEN CAST('0x' || substring(md5('split:' ||
                             CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                             % 1000000 < 950000 THEN 'train'
                        ELSE 'valid' END AS split
            FROM documents ORDER BY doc_id""",
        "q47_capped_group_sample": """
            SELECT event_id, event_type FROM (
              SELECT event_id, event_type,
                     row_number() OVER (PARTITION BY event_type
                         ORDER BY CAST('0x' || substring(md5('cap:' ||
                                       CAST(event_id AS VARCHAR)), 1, 15)
                                       AS BIGINT),
                                  event_id) AS rn
              FROM events) WHERE rn <= 50 ORDER BY event_id""",
        # q48: planted structural oracle — identical vectors must share a
        # k-means cell (equal inputs assign equally), so the appended
        # exact copies are guaranteed candidates at cosine 1.0 >= 0.99
        # and must drop; max random-pair cosine ~0.33 << 0.99 keeps every
        # original. The decision table is then pure SQL.
        "q48_semantic_dedup": """
            SELECT vec_id, vec_id < 1000000 AS kept FROM (
              SELECT vec_id FROM embeddings
              UNION ALL
              SELECT 1000000 + vec_id AS vec_id FROM embeddings
              WHERE vec_id < 10)
            ORDER BY vec_id""",
        "q49_grouped_quantiles": """
            SELECT event_type, p, q FROM (
              SELECT event_type,
                     CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS p,
                     round(CAST(unnest(quantile_cont(value,
                           [0.25, 0.5, 0.75, 0.9])) AS DOUBLE), 6) AS q
              FROM events GROUP BY event_type)
            ORDER BY event_type, p""",
        "q19_simhash_near_dups": _simhash_pairs_sql(width=60, max_hamming=3),
        "q20_minhash_near_dups": _minhash_pairs_sql(k=64, bands=8,
                                                    shingle_n=5, threshold=0.8),
        "q50_incremental_dedup": _incremental_dedup_sql(k=64, bands=8,
                                                        shingle_n=5,
                                                        threshold=0.8),
        # q51: the mixture semantics as ONE plain window cumsum per
        # source over the same md5 rank (the Spark side's segmented
        # prefix sum is mathematically invisible)
        "q51_token_budget_mixture": f"""
            WITH t AS (
                SELECT doc_id, source, {_WS_TOKENS_SQL} AS n_tok,
                       CAST('0x' || substring(md5('budget:' ||
                            CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                           AS rk
                FROM documents
            ), c AS (
                SELECT doc_id, source, n_tok,
                       SUM(n_tok) OVER (PARTITION BY source
                                        ORDER BY rk, doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cum
                FROM t
            )
            SELECT doc_id, source, n_tok FROM c
            WHERE cum <= CASE source WHEN 'src0' THEN 800
                                     WHEN 'src1' THEN 400
                                     WHEN 'src2' THEN 2000
                                     ELSE 600 END
            ORDER BY doc_id""",
        # q52: identical lag+cumsum session windows; all-integer gap
        # math (epoch_us) so neither engine sees float epoch rounding
        "q52_sessionize": """
            WITH e AS (
                SELECT user_id, event_id, ts, epoch_us(ts) AS us
                FROM events WHERE ts IS NOT NULL
            ), f AS (
                SELECT *, CASE WHEN lag(us) OVER w IS NULL
                                 OR us - lag(us) OVER w > 43200000000
                               THEN 1 ELSE 0 END AS new
                FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
            ), s AS (
                SELECT *, SUM(new) OVER (
                    PARTITION BY user_id ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING) AS sess
                FROM f
            )
            SELECT user_id, CAST(sess AS BIGINT) AS session_idx,
                   MIN(ts) AS session_start, MAX(ts) AS session_end,
                   COUNT(*) AS n_events,
                   MAX(us) - MIN(us) AS duration_us
            FROM s GROUP BY user_id, sess
            ORDER BY user_id, session_idx""",
        # q53: same Efraimidis-Spirakis priority ln(u)/w over the same
        # md5 rank; (rk+1) int64->double rounds identically (IEEE
        # nearest) on both engines and /2^60 is an exact power-of-two op
        "q53_weighted_sample": """
            WITH t AS (
                SELECT doc_id, source, n_chars,
                       CAST('0x' || substring(md5('wsamp:' ||
                            CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                           AS rk
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0
            ), top AS (
                SELECT doc_id, source, n_chars FROM t
                ORDER BY ln((rk + 1) / 1152921504606846976.0)
                         / n_chars DESC, doc_id
                LIMIT 100
            )
            SELECT * FROM top ORDER BY doc_id""",
        # q54: same 8-token window md5 over the same whitespace split,
        # same count>1 rule, same island merge
        "q54_duplicate_window_spans": r"""
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(
                           trim(text), '[ \t\n\x0b\f\r]+') AS tk
                FROM documents WHERE length(trim(text)) > 0
            ), grams AS (
                SELECT doc_id, i,
                       md5(array_to_string(tk[i+1:i+8], ' ')) AS h
                FROM toks, UNNEST(range(0, len(tk) - 8 + 1)) AS t(i)
            ), dups AS (
                SELECT h FROM grams GROUP BY h HAVING count(*) > 1
            ), hits AS (
                SELECT g.doc_id, g.i FROM grams g JOIN dups USING (h)
            ), isl AS (
                SELECT doc_id, i,
                       SUM(CASE WHEN prev IS NULL OR i > prev + 8
                                THEN 1 ELSE 0 END) OVER (
                           PARTITION BY doc_id ORDER BY i) AS island
                FROM (SELECT doc_id, i, lag(i) OVER (
                          PARTITION BY doc_id ORDER BY i) AS prev
                      FROM hits)
            )
            SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
                   CAST(MAX(i) + 7 AS BIGINT) AS span_end
            FROM isl GROUP BY doc_id, island
            ORDER BY doc_id, span_start""",
        # q55: same tokenizer as q43, same -sum(tf*ln(cnt/total))/sum(tf)
        # with the round-6 float contract
        "q55_unigram_nll": """
            WITH tok AS (
                SELECT doc_id, unnest(list_filter(regexp_split_to_array(
                           lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                           x -> x != '')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, count(*) AS c
                FROM tok GROUP BY doc_id, term
            ), freq AS (
                SELECT term, CAST(sum(c) AS BIGINT) AS cnt
                FROM tf GROUP BY term
            ), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM freq)
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
                   round(-sum(c * ln(cnt / t)) / sum(c), 6) AS nll
            FROM tf JOIN freq USING (term) CROSS JOIN tot
            GROUP BY doc_id ORDER BY doc_id""",
        # q56: same tokenizer; total order (cnt DESC, term ASC) makes
        # the per-lang top-10 unique
        "q56_top_terms_per_lang": """
            WITH tok AS (
                SELECT lang, unnest(list_filter(regexp_split_to_array(
                           lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                           x -> x != '')) AS term
                FROM documents
            ), c AS (
                SELECT lang, term, count(*) AS cnt
                FROM tok GROUP BY lang, term
            ), r AS (
                SELECT lang, term, cnt,
                       CAST(row_number() OVER (
                           PARTITION BY lang
                           ORDER BY cnt DESC, term) AS INTEGER) AS rank
                FROM c
            )
            SELECT lang, term, cnt, rank FROM r WHERE rank <= 10
            ORDER BY lang, rank""",
        # q57: the bucketized range join's reference semantics is the
        # plain BETWEEN join; upper bound in exact integer microseconds
        "q57_interval_join": """
            SELECT e.event_id, e.user_id, e.ts,
                   p.event_id AS p_event_id, p.value AS p_value
            FROM (SELECT * FROM events WHERE event_type = 'error') e
            JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON e.user_id = p.user_id
             AND e.ts >= p.ts
             AND epoch_us(e.ts) <= epoch_us(p.ts) + 7200000000
            ORDER BY e.event_id, p_event_id""",
        # q58: the same five power-iteration updates unrolled as chained
        # CTEs; all arithmetic forced to DOUBLE (DuckDB decimal literals
        # would otherwise run DECIMAL math), round-6 float contract
        "q58_pagerank": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem
            ), edges AS (
                SELECT a.it AS s, b.it AS d FROM items a
                JOIN items b ON a.bk = b.bk AND a.it < b.it
                GROUP BY a.it, b.it
            ), sym AS (
                SELECT s AS src, d AS dst FROM edges
                UNION ALL SELECT d AS src, s AS dst FROM edges
            ), deg AS (
                SELECT src AS node, COUNT(*) AS degree FROM sym
                GROUP BY src
            ), n AS (SELECT COUNT(*) AS cnt FROM deg),
            r0 AS (
                SELECT node, CAST(1 AS DOUBLE) / n.cnt AS pr
                FROM deg CROSS JOIN n
            ),
            r1 AS (
                SELECT deg.node, CAST(0.15 AS DOUBLE) / n.cnt
                     + CAST(0.85 AS DOUBLE) * COALESCE(x.acc, 0) AS pr
                FROM deg CROSS JOIN n
                LEFT JOIN (SELECT sym.dst AS node,
                                  SUM(p.pr / dg.degree) AS acc
                           FROM sym JOIN r0 p ON p.node = sym.src
                                    JOIN deg dg ON dg.node = sym.src
                           GROUP BY sym.dst) x ON x.node = deg.node
            ),
            r2 AS (
                SELECT deg.node, CAST(0.15 AS DOUBLE) / n.cnt
                     + CAST(0.85 AS DOUBLE) * COALESCE(x.acc, 0) AS pr
                FROM deg CROSS JOIN n
                LEFT JOIN (SELECT sym.dst AS node,
                                  SUM(p.pr / dg.degree) AS acc
                           FROM sym JOIN r1 p ON p.node = sym.src
                                    JOIN deg dg ON dg.node = sym.src
                           GROUP BY sym.dst) x ON x.node = deg.node
            ),
            r3 AS (
                SELECT deg.node, CAST(0.15 AS DOUBLE) / n.cnt
                     + CAST(0.85 AS DOUBLE) * COALESCE(x.acc, 0) AS pr
                FROM deg CROSS JOIN n
                LEFT JOIN (SELECT sym.dst AS node,
                                  SUM(p.pr / dg.degree) AS acc
                           FROM sym JOIN r2 p ON p.node = sym.src
                                    JOIN deg dg ON dg.node = sym.src
                           GROUP BY sym.dst) x ON x.node = deg.node
            ),
            r4 AS (
                SELECT deg.node, CAST(0.15 AS DOUBLE) / n.cnt
                     + CAST(0.85 AS DOUBLE) * COALESCE(x.acc, 0) AS pr
                FROM deg CROSS JOIN n
                LEFT JOIN (SELECT sym.dst AS node,
                                  SUM(p.pr / dg.degree) AS acc
                           FROM sym JOIN r3 p ON p.node = sym.src
                                    JOIN deg dg ON dg.node = sym.src
                           GROUP BY sym.dst) x ON x.node = deg.node
            ),
            r5 AS (
                SELECT deg.node, CAST(0.15 AS DOUBLE) / n.cnt
                     + CAST(0.85 AS DOUBLE) * COALESCE(x.acc, 0) AS pr
                FROM deg CROSS JOIN n
                LEFT JOIN (SELECT sym.dst AS node,
                                  SUM(p.pr / dg.degree) AS acc
                           FROM sym JOIN r4 p ON p.node = sym.src
                                    JOIN deg dg ON dg.node = sym.src
                           GROUP BY sym.dst) x ON x.node = deg.node
            )
            SELECT r5.node, deg.degree, round(r5.pr, 6) AS pr
            FROM r5 JOIN deg ON deg.node = r5.node
            ORDER BY r5.node""",
        # q59: identical degree-ordered orientation + wedge-close SQL;
        # exact integer counts
        "q59_triangle_counts": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem
            ), edges AS (
                SELECT a.it AS s, b.it AS d FROM items a
                JOIN items b ON a.bk = b.bk AND a.it < b.it
                GROUP BY a.it, b.it
            ), sym AS (
                SELECT s AS src, d AS dst FROM edges
                UNION ALL SELECT d AS src, s AS dst FROM edges
            ), deg AS (
                SELECT src AS node, COUNT(*) AS degree FROM sym
                GROUP BY src
            ), oriented AS (
                SELECT sym.src, sym.dst
                FROM sym JOIN deg ds ON ds.node = sym.src
                         JOIN deg dd ON dd.node = sym.dst
                WHERE ds.degree < dd.degree
                   OR (ds.degree = dd.degree AND sym.src < sym.dst)
            ), wedges AS (
                SELECT o1.src AS apex, o1.dst AS b, o2.dst AS c
                FROM oriented o1 JOIN oriented o2
                  ON o1.src = o2.src AND o1.dst < o2.dst
            ), tri AS (
                SELECT w.apex, w.b, w.c FROM wedges w
                JOIN edges e ON e.s = w.b AND e.d = w.c
            ), membr AS (
                SELECT apex AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            )
            SELECT node, COUNT(*) AS n_triangles FROM membr
            GROUP BY node ORDER BY node""",
        # q60: the same three frontier expansions as chained CTEs with
        # MIN(hop) merges (BFS minimal hop == anti-join frontier BFS)
        "q60_khop_neighbors": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem
            ), edges AS (
                SELECT a.it AS s, b.it AS d FROM items a
                JOIN items b ON a.bk = b.bk AND a.it < b.it
                GROUP BY a.it, b.it
            ), sym AS (
                SELECT s AS src, d AS dst FROM edges
                UNION ALL SELECT d AS src, s AS dst FROM edges
            ), seeds AS (
                SELECT DISTINCT p_partkey AS node FROM part
                WHERE p_partkey % 97 = 0
            ), h0 AS (SELECT node, 0 AS hop FROM seeds),
            n1 AS (SELECT DISTINCT sym.dst AS node FROM sym
                   JOIN h0 ON h0.node = sym.src),
            h1 AS (SELECT node, MIN(hop) AS hop FROM (
                       SELECT node, hop FROM h0
                       UNION ALL SELECT node, 1 FROM n1) u GROUP BY node),
            n2 AS (SELECT DISTINCT sym.dst AS node FROM sym
                   JOIN (SELECT node FROM h1 WHERE hop = 1) f
                     ON f.node = sym.src),
            h2 AS (SELECT node, MIN(hop) AS hop FROM (
                       SELECT node, hop FROM h1
                       UNION ALL SELECT node, 2 FROM n2) u GROUP BY node),
            n3 AS (SELECT DISTINCT sym.dst AS node FROM sym
                   JOIN (SELECT node FROM h2 WHERE hop = 2) f
                     ON f.node = sym.src),
            h3 AS (SELECT node, MIN(hop) AS hop FROM (
                       SELECT node, hop FROM h2
                       UNION ALL SELECT node, 3 FROM n3) u GROUP BY node)
            SELECT node, CAST(hop AS INT) AS hop FROM h3
            ORDER BY node""",
        # q61: DuckDB's RANGE frame over integer epoch micros is the
        # identical trailing-window semantics; round-6 on the float sum
        "q61_rolling_events": """
            SELECT event_id, user_id, ts,
                   COUNT(*) OVER w AS n_window,
                   round(SUM(value) OVER w, 6) AS sum_window
            FROM events WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 86400000000 PRECEDING
                               AND CURRENT ROW)
            ORDER BY event_id""",
        # q62: same tokenizer as q43/q55, same bigram-table marginals,
        # same ln(n_pair * N / (n_first * n_second)) rounded to 6
        "q62_pmi_collocations": r"""
            WITH toks AS (
                SELECT list_filter(regexp_split_to_array(
                           lower(text), '[ \t\n\x0b\f\r]+'),
                           x -> x != '') AS tk
                FROM documents
            ), bg AS (
                SELECT tk[i + 1] AS w1, tk[i + 2] AS w2
                FROM toks, UNNEST(range(0, len(tk) - 1)) AS t(i)
            ), pc AS (
                SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY w1, w2
            ), tot AS (SELECT CAST(SUM(n_pair) AS DOUBLE) AS n FROM pc),
            f AS (SELECT w1, SUM(n_pair) AS n_first FROM pc GROUP BY w1),
            s AS (SELECT w2, SUM(n_pair) AS n_second FROM pc GROUP BY w2)
            SELECT pc.w1, pc.w2, pc.n_pair,
                   round(ln(CAST(pc.n_pair AS DOUBLE) * tot.n
                            / (CAST(f.n_first AS DOUBLE)
                               * CAST(s.n_second AS DOUBLE))), 6) AS pmi
            FROM pc JOIN f USING (w1) JOIN s USING (w2) CROSS JOIN tot
            WHERE pc.n_pair >= 5
            ORDER BY pc.w1, pc.w2""",
        # q63: identical mutation, blocking predicate (prefix + length
        # band) and (distance, entity_id) tie-break; Spark levenshtein
        # is INT -> cast
        "q63_fuzzy_name_link": """
            WITH m AS (
                SELECT p_partkey AS mention_id,
                       CASE CAST(p_partkey % 3 AS INT)
                         WHEN 0 THEN substring(p_name, 1,
                                               length(p_name) - 1)
                         WHEN 1 THEN p_name || 'x'
                         ELSE p_name END AS mention
                FROM part
            ), c AS (
                SELECT p_partkey AS entity_id, p_name AS name FROM part
            ), hits AS (
                SELECT m.mention_id, m.mention, c.entity_id, c.name,
                       levenshtein(lower(m.mention),
                                   lower(c.name)) AS distance
                FROM m JOIN c
                  ON substring(lower(m.mention), 1, 1)
                     = substring(lower(c.name), 1, 1)
                 AND abs(length(m.mention) - length(c.name)) <= 2
                WHERE levenshtein(lower(m.mention), lower(c.name)) <= 2
            ), best AS (
                SELECT *, row_number() OVER (
                    PARTITION BY mention_id
                    ORDER BY distance, entity_id) AS rn
                FROM hits
            )
            SELECT mention_id, mention, entity_id, name,
                   CAST(distance AS INT) AS distance
            FROM best WHERE rn = 1 ORDER BY mention_id""",
        # q64: the unfiltered quadratic set-similarity definition — a
        # hash match certifies the Spark side's PPJoin prefix filter
        # found EVERY qualifying pair (losslessness, not just parity)
        "q64_jaccard_set_join": r"""
            WITH tk AS (
                SELECT doc_id, list_filter(regexp_split_to_array(
                    lower(text), '[ \t\n\x0b\f\r]+'), x -> x != '') AS t
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id,
                       array_to_string(t[i+1:i+3], ' ') AS tok
                FROM tk, UNNEST(range(0, len(t) - 2)) AS u(i)
                WHERE len(t) >= 3
            ), n AS (
                SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS a, b.doc_id AS b,
                       COUNT(*) AS n_common
                FROM sh a JOIN sh b
                  ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT inter.a, inter.b, inter.n_common,
                   round(CAST(n_common AS DOUBLE)
                         / (na.n + nb.n - n_common), 6) AS jaccard
            FROM inter JOIN n na ON na.doc_id = inter.a
                       JOIN n nb ON nb.doc_id = inter.b
            WHERE CAST(n_common AS DOUBLE)
                  / (na.n + nb.n - n_common) >= 0.5
            ORDER BY inter.a, inter.b""",
        # q65: recursive transitive closure — min reachable id == the
        # component minimum, exactly the alternating-star fixed point
        "q65_connected_components": """
            WITH RECURSIVE items AS (
                SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem
            ), edges AS (
                SELECT a.it AS s, b.it AS d FROM items a
                JOIN items b ON a.bk = b.bk AND a.it < b.it
                GROUP BY a.it, b.it
            ), sym AS (
                SELECT s AS src, d AS dst FROM edges
                UNION ALL SELECT d AS src, s AS dst FROM edges
            ), reach(src, dst) AS (
                SELECT src, src FROM sym
                UNION
                SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src
            )
            SELECT src AS node, MIN(dst) AS component
            FROM reach GROUP BY src ORDER BY node""",
        # q66: identical tokenizer (case-preserving), start offsets every
        # step tokens, 1-based inclusive list slice
        "q66_doc_chunks": r"""
            WITH tk AS (
                SELECT doc_id, list_filter(regexp_split_to_array(
                    text, '[ \t\n\x0b\f\r]+'), x -> x != '') AS t
                FROM documents
            )
            SELECT doc_id,
                   CAST(s / 24 AS INT) AS chunk_id,
                   CAST(s AS INT) AS start_token,
                   CAST(least(32, len(t) - s) AS INT) AS n_tokens,
                   array_to_string(t[s + 1:s + 32], ' ') AS chunk_text
            FROM tk, UNNEST(range(0, greatest(len(t) - 8, 1), 24)) AS u(s)
            WHERE len(t) > 0
            ORDER BY doc_id, chunk_id""",
        # q67: same lang-id, same (count desc, term asc) rank, same
        # closed-form least-squares over ln(rank)/ln(freq), round-6
        "q67_zipf_slope": f"""
            WITH l AS ({_lang_id_sql(order_by=False)}),
            toks AS (
                SELECT l.lang_pred AS grp,
                       unnest(list_filter(regexp_split_to_array(
                           lower(d.text), '[ \\t\\n\\x0b\\f\\r]+'),
                           x -> x != '')) AS term
                FROM documents d JOIN l USING (doc_id)
            ), counts AS (
                SELECT grp, term, COUNT(*) AS cnt FROM toks
                GROUP BY grp, term
            ), ranked AS (
                SELECT grp, cnt,
                       ln(CAST(row_number() OVER (
                           PARTITION BY grp
                           ORDER BY cnt DESC, term ASC) AS DOUBLE)) AS x,
                       ln(CAST(cnt AS DOUBLE)) AS y,
                       row_number() OVER (PARTITION BY grp
                           ORDER BY cnt DESC, term ASC) AS rn
                FROM counts
            ), agg AS (
                SELECT grp, COUNT(*) AS n_types, SUM(cnt) AS n_tokens,
                       CAST(COUNT(*) AS DOUBLE) AS n,
                       SUM(x) AS sx, SUM(y) AS sy,
                       SUM(x * x) AS sxx, SUM(x * y) AS sxy
                FROM ranked WHERE rn <= 500 GROUP BY grp
            )
            SELECT grp AS lang_pred, n_types, n_tokens,
                   round((n * sxy - sx * sy)
                         / (n * sxx - sx * sx), 6) AS zipf_slope,
                   round((sy * sxx - sx * sxy)
                         / (n * sxx - sx * sx), 6) AS zipf_intercept
            FROM agg WHERE n_types >= 10 ORDER BY lang_pred""",
        # q68: same max-ts anchor and power(0.5, age_us/hl_us), round-6
        "q68_decayed_salience": """
            WITH ev AS (
                SELECT user_id, epoch_us(ts) AS us FROM events
                WHERE ts IS NOT NULL
            ), ref AS (SELECT MAX(us) AS r FROM ev)
            SELECT user_id, COUNT(*) AS n_events,
                   round(SUM(power(0.5,
                       CAST(ref.r - us AS DOUBLE)
                       / (7.0 * 86400.0 * 1e6))), 6) AS decayed_score
            FROM ev CROSS JOIN ref
            GROUP BY user_id ORDER BY user_id""",
        # q69: three unrolled steps over the dst-sorted ranked adjacency;
        # the md5-60bit choice is engine-identical (the q39/q20 twin)
        "q69_random_walks": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem
            ), edges AS (
                SELECT a.it AS s, b.it AS d FROM items a
                JOIN items b ON a.bk = b.bk AND a.it < b.it
                GROUP BY a.it, b.it
            ), sym AS (
                SELECT s AS src, d AS dst FROM edges
                UNION ALL SELECT d AS src, s AS dst FROM edges
            ), adj AS (
                SELECT src, dst,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY dst) - 1 AS rnk
                FROM sym
            ), deg AS (
                SELECT src, COUNT(*) AS dg FROM sym GROUP BY src
            ), seeds AS (
                SELECT p_partkey AS node FROM part WHERE p_partkey % 97 = 0
            ), w0 AS (
                SELECT CAST(node AS VARCHAR) || ':'
                       || CAST(w AS VARCHAR) AS walk_id,
                       node AS start_node, node AS cur
                FROM seeds CROSS JOIN (SELECT unnest([0, 1]) AS w)
            ), w1 AS (
                SELECT w0.walk_id, w0.start_node, adj.dst AS cur
                FROM w0 JOIN deg ON deg.src = w0.cur
                JOIN adj ON adj.src = w0.cur
                 AND adj.rnk = CAST('0x' || substring(md5(
                     'walk:' || CAST(w0.walk_id AS VARCHAR) || ':1'),
                     1, 15) AS BIGINT) % deg.dg
            ), w2 AS (
                SELECT w1.walk_id, w1.start_node, adj.dst AS cur
                FROM w1 JOIN deg ON deg.src = w1.cur
                JOIN adj ON adj.src = w1.cur
                 AND adj.rnk = CAST('0x' || substring(md5(
                     'walk:' || CAST(w1.walk_id AS VARCHAR) || ':2'),
                     1, 15) AS BIGINT) % deg.dg
            ), w3 AS (
                SELECT w2.walk_id, w2.start_node, adj.dst AS cur
                FROM w2 JOIN deg ON deg.src = w2.cur
                JOIN adj ON adj.src = w2.cur
                 AND adj.rnk = CAST('0x' || substring(md5(
                     'walk:' || CAST(w2.walk_id AS VARCHAR) || ':3'),
                     1, 15) AS BIGINT) % deg.dg
            )
            SELECT walk_id, start_node, 0 AS step, start_node AS node
            FROM w0
            UNION ALL SELECT walk_id, start_node, 1, cur FROM w1
            UNION ALL SELECT walk_id, start_node, 2, cur FROM w2
            UNION ALL SELECT walk_id, start_node, 3, cur FROM w3
            ORDER BY walk_id, step""",
        # q72: same lang-id + whitespace token count; per-group
        # quantile_cont(0.5) as a window aggregate, same >= boundary
        "q72_group_quantile_gate": f"""
            WITH l AS ({_lang_id_sql(order_by=False)}),
            d AS (
                SELECT doc_id, l.lang_pred, {_WS_TOKENS_SQL} AS n_tok
                FROM documents JOIN l USING (doc_id)
            ), t AS (
                SELECT doc_id, lang_pred, n_tok,
                       quantile_cont(n_tok, 0.5) OVER (
                           PARTITION BY lang_pred) AS thr
                FROM d
            )
            SELECT doc_id, lang_pred, n_tok FROM t
            WHERE n_tok >= thr ORDER BY doc_id""",
        # q73: identical md5 coin (< p * 2^60), then the q59 orientation
        # + wedge-close on the SAMPLED subgraph, global count / p^3
        "q73_approx_triangles": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem
            ), alledges AS (
                SELECT a.it AS s, b.it AS d FROM items a
                JOIN items b ON a.bk = b.bk AND a.it < b.it
                GROUP BY a.it, b.it
            ), edges AS (
                SELECT s, d FROM alledges
                WHERE CAST('0x' || substring(md5(
                    'tri:' || CAST(s AS VARCHAR) || ':'
                    || CAST(d AS VARCHAR)), 1, 15) AS BIGINT)
                    < 576460752303423488
            ), sym AS (
                SELECT s AS src, d AS dst FROM edges
                UNION ALL SELECT d AS src, s AS dst FROM edges
            ), deg AS (
                SELECT src AS node, COUNT(*) AS degree FROM sym
                GROUP BY src
            ), oriented AS (
                SELECT sym.src, sym.dst FROM sym
                JOIN deg ds ON ds.node = sym.src
                JOIN deg dd ON dd.node = sym.dst
                WHERE ds.degree < dd.degree
                   OR (ds.degree = dd.degree AND sym.src < sym.dst)
            ), tri AS (
                SELECT COUNT(*) AS t
                FROM oriented o1
                JOIN oriented o2 ON o1.src = o2.src
                               AND o1.dst < o2.dst
                JOIN edges e ON e.s = o1.dst AND e.d = o2.dst
            )
            SELECT (SELECT COUNT(*) FROM edges) AS n_edges_sampled,
                   tri.t AS n_triangles_sampled,
                   round(CAST(tri.t AS DOUBLE) / 0.125, 6)
                       AS est_triangles
            FROM tri""",
        # q74: replay the union + latest-wins window election; snapshot
        # rows carry a NULL ts and sort after every change (NULLS LAST)
        "q74_snapshot_merge": """
            WITH snap AS (
                SELECT user_id, value, event_type FROM (
                    SELECT user_id, value, event_type,
                           row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
                    FROM events WHERE ts < TIMESTAMP '2024-01-15')
                WHERE rn = 1
            ), chg AS (
                SELECT user_id, value, event_type, ts,
                       event_id AS seq,
                       CASE WHEN event_type = 'error' THEN 'delete'
                            ELSE 'upsert' END AS op
                FROM events WHERE ts >= TIMESTAMP '2024-01-15'
            ), unioned AS (
                SELECT user_id, value, event_type,
                       CAST(NULL AS TIMESTAMP) AS ts,
                       CAST(-1 AS BIGINT) AS seq, 'upsert' AS op
                FROM snap
                UNION ALL
                SELECT user_id, value, event_type, ts, seq, op FROM chg
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC NULLS LAST, seq DESC) AS rn
                FROM unioned
            )
            SELECT user_id, value, event_type FROM ranked
            WHERE rn = 1 AND op != 'delete' ORDER BY user_id""",
        # q75: majority obj per (subj, pred), ties smaller obj; the
        # distinct-candidate count rides the same window partition
        "q75_triple_conflicts": """
            WITH agg AS (
                SELECT o_custkey AS subj_id,
                       'has_order_status' AS pred,
                       o_orderstatus AS obj_id,
                       round(CAST(count(*) AS DOUBLE), 6) AS support
                FROM orders GROUP BY 1, 2, 3
            ), ranked AS (
                SELECT *,
                       row_number() OVER (PARTITION BY subj_id, pred
                           ORDER BY support DESC, obj_id ASC) AS rn,
                       count(*) OVER (PARTITION BY subj_id, pred)
                           AS n_candidates
                FROM agg
            )
            SELECT subj_id, pred, obj_id, support, n_candidates
            FROM ranked WHERE rn = 1 ORDER BY subj_id""",
        # q76: constrained-pred semi-join + allowed-pair anti-join,
        # then the per-(pred, obj) violation report
        "q76_constraint_violations": """
            WITH tr AS (
                SELECT o_custkey AS subj_id,
                       'has_order_status' AS pred,
                       o_orderstatus AS obj_id FROM orders
                UNION ALL
                SELECT o_custkey, 'has_priority', o_orderpriority
                FROM orders
            ), allowed AS (
                SELECT * FROM (VALUES
                    ('has_order_status', 'F'), ('has_order_status', 'O'),
                    ('has_priority', '1-URGENT'),
                    ('has_priority', '2-HIGH'),
                    ('has_priority', '3-MEDIUM')) t(pred, obj_id)
            )
            SELECT pred, obj_id, count(*) AS n_violations,
                   count(DISTINCT subj_id) AS n_subjects
            FROM tr
            WHERE pred IN (SELECT pred FROM allowed)
              AND NOT EXISTS (SELECT 1 FROM allowed a
                              WHERE a.pred = tr.pred
                                AND a.obj_id = tr.obj_id)
            GROUP BY pred, obj_id ORDER BY pred, obj_id""",
        # q77: replay line construction (concat_ws skips the NULL
        # footer), within-doc first-occurrence rn, >=10-doc
        # boilerplate exclusion, ordered rebuild
        "q77_boilerplate_lines": _boilerplate_lines_sql(min_docs=10),
        # q78: identical md5 integer micro-weights over the identical
        # token array; exact long sum, then the same two float ops
        "q78_hashed_quality": """
            WITH tok AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                           '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '') AS toks
                FROM documents
            ), scored AS (
                SELECT doc_id,
                       CASE WHEN len(toks) > 0 THEN
                           round((list_sum(list_transform(toks, t ->
                               CAST('0x' || substring(md5('qw:' || t),
                                    1, 15) AS BIGINT)
                               % 1000000 - 500000))
                             / 1000000.0) / len(toks), 6)
                       END AS quality_score
                FROM tok
            )
            SELECT doc_id, quality_score,
                   coalesce(quality_score >= 0.0, false) AS keep
            FROM scored ORDER BY doc_id""",
        # q79: replay the four crawl-variant spellings + the
        # scheme/host/path canonicalization regexes + best-wins window
        "q79_url_dedup": """
            WITH docs AS (
                SELECT doc_id, n_chars,
                       CASE CAST(doc_id % 4 AS INTEGER)
                           WHEN 0 THEN 'https://www.example'
                               || (doc_id % 37) || '.com/item/'
                               || (doc_id % 7) || '/'
                           WHEN 1 THEN 'https://example'
                               || (doc_id % 37) || '.com/item/'
                               || (doc_id % 7)
                           WHEN 2 THEN 'https://user:pw@example'
                               || (doc_id % 37) || '.com/item/'
                               || (doc_id % 7) || '?utm=1'
                           ELSE 'https://example' || (doc_id % 37)
                               || '.com:8080/item/' || (doc_id % 7)
                               || '#f'
                       END AS url
                FROM documents
            ), canon AS (
                SELECT doc_id, n_chars,
                       lower(regexp_extract(url, '(?i)^(https?)://', 1))
                       || '://'
                       || regexp_replace(lower(regexp_extract(url,
                              '(?i)https?://(?:[^/ \\t\\n\\x0b\\f\\r@]*@)?([^/ \\t\\n\\x0b\\f\\r:?#@]+)',
                              1)), '^www\\.', '')
                       || regexp_replace(regexp_extract(url,
                              '(?i)^https?://[^/?#]*(/[^?#]*)?', 1),
                              '/+$', '') AS canonical_url
                FROM docs
            ), ranked AS (
                SELECT doc_id, canonical_url,
                       row_number() OVER (PARTITION BY canonical_url
                           ORDER BY n_chars DESC, doc_id ASC) AS rn
                FROM canon
            )
            SELECT doc_id, canonical_url FROM ranked
            WHERE rn = 1 ORDER BY doc_id""",
        # q80: lead() closes each version with the NEXT change of any
        # kind; deletes filtered after; version numbers upserts only
        "q80_scd2_history": """
            WITH ch AS (
                SELECT user_id, value, event_type, ts AS valid_from,
                       event_id AS seq,
                       CASE WHEN event_type = 'error' THEN 'delete'
                            ELSE 'upsert' END AS op
                FROM events WHERE ts IS NOT NULL
            ), led AS (
                SELECT *, lead(valid_from) OVER (PARTITION BY user_id
                           ORDER BY valid_from ASC, seq ASC) AS valid_to
                FROM ch
            ), ups AS (
                SELECT user_id, value, event_type, valid_from, valid_to,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY valid_from ASC, seq ASC) AS version
                FROM led WHERE op != 'delete'
            )
            SELECT user_id, value, event_type, valid_from, valid_to,
                   version, valid_to IS NULL AS is_current
            FROM ups ORDER BY user_id, version""",
        # q81: q55's NLL replay joined to the real lang column, then
        # per-lang quantile_cont terciles + the <= CASE labeling
        "q81_nll_buckets": """
            WITH tok AS (
                SELECT doc_id, unnest(list_filter(regexp_split_to_array(
                           lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                           x -> x != '')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, count(*) AS c
                FROM tok GROUP BY doc_id, term
            ), freq AS (
                SELECT term, CAST(sum(c) AS BIGINT) AS cnt
                FROM tf GROUP BY term
            ), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM freq),
            nll AS (
                SELECT doc_id,
                       round(-sum(c * ln(cnt / t)) / sum(c), 6) AS nll
                FROM tf JOIN freq USING (term) CROSS JOIN tot
                GROUP BY doc_id
            ), d AS (
                SELECT doc_id, lang, nll
                FROM nll JOIN documents USING (doc_id)
            ), t AS (
                SELECT doc_id, lang, nll,
                       quantile_cont(nll, 1.0/3.0) OVER (
                           PARTITION BY lang) AS t1,
                       quantile_cont(nll, 2.0/3.0) OVER (
                           PARTITION BY lang) AS t2
                FROM d
            )
            SELECT doc_id, lang, nll,
                   CASE WHEN nll <= t1 THEN 'head'
                        WHEN nll <= t2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM t ORDER BY doc_id""",
        # q82: KMV order statistics — distinct md5-unit hashes, the 128
        # smallest per group, (k-1)/h_k when full, exact size otherwise
        "q82_kmv_distinct": """
            WITH h AS (
                SELECT DISTINCT l_returnflag AS g,
                       CAST('0x' || substring(md5('kmv:'
                           || CAST(l_partkey AS VARCHAR)), 1, 15)
                           AS BIGINT) / 1152921504606846976.0 AS _h
                FROM lineitem WHERE l_partkey IS NOT NULL
            ), topk AS (
                SELECT g, _h, row_number() OVER (PARTITION BY g
                    ORDER BY _h ASC) AS rn
                FROM h
            )
            SELECT g AS l_returnflag,
                   CAST(count(*) AS INTEGER) AS n_kept,
                   round(CASE WHEN count(*) < 128
                              THEN CAST(count(*) AS DOUBLE)
                              ELSE 127.0 / max(_h) END, 6)
                       AS est_distinct
            FROM topk WHERE rn <= 128
            GROUP BY g ORDER BY g""",
        # q83: same md5 shard + hash-rank position replay
        "q83_shard_layout": """
            WITH h AS (
                SELECT doc_id,
                       md5('shard:' || CAST(doc_id AS VARCHAR)) AS _h
                FROM documents
            ), s AS (
                SELECT doc_id, _h,
                       CAST(CAST('0x' || substring(_h, 1, 15) AS BIGINT)
                            % 8 AS INTEGER) AS shard
                FROM h
            )
            SELECT doc_id, shard,
                   CAST(row_number() OVER (PARTITION BY shard
                       ORDER BY _h ASC, doc_id ASC) - 1 AS INTEGER)
                       AS pos
            FROM s ORDER BY doc_id""",
        # q84: two unrolled HITS rounds with the same L1 scalar
        # normalizations; only-src nodes have auth 0, only-dst hub 0
        "q84_hits": """
            WITH e AS (
                SELECT DISTINCT 's' || l_suppkey AS src,
                       'c' || o_custkey AS dst
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ), nodes AS (
                SELECT src AS node FROM e
                UNION SELECT dst AS node FROM e
            ), h0 AS (
                SELECT node,
                       1.0 / (SELECT count(*) FROM nodes) AS hub
                FROM nodes
            ), a1r AS (
                SELECT e.dst AS node, sum(h0.hub) AS raw
                FROM e JOIN h0 ON h0.node = e.src GROUP BY e.dst
            ), a1 AS (
                SELECT node, raw / (SELECT sum(raw) FROM a1r) AS auth
                FROM a1r
            ), h1r AS (
                SELECT e.src AS node, sum(a1.auth) AS raw
                FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src
            ), h1 AS (
                SELECT node, raw / (SELECT sum(raw) FROM h1r) AS hub
                FROM h1r
            ), a2r AS (
                SELECT e.dst AS node, sum(h1.hub) AS raw
                FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst
            ), a2 AS (
                SELECT node, raw / (SELECT sum(raw) FROM a2r) AS auth
                FROM a2r
            ), h2r AS (
                SELECT e.src AS node, sum(a2.auth) AS raw
                FROM e JOIN a2 ON a2.node = e.dst GROUP BY e.src
            ), h2 AS (
                SELECT node, raw / (SELECT sum(raw) FROM h2r) AS hub
                FROM h2r
            )
            SELECT n.node,
                   round(coalesce(h2.hub, 0.0), 6) AS hub,
                   round(coalesce(a2.auth, 0.0), 6) AS auth
            FROM nodes n
            LEFT JOIN h2 ON h2.node = n.node
            LEFT JOIN a2 ON a2.node = n.node
            ORDER BY n.node""",
        # q85: bigram counts + prefix marginal + vocab scalar, add-k
        # smoothing — exact-integer-fed arithmetic, round-6 mean
        "q85_bigram_nll": """
            WITH tok AS (
                SELECT doc_id, list_filter(regexp_split_to_array(
                    lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                    x -> x != '') AS t
                FROM documents
            ), bg AS (
                SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
                FROM (SELECT doc_id, t,
                             unnest(generate_series(1, len(t) - 1)) AS i
                      FROM tok WHERE len(t) >= 2)
            ), c12 AS (
                SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
            ), c1 AS (
                SELECT w1, CAST(sum(c) AS BIGINT) AS cw
                FROM c12 GROUP BY w1
            ), v AS (
                SELECT count(DISTINCT u) AS vs
                FROM (SELECT unnest(t) AS u FROM tok)
            )
            SELECT doc_id, count(*) AS n_bigrams,
                   round(-sum(ln((c + 0.5) / (cw + 0.5 * vs)))
                         / count(*), 6) AS nll
            FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
            CROSS JOIN v
            GROUP BY doc_id ORDER BY doc_id""",
        # q86: q59's orientation + wedge-close on the 1/3-sparsified
        # graph, then degrees + the 2T/d(d-1) arithmetic
        "q86_clustering_coefficient": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem WHERE l_orderkey % 3 = 0
            ), edges AS (
                SELECT a.it AS s, b.it AS d FROM items a
                JOIN items b ON a.bk = b.bk AND a.it < b.it
                GROUP BY a.it, b.it
            ), sym AS (
                SELECT s AS src, d AS dst FROM edges
                UNION ALL SELECT d AS src, s AS dst FROM edges
            ), deg AS (
                SELECT src AS node, COUNT(*) AS degree FROM sym
                GROUP BY src
            ), oriented AS (
                SELECT sym.src, sym.dst
                FROM sym JOIN deg ds ON ds.node = sym.src
                         JOIN deg dd ON dd.node = sym.dst
                WHERE ds.degree < dd.degree
                   OR (ds.degree = dd.degree AND sym.src < sym.dst)
            ), wedges AS (
                SELECT o1.src AS apex, o1.dst AS b, o2.dst AS c
                FROM oriented o1 JOIN oriented o2
                  ON o1.src = o2.src AND o1.dst < o2.dst
            ), tri AS (
                SELECT w.apex, w.b, w.c FROM wedges w
                JOIN edges e ON e.s = w.b AND e.d = w.c
            ), membr AS (
                SELECT apex AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            ), tcount AS (
                SELECT node, COUNT(*) AS n_triangles FROM membr
                GROUP BY node
            )
            SELECT d.node, d.degree,
                   coalesce(t.n_triangles, 0) AS n_triangles,
                   round(CASE WHEN d.degree >= 2
                              THEN 2.0 * coalesce(t.n_triangles, 0)
                                   / (d.degree * (d.degree - 1.0))
                              ELSE 0.0 END, 6) AS cc
            FROM deg d LEFT JOIN tcount t USING (node)
            ORDER BY d.node""",
        # q87: same percent_rank definition ((rank-1)/(n-1), ties share)
        "q87_percent_rank": """
            SELECT doc_id, lang, n_chars,
                   round(percent_rank() OVER (PARTITION BY lang
                       ORDER BY n_chars ASC), 6) AS pct
            FROM documents ORDER BY doc_id""",
        "q88_mixed_language": _mixed_lang_sql(chunk_tokens=24),
        # q89: three rankings replayed with the same total orders, then
        # Σ 1/(60+rank) per doc, (score desc, id) top-10
        "q89_rrf_fusion": """
            WITH r1 AS (
                SELECT doc_id, rn AS rank FROM (
                    SELECT doc_id, row_number() OVER (
                        ORDER BY n_chars DESC, doc_id ASC) AS rn
                    FROM documents) WHERE rn <= 50
            ), r2 AS (
                SELECT doc_id, rn AS rank FROM (
                    SELECT doc_id, row_number() OVER (ORDER BY
                        CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(text),
                                  '[ \\t\\n\\x0b\\f\\r]+')) END DESC,
                        doc_id ASC) AS rn
                    FROM documents) WHERE rn <= 50
            ), r3 AS (
                SELECT doc_id, rn AS rank FROM (
                    SELECT doc_id, row_number() OVER (ORDER BY
                        md5('rrf:' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC) AS rn
                    FROM documents) WHERE rn <= 50
            ), contrib AS (
                SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM r1
                UNION ALL SELECT doc_id, 1.0 / (60.0 + rank) FROM r2
                UNION ALL SELECT doc_id, 1.0 / (60.0 + rank) FROM r3
            ), fused AS (
                SELECT doc_id, count(*) AS n_lists,
                       round(sum(c), 6) AS rrf_score
                FROM contrib GROUP BY doc_id
            )
            SELECT doc_id, n_lists, rrf_score,
                   CAST(row_number() OVER (ORDER BY rrf_score DESC,
                        doc_id ASC) AS INTEGER) AS rank
            FROM fused
            QUALIFY rank <= 10 ORDER BY rank""",
        # q90: 1/10-sparsified graph; wedges from the degree-annotated
        # adjacency (a < b once per common neighbor), 1/ln(deg z)
        # weights, existing-edge NOT EXISTS, top-200 total order
        "q90_adamic_adar": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem WHERE l_orderkey % 10 = 0
            ), edges AS (
                SELECT a.it AS s, b.it AS d FROM items a
                JOIN items b ON a.bk = b.bk AND a.it < b.it
                GROUP BY a.it, b.it
            ), sym AS (
                SELECT s AS src, d AS dst FROM edges
                UNION ALL SELECT d AS src, s AS dst FROM edges
            ), deg AS (
                SELECT src AS node, COUNT(*) AS degree FROM sym
                GROUP BY src
            ), adjd AS (
                SELECT sym.src AS z, sym.dst AS nb, deg.degree AS dz
                FROM sym JOIN deg ON deg.node = sym.src
            ), pairs AS (
                SELECT l.nb AS a, r.nb AS b, count(*) AS n_common,
                       round(sum(1.0 / ln(l.dz)), 6) AS aa
                FROM adjd l JOIN adjd r ON l.z = r.z AND l.nb < r.nb
                GROUP BY l.nb, r.nb
            )
            SELECT a, b, n_common, aa FROM pairs p
            WHERE NOT EXISTS (SELECT 1 FROM edges e
                              WHERE e.s = p.a AND e.d = p.b)
            ORDER BY aa DESC, a ASC, b ASC LIMIT 200""",
        # q91: gap-island firsts == one lag comparison (strict >,
        # event_id tiebreak, integer micros)
        "q91_throttle_events": """
            SELECT event_id, user_id, ts FROM (
                SELECT event_id, user_id, ts,
                       lag(epoch_us(ts)) OVER (PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) AS prev,
                       epoch_us(ts) AS us
                FROM events WHERE ts IS NOT NULL)
            WHERE prev IS NULL OR us - prev > 7200000000
            ORDER BY event_id""",
        # q92: unnest-with-position + IN filter + inclusive slice
        "q92_mention_contexts": """
            WITH tk AS (
                SELECT doc_id, list_filter(regexp_split_to_array(
                    text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '') AS t
                FROM documents
            ), pos AS (
                SELECT doc_id, t, i - 1 AS pos, lower(t[i]) AS term
                FROM (SELECT doc_id, t,
                             unnest(generate_series(1, len(t))) AS i
                      FROM tk)
                WHERE lower(t[i]) IN ('spark', 'table', 'query')
            )
            SELECT doc_id, pos, term,
                   array_to_string(
                       t[greatest(pos + 1 - 5, 1):
                         least(pos + 1 + 5, len(t))], ' ') AS context
            FROM pos ORDER BY doc_id, pos""",
        # q93: md5-indexed corruption against the rank-ordered part
        # catalog, filtered setting (NOT EXISTS against positives)
        "q93_negative_samples": """
            WITH pos AS (
                SELECT DISTINCT l_suppkey AS subj_id,
                       'supplies' AS pred, l_partkey AS obj_id
                FROM lineitem WHERE l_orderkey % 20 = 0
            ), ents AS (
                SELECT p_partkey AS entity_id,
                       row_number() OVER (ORDER BY p_partkey ASC) - 1
                           AS r
                FROM part
            ), n AS (SELECT count(*) AS c FROM ents),
            cand AS (
                SELECT subj_id, pred, obj_id, slot,
                       CAST('0x' || substring(md5('neg:'
                           || CAST(subj_id AS VARCHAR) || ':' || pred
                           || ':' || CAST(obj_id AS VARCHAR) || ':'
                           || CAST(slot AS VARCHAR)), 1, 15) AS BIGINT)
                           % (SELECT c FROM n) AS r
                FROM pos, unnest([0, 1]) AS u(slot)
            )
            SELECT c.subj_id, c.pred, e.entity_id AS neg_obj,
                   CAST(c.slot AS INTEGER) AS slot
            FROM cand c JOIN ents e USING (r)
            WHERE NOT EXISTS (SELECT 1 FROM pos p
                              WHERE p.subj_id = c.subj_id
                                AND p.pred = c.pred
                                AND p.obj_id = e.entity_id)
            ORDER BY c.subj_id, c.pred, neg_obj, slot""",
        # q94: q20's pair CTEs + the q44 split CASE on both pair sides,
        # keep only boundary-straddling pairs
        "q94_cross_split_leakage": _cross_split_leakage_sql(),
        # q95: three unrolled closure rounds, minimal depth via
        # NOT EXISTS against earlier rounds; trunc() not CAST — DuckDB
        # double->int casts round half-even while Spark truncates
        "q95_bounded_closure": """
            WITH e AS (
                SELECT p_partkey AS src,
                       CAST(trunc(p_partkey / 10.0) AS BIGINT) AS dst
                FROM part WHERE p_partkey >= 10
            ), d1 AS (
                SELECT DISTINCT src, dst, 1 AS depth FROM e
            ), d2 AS (
                SELECT DISTINCT a.src, b.dst, 2 AS depth
                FROM d1 a JOIN e b ON a.dst = b.src
                WHERE a.src != b.dst
                  AND NOT EXISTS (SELECT 1 FROM d1
                                  WHERE d1.src = a.src
                                    AND d1.dst = b.dst)
            ), d3 AS (
                SELECT DISTINCT a.src, b.dst, 3 AS depth
                FROM d2 a JOIN e b ON a.dst = b.src
                WHERE a.src != b.dst
                  AND NOT EXISTS (SELECT 1 FROM d1
                                  WHERE d1.src = a.src
                                    AND d1.dst = b.dst)
                  AND NOT EXISTS (SELECT 1 FROM d2 x
                                  WHERE x.src = a.src
                                    AND x.dst = b.dst)
            )
            SELECT src, dst, depth FROM d1
            UNION ALL SELECT src, dst, depth FROM d2
            UNION ALL SELECT src, dst, depth FROM d3
            ORDER BY src, depth, dst""",
        # q96: pivot == per-pred min(CASE) over the same triple union
        "q96_property_table": """
            WITH tr AS (
                SELECT o_custkey AS subj_id, 'status' AS pred,
                       o_orderstatus AS obj_id FROM orders
                UNION ALL
                SELECT o_custkey, 'priority', o_orderpriority FROM orders
                UNION ALL
                SELECT o_custkey, 'order_date',
                       CAST(o_orderdate AS VARCHAR) FROM orders
            )
            SELECT subj_id,
                   min(CASE WHEN pred = 'status' THEN obj_id END)
                       AS status,
                   min(CASE WHEN pred = 'priority' THEN obj_id END)
                       AS priority,
                   min(CASE WHEN pred = 'order_date' THEN obj_id END)
                       AS order_date
            FROM tr GROUP BY subj_id ORDER BY subj_id""",
        # q97: per-lang quartiles, round-6 fences on BOTH sides before
        # the comparison (fence arithmetic can land between order
        # statistics — the rounding grid is the documented contract)
        "q97_iqr_outliers": """
            WITH t AS (
                SELECT doc_id, lang, n_chars,
                       round(quantile_cont(n_chars, 0.25) OVER w
                             - 1.5 * (quantile_cont(n_chars, 0.75) OVER w
                                      - quantile_cont(n_chars, 0.25)
                                        OVER w), 6) AS lo_fence,
                       round(quantile_cont(n_chars, 0.75) OVER w
                             + 1.5 * (quantile_cont(n_chars, 0.75) OVER w
                                      - quantile_cont(n_chars, 0.25)
                                        OVER w), 6) AS hi_fence
                FROM documents
                WINDOW w AS (PARTITION BY lang)
            )
            SELECT doc_id, lang, n_chars, lo_fence, hi_fence,
                   n_chars < lo_fence OR n_chars > hi_fence AS is_outlier
            FROM t ORDER BY doc_id""",
        # q98: three unrolled PPR rounds; teleport CASE over the seed
        # set, (1 - 0.85) computed in-engine for bit parity
        "q98_personalized_pagerank": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem WHERE l_orderkey % 3 = 0
            ), edges AS (
                SELECT a.it AS s, b.it AS d FROM items a
                JOIN items b ON a.bk = b.bk AND a.it < b.it
                GROUP BY a.it, b.it
            ), sym AS (
                SELECT s AS src, d AS dst FROM edges
                UNION ALL SELECT d AS src, s AS dst FROM edges
            ), deg AS (
                SELECT src AS node, COUNT(*) AS degree FROM sym
                GROUP BY src
            ), sn AS (
                SELECT COUNT(*) AS c FROM deg WHERE node % 101 = 0
            ), tele AS (
                SELECT deg.node,
                       CASE WHEN deg.node % 101 = 0
                            THEN CAST(1 AS DOUBLE) / sn.c
                            ELSE CAST(0 AS DOUBLE) END AS s
                FROM deg CROSS JOIN sn
            ), r0 AS (
                SELECT node, s AS pr FROM tele
            ), r1 AS (
                SELECT tele.node,
                       (CAST(1 AS DOUBLE) - 0.85) * tele.s
                       + 0.85 * COALESCE(x.acc, 0) AS pr
                FROM tele
                LEFT JOIN (SELECT sym.dst AS node,
                                  SUM(p.pr / dg.degree) AS acc
                           FROM sym JOIN r0 p ON p.node = sym.src
                                    JOIN deg dg ON dg.node = sym.src
                           GROUP BY sym.dst) x ON x.node = tele.node
            ), r2 AS (
                SELECT tele.node,
                       (CAST(1 AS DOUBLE) - 0.85) * tele.s
                       + 0.85 * COALESCE(x.acc, 0) AS pr
                FROM tele
                LEFT JOIN (SELECT sym.dst AS node,
                                  SUM(p.pr / dg.degree) AS acc
                           FROM sym JOIN r1 p ON p.node = sym.src
                                    JOIN deg dg ON dg.node = sym.src
                           GROUP BY sym.dst) x ON x.node = tele.node
            ), r3 AS (
                SELECT tele.node,
                       (CAST(1 AS DOUBLE) - 0.85) * tele.s
                       + 0.85 * COALESCE(x.acc, 0) AS pr
                FROM tele
                LEFT JOIN (SELECT sym.dst AS node,
                                  SUM(p.pr / dg.degree) AS acc
                           FROM sym JOIN r2 p ON p.node = sym.src
                                    JOIN deg dg ON dg.node = sym.src
                           GROUP BY sym.dst) x ON x.node = tele.node
            )
            SELECT r3.node, deg.degree, round(r3.pr, 6) AS pr
            FROM r3 JOIN deg ON deg.node = r3.node
            ORDER BY r3.node""",
        # q99: tf/df replay + pruned-vocab membership (NULL => OOV)
        "q99_oov_rate": """
            WITH tok AS (
                SELECT doc_id, unnest(list_filter(regexp_split_to_array(
                           lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                           x -> x != '')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, count(*) AS c
                FROM tok GROUP BY doc_id, term
            ), vocab AS (
                SELECT term FROM tf GROUP BY term
                HAVING count(*) >= 5
            ), agg AS (
                SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
                       CAST(sum(CASE WHEN term IN
                                     (SELECT term FROM vocab)
                                THEN 0 ELSE c END) AS BIGINT) AS n_oov
                FROM tf GROUP BY doc_id
            )
            SELECT doc_id, n_tok, n_oov,
                   round(CAST(n_oov AS DOUBLE) / CAST(n_tok AS DOUBLE),
                         6) AS oov_ratio
            FROM agg ORDER BY doc_id""",
        # q100: rowwise aggregates + vocabulary count, one-row report
        "q100_corpus_health": """
            WITH tk AS (
                SELECT list_filter(regexp_split_to_array(lower(text),
                           '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '') AS t,
                       md5(text) AS h
                FROM documents
            ), row1 AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(len(t)) AS BIGINT) AS n_tokens,
                       CAST(count(DISTINCT h) AS BIGINT) AS nd
                FROM tk
            ), voc AS (
                SELECT CAST(count(DISTINCT u) AS BIGINT)
                           AS n_distinct_terms
                FROM (SELECT unnest(t) AS u FROM tk)
            )
            SELECT n_docs, n_tokens, n_distinct_terms,
                   round(1.0 - CAST(nd AS DOUBLE)
                         / CAST(n_docs AS DOUBLE), 6) AS exact_dup_ratio,
                   round(CAST(n_tokens AS DOUBLE)
                         / CAST(n_docs AS DOUBLE), 6) AS mean_doc_tokens
            FROM row1 CROSS JOIN voc""",
        # q101: per-step min-reach chain (strictly-after joins), scalar
        # counts, in-engine half-away rounding for the conversion
        "q101_funnel": """
            WITH r1 AS (
                SELECT user_id, min(epoch_us(ts)) AS t FROM events
                WHERE event_type = 'view' AND ts IS NOT NULL
                GROUP BY user_id
            ), r2 AS (
                SELECT e.user_id, min(epoch_us(e.ts)) AS t
                FROM events e JOIN r1 ON r1.user_id = e.user_id
                WHERE e.event_type = 'click' AND e.ts IS NOT NULL
                  AND epoch_us(e.ts) > r1.t
                GROUP BY e.user_id
            ), r3 AS (
                SELECT e.user_id, min(epoch_us(e.ts)) AS t
                FROM events e JOIN r2 ON r2.user_id = e.user_id
                WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL
                  AND epoch_us(e.ts) > r2.t
                GROUP BY e.user_id
            ), c AS (
                SELECT CAST((SELECT count(*) FROM r1) AS BIGINT) AS n1,
                       CAST((SELECT count(*) FROM r2) AS BIGINT) AS n2,
                       CAST((SELECT count(*) FROM r3) AS BIGINT) AS n3
            )
            SELECT 1 AS step_idx, 'view' AS step, n1 AS n_users,
                   CAST(NULL AS DOUBLE) AS conversion FROM c
            UNION ALL
            SELECT 2, 'click', n2,
                   CASE WHEN n1 = 0 THEN NULL
                        ELSE round(CAST(n2 AS DOUBLE) / n1, 6) END FROM c
            UNION ALL
            SELECT 3, 'purchase', n3,
                   CASE WHEN n2 = 0 THEN NULL
                        ELSE round(CAST(n3 AS DOUBLE) / n2, 6) END FROM c
            ORDER BY step_idx""",
        # q102: ISO-Monday weeks on both engines; offsets are exact
        # 7-day multiples so the /7 cast is lossless
        "q102_retention_cohorts": """
            WITH ev AS (
                SELECT user_id,
                       CAST(date_trunc('week', ts) AS DATE) AS wk
                FROM events WHERE ts IS NOT NULL
            ), fst AS (
                SELECT user_id, min(wk) AS cohort_week
                FROM ev GROUP BY user_id
            ), cells AS (
                SELECT DISTINCT e.user_id, f.cohort_week,
                       CAST(date_diff('day', f.cohort_week, e.wk) / 7
                            AS INTEGER) AS week_offset
                FROM ev e JOIN fst f USING (user_id)
            )
            SELECT cohort_week, week_offset, count(*) AS n_users
            FROM cells GROUP BY cohort_week, week_offset
            ORDER BY cohort_week, week_offset""",
        # q70: q31's pair+component replay, sizes instead of survivors
        "q70_dup_clusters": _dup_clusters_sql(k=64, bands=8,
                                              shingle_n=5, threshold=0.8),
        # q71: three unrolled synchronous LPA rounds — argmax neighbor
        # label by (count desc, label asc) via row_number
        "q71_label_propagation": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem
            ), edges AS (
                SELECT a.it AS s, b.it AS d FROM items a
                JOIN items b ON a.bk = b.bk AND a.it < b.it
                GROUP BY a.it, b.it
            ), sym AS (
                SELECT s AS src, d AS dst FROM edges
                UNION ALL SELECT d AS src, s AS dst FROM edges
            ), l0 AS (
                SELECT DISTINCT src AS node, src AS label FROM sym
            ), c1 AS (
                SELECT sym.src AS node, l.label, COUNT(*) AS cnt
                FROM sym JOIN l0 l ON l.node = sym.dst
                GROUP BY sym.src, l.label
            ), l1 AS (
                SELECT node, label FROM (
                    SELECT node, label, row_number() OVER (
                        PARTITION BY node
                        ORDER BY cnt DESC, label ASC) AS rn FROM c1)
                WHERE rn = 1
            ), c2 AS (
                SELECT sym.src AS node, l.label, COUNT(*) AS cnt
                FROM sym JOIN l1 l ON l.node = sym.dst
                GROUP BY sym.src, l.label
            ), l2 AS (
                SELECT node, label FROM (
                    SELECT node, label, row_number() OVER (
                        PARTITION BY node
                        ORDER BY cnt DESC, label ASC) AS rn FROM c2)
                WHERE rn = 1
            ), c3 AS (
                SELECT sym.src AS node, l.label, COUNT(*) AS cnt
                FROM sym JOIN l2 l ON l.node = sym.dst
                GROUP BY sym.src, l.label
            ), l3 AS (
                SELECT node, label FROM (
                    SELECT node, label, row_number() OVER (
                        PARTITION BY node
                        ORDER BY cnt DESC, label ASC) AS rn FROM c3)
                WHERE rn = 1
            )
            SELECT node, label FROM l3 ORDER BY node""",
        "q29_ivf_topk": """
            -- the planted copies are the ONLY candidates at cosine 1.0
            -- (max random cosine ~0.33 << 1.0) and the probe finds them
            -- STRUCTURALLY: a positively-scaled copy of the query assigns
            -- to the query's own coarse cell = the probe's rank-1 cell
            WITH q AS (SELECT list_transform(embedding,
                                  x -> CAST(x AS DOUBLE)) AS qv,
                              list_transform(embedding,
                                  x -> CAST(x AS DOUBLE) * 1.001) AS cv
                       FROM embeddings WHERE vec_id = 0)
            SELECT CAST(1000000 + i AS BIGINT) AS vec_id,
                   round(list_dot_product(cv, qv) /
                         (sqrt(list_sum(list_transform(cv, x -> x * x))) *
                          sqrt(list_sum(list_transform(qv, x -> x * x)))), 6)
                       AS cosine
            FROM q, (SELECT unnest(generate_series(0, 9)) AS i)
            ORDER BY vec_id""",
    }
