"""BM25 ranked retrieval over the corpus — the lexical-search complement
to the embedding ANN family (similarity.py) and the TF-IDF keyword pass
(tfidf.py): "find the training documents most relevant to this query"
is how curation teams audit a corpus, mine domain subsets, and build
retrieval baselines.

Distributed shape, sized for 100 TB:

* the query is a handful of terms — it ships as a LITERAL ``isin``
  predicate pushed into the term-frequency scan, so only rows for query
  terms survive the very first map stage (the corpus never shuffles on
  anything but its slim (doc, query-term, tf) hits);
* document lengths and the corpus-wide (n_docs, avg_dl) constants come
  from map-side-combined aggregates; the two scalars ride a one-row
  broadcast (BroadcastNestedLoopJoin over a single row: free);
* per-query-term document frequencies aggregate the already-slim hit
  rows — vocabulary side is |query| rows, broadcast back onto the hits;
* the final score is a per-doc sum over <= |query| rounded per-term
  contributions and top-k resolves via TakeOrderedAndProject (no global
  sort, no SinglePartition shuffle).

Okapi BM25 with the Lucene-style non-negative idf:

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(t, d) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

Everything is JVM-side column expressions => full DuckDB oracle (q45).
Per-term contributions and the final sum are rounded to 6 decimals on
BOTH sides so cross-engine float noise cannot break value-hash equality
(the established oracle contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from generative_ner_spark.operators.tfidf import term_frequencies


def doc_lengths(tf: DataFrame) -> DataFrame:
    """(id, dl): document length in tokens, from the term_frequencies
    output — sum of tf per doc, map-side combined on the uniform id."""
    return tf.groupBy("id").agg(F.sum("tf").alias("dl"))


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id_col, n_terms_hit, score) for every document matching at least
    one query term (lowercased, deduplicated; docs matching nothing are
    absent — at corpus scale the hit set is tiny next to the corpus).

    avg_dl is defined over ALL corpus docs (total tokens / n_docs), so an
    empty doc still dilutes the average — the oracle replays the same
    definition.
    """
    terms = sorted({t.lower() for t in query_terms if t})
    if not terms:
        raise ValueError("query_terms must contain at least one term")
    tf = term_frequencies(df, id_col, text_col)
    dl = doc_lengths(tf)
    # two corpus scalars in one row: n_docs from the input frame (counts
    # token-free docs too), total tokens from the tf pass
    meta = df.select(F.count("*").alias("_n")).crossJoin(
        tf.select(F.coalesce(F.sum("tf"), F.lit(0)).alias("_tok")))
    hits = tf.where(F.col("term").isin(terms))  # literal pushdown filter
    dfreq = hits.groupBy("term").agg(F.count("*").alias("df"))
    joined = (
        hits.join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(meta))
    )
    avgdl = F.col("_tok") / F.col("_n")
    idf = F.log(1.0 + (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = F.round(
        idf * F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)),
        6,
    )
    return (
        joined.withColumn("_s", contrib)
        .groupBy("id")
        .agg(F.count("*").alias("n_terms_hit"),
             F.round(F.sum("_s"), 6).alias("score"))
        .select(F.col("id").alias(id_col), "n_terms_hit", "score")
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Top-k documents for the query by BM25: (id_col, n_terms_hit,
    score, rank). Ties break on id asc (total order, reproducible
    cross-engine); orderBy+limit plans as TakeOrderedAndProject, and the
    rank window runs AFTER the limit — its SinglePartition input is
    top_k rows, not the corpus."""
    scored = bm25_scores(df, query_terms, id_col, text_col, k1, b)
    top = scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()).limit(top_k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w))


def rrf_fuse(
    rankings: list,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int | None = None,
    round_to: int = 6,
):
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09) — THE standard
    way to combine heterogeneous retrieval lists (BM25 + ANN + recency,
    each on its own incomparable score scale) into one ranking:
    ``rrf(d) = Σ_lists 1 / (k + rank_list(d))``, rank 1-based, items
    absent from a list contribute nothing. Output: (id, n_lists,
    rrf_score, rank) ordered by (score desc, id asc); ``top_k`` bounds
    the output.

    Scale shape: each input is already a (small) top-N result frame —
    the union + per-id agg is result-set-sized, never corpus-sized;
    map-side combine folds an id's per-list contributions before the
    one slim exchange. The global rank is an unpartitioned window —
    a single ordered pass over the FUSED frame, which is bounded by
    Σ len(inputs) by construction (that is the one place a global
    window is the honest plan, not a scale bug). Rank reciprocals come
    from exact integers, so only the final sum carries the
    round-``round_to`` float contract (q89 oracle).
    """
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    tagged = None
    for r in rankings:
        slim = r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double"))
             ).alias("_contrib"),
        )
        tagged = slim if tagged is None else tagged.unionByName(slim)
    fused = tagged.groupBy(id_col).agg(
        F.count("*").alias("n_lists"),
        F.round(F.sum("_contrib"), round_to).alias("rrf_score"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    out = fused.withColumn("rank", F.row_number().over(w))
    if top_k is not None:
        out = out.where(F.col("rank") <= top_k)
    return out
