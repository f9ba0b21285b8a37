"""TF-IDF keyword extraction over the corpus — the classic "what is this
document about" signal a training-data pipeline uses for topic balancing,
cluster labeling, and retrieval-style near-dup triage.

Distributed shape, sized for 100 TB:

* term frequencies: one narrow explode of the tokenized text ->
  groupBy(id, term) count — map-side combined, keys are uniform (doc id x
  term), no skew concern;
* document frequencies: the SAME per-doc distinct (id, term) rows
  aggregate by term — map-side combine absorbs stopword heavy-hitters
  (the reduce side sees one partial per partition per term, exactly the
  domain_stats argument);
* the corpus size is a one-row aggregate broadcast into the score
  expression (crossJoin of a 1-row frame — Spark plans
  BroadcastNestedLoopJoin over a single row: free);
* idf join: (id, term, tf) joins term -> df on the term key. The idf
  table is vocabulary-sized — often broadcastable, and AQE upgrades the
  join when it is; the slim fact side carries three columns only;
* top-k per doc: row_number window partitioned by doc id (uniform key).

Everything is JVM-side column expressions => full DuckDB oracle (q43).
Scores are rounded to 6 decimals on BOTH sides so cross-engine float
noise cannot break value-hash equality (the established oracle contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def term_frequencies(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, term, tf): lowercased whitespace tokens counted per doc.

    Same tokenizer as decontam.word_ngrams (Java ``\\s`` == the explicit
    ``[ \\t\\n\\x0b\\f\\r]`` class the DuckDB oracles use)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.expr(f"filter(split(lower({text_col}), '\\\\s+'), "
                   "x -> x != '')")
        ).alias("term"),
    )
    return toks.groupBy("id", "term").agg(F.count("*").alias("tf"))


def document_frequencies(tf: DataFrame) -> DataFrame:
    """(term, df) from the term_frequencies output — each (id, term) row
    is already distinct per doc, so this is a plain count per term."""
    return tf.groupBy("term").agg(F.count("*").alias("df"))


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF:

        score = tf * (ln((n_docs + 1) / (df + 1)) + 1)

    (the sklearn-style smooth idf — never negative, never div-by-zero).
    ``min_df`` drops hapax noise before scoring. Ties break on term asc so
    the output is total-ordered and exactly reproducible cross-engine.
    Output: (id_col, term, tf, df, score, rank), rank <= top_k.
    """
    tf = term_frequencies(df, id_col, text_col)
    docfreq = document_frequencies(tf).where(F.col("df") >= min_df)
    n_docs = df.select(F.count("*").alias("_n"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("_n") + 1) / (F.col("df") + 1)) + 1),
                6,
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(F.col("id").alias(id_col), "term", "tf", "df", "score",
                "rank")
    )


def unigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    unigram LM — the CCNet/KenLM-style fluency proxy without a model
    file: gibberish and rare-token soup scores HIGH (surprising under
    the corpus distribution), boilerplate scores LOW. score =
    -sum(tf * ln(cnt/total)) / sum(tf) over the doc's terms; no
    smoothing needed (every scored token is in the corpus, cnt >= 1).

    Output: (id, n_tok, nll) — nll rounded to ``round_to`` decimals on
    both engines (the established float-oracle contract; q55). Docs
    with zero tokens produce no row.

    Scale shape: term counts are ONE explode + map-side-combined
    groupBy (the tf frame is persisted — it feeds both the vocab agg
    and the scoring join, and recomputing it would tokenize the corpus
    twice); the vocab freq table is VOCABULARY-sized (sublinear in
    corpus bytes — Heaps' law) and broadcast. The grand total crosses
    the driver as a single scalar row.
    """
    # persist stays alive for the caller's action (an unpersist here
    # would evict before the scoring job runs); executor storage reclaims
    # it under memory pressure
    tf = term_frequencies(df, id_col, text_col).persist()
    freq = F.broadcast(tf.groupBy("term").agg(F.sum("tf").alias("cnt")))
    total = tf.agg(F.sum("tf")).first()[0]
    if total is None:  # empty/whitespace-only corpus: no scored rows
        return tf.select(
            "id", F.lit(0).cast("long").alias("n_tok"),
            F.lit(0.0).alias("nll")).where(F.lit(False))
    return (
        tf.join(freq, "term")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tok"),
            F.round(
                -F.sum(F.col("tf")
                       * F.log(F.col("cnt") / F.lit(int(total))))
                / F.sum("tf"),
                round_to,
            ).alias("nll"),
        )
    )


def top_terms_per_group(
    df: DataFrame,
    group_col: str = "lang",
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt_buckets: int = 32,
) -> DataFrame:
    """Exact top-k terms by frequency per group (language/source/domain
    vocabulary profiling). Deterministic total order: count DESC, then
    term ASC.

    Scale shape: the token explode collapses through ONE map-side-
    combined groupBy into the (group, term, cnt) frame — vocabulary-
    sized, not corpus-sized. The top-k then runs the same two-phase
    window as capped_group_sample: rank inside (group, term-hash
    bucket) first so one group's whole vocabulary never lands on a
    single reducer, then re-rank the <= salt_buckets * k survivors.
    Exact: a group-global top-k row is necessarily top-k in its own
    bucket. Output: (group, term, cnt, rank), rank 1..k.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.expr(f"filter(split(lower({text_col}), '\\\\s+'), "
                   "x -> x != '')")
        ).alias("term"),
    )
    counts = toks.groupBy("grp", "term").agg(F.count("*").alias("cnt"))
    bucket = F.pmod(F.xxhash64(F.concat(F.lit("tt:"), F.col("term"))),
                    F.lit(salt_buckets))
    staged = counts.withColumn("_bk", bucket)
    w1 = Window.partitionBy("grp", "_bk").orderBy(F.desc("cnt"), "term")
    phase1 = (staged.withColumn("_rn", F.row_number().over(w1))
              .where(F.col("_rn") <= k).drop("_rn", "_bk"))
    w2 = Window.partitionBy("grp").orderBy(F.desc("cnt"), "term")
    return (
        phase1.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "term", "cnt", "rank")
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Collocation mining by pointwise mutual information over adjacent
    token bigrams -> ``(w1, w2, n_pair, pmi)`` for pairs seen at least
    ``min_count`` times. The relation-candidate / multiword-entity
    detector ("new york", "machine learning") of every corpus-analysis
    stack; marginals come from the bigram table itself (first-position
    count x second-position count over the bigram total), so one explode
    feeds everything.

    Scale shape: tokens never leave their row — bigrams materialize via
    an O(1)-depth ``transform(sequence(...))`` into (w1, w2) structs,
    ONE explode, one map-side-combined groupBy to pair counts (the only
    wide op over corpus-sized data). The two marginal frames and the
    scalar total are vocabulary-sized aggregates of THAT counted frame
    (persisted — three consumers), rejoined on the bigram keys; AQE
    picks broadcast when a marginal frame fits (vocabularies usually
    do) and falls back to a shuffle join when a web-scale vocabulary
    doesn't — no hard F.broadcast that could OOM an executor. PMI =
    ln(n_pair * N / (n_first * n_second)), round-6 float contract.
    """
    # pattern stays a Python string through F.split — an F.expr SQL literal
    # mangles the escapes (\x0b -> literal x,0,b), the SQL-lexer gotcha.
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \t\n\x0b\f\r]+"),
        lambda t: t != F.lit(""))
    pairs = (
        df.select(toks.alias("_tk"))
        .where(F.size("_tk") >= 2)
        .select(F.explode(F.expr(
            "transform(sequence(0, size(_tk) - 2),"
            " i -> struct(_tk[i] AS w1, _tk[i + 1] AS w2))")).alias("_bg"))
        .select("_bg.w1", "_bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .persist()
    )
    total = pairs.agg(F.sum("n_pair")).first()[0]
    if total is None:  # no doc has two tokens: empty result frame
        pairs.unpersist()
        return pairs.withColumn("pmi", F.lit(0.0)).where(F.lit(False))
    first = pairs.groupBy("w1").agg(F.sum("n_pair").alias("n_first"))
    second = pairs.groupBy("w2").agg(F.sum("n_pair").alias("n_second"))
    out = (
        pairs.where(F.col("n_pair") >= min_count)
        .join(first, "w1")
        .join(second, "w2")
        .select(
            "w1", "w2", "n_pair",
            F.round(
                F.log(F.col("n_pair").cast("double") * F.lit(float(total))
                      / (F.col("n_first").cast("double")
                         * F.col("n_second").cast("double"))),
                round_to,
            ).alias("pmi"),
        )
    )
    out = out.localCheckpoint()
    pairs.unpersist()
    return out


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
    top_n: int = 1000,
    min_terms: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Corpus-health statistics per group (or one global row when
    ``group_col`` is None): least-squares slope/intercept of
    ``ln(frequency)`` on ``ln(rank)`` over the ``top_n`` most frequent
    terms, plus the type and token counts behind them ->
    ``(group?, n_types, n_tokens, zipf_slope, zipf_intercept)``.
    Natural language sits near slope -1 (Zipf's law); boilerplate/spam
    shards drift toward 0 (flat: templated vocabulary reuse) or below
    -1.5 (a few tokens dominating) — a standard quality gate for
    pretraining shards. Groups with fewer than ``min_terms`` distinct
    terms are dropped (a 2-point regression is noise).

    Scale shape: corpus-sized data crosses ONE map-side-combined
    groupBy (term counts); everything after is vocabulary-sized — a
    rank window partitioned by group (capped at ``top_n`` rows per
    group before the closed-form slope aggregate, so no group's
    vocabulary ever sits whole on one reducer for the regression).
    Ties rank deterministically by (count desc, term asc). Closed form:
    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), all-DOUBLE — the q67
    DuckDB oracle replays the identical arithmetic, round-6 contract.
    """
    grp = (F.col(group_col) if group_col is not None
           else F.lit("_all")).alias("grp")
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \t\n\x0b\f\r]+"),
        lambda t: t != F.lit(""))
    counts = (
        df.select(grp, F.explode(toks).alias("term"))
        .groupBy("grp", "term")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("cnt"), F.asc("term"))
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select(
            "grp", "cnt",
            F.log(F.col("rank").cast("double")).alias("_x"),
            F.log(F.col("cnt").cast("double")).alias("_y"),
        )
    )
    n = F.count("*").cast("double")
    sx, sy = F.sum("_x"), F.sum("_y")
    sxx, sxy = F.sum(F.col("_x") * F.col("_x")), F.sum(F.col("_x") * F.col("_y"))
    denom = n * sxx - sx * sx
    out = (
        ranked.groupBy("grp")
        .agg(
            F.count("*").alias("n_types"),
            F.sum("cnt").alias("n_tokens"),
            ((n * sxy - sx * sy) / denom).alias("_slope"),
            ((sy * sxx - sx * sxy) / denom).alias("_icept"),
        )
        .where(F.col("n_types") >= min_terms)
        .select(
            "grp", "n_types", "n_tokens",
            F.round("_slope", round_to).alias("zipf_slope"),
            F.round("_icept", round_to).alias("zipf_intercept"),
        )
    )
    if group_col is not None:
        return out.withColumnRenamed("grp", group_col)
    return out.select("n_types", "n_tokens", "zipf_slope", "zipf_intercept")


def bigram_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    add-k-smoothed BIGRAM LM — one modeling step past
    unigram_logprob_score's bag-of-words fluency proxy: word-ORDER
    violations (shuffled text, template soup, keyword stuffing) now
    score high even when every token is common.
    ``p(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k*V)`` with ``c(w1·)`` the
    bigram-prefix marginal and ``V`` the corpus unigram vocabulary
    size; ``nll = -mean ln p`` over the doc's consecutive pairs.
    Output: (id, n_bigrams, nll); docs with < 2 tokens produce no row.

    Scale shape: ONE explode + map-side-combined bigram count (the only
    corpus-wide wide op; persisted — it feeds the prefix marginal AND
    the scoring join); marginals and the scalar V are vocabulary-sized
    derivatives of that counted frame; scoring joins are AQE-broadcast
    when the vocabulary fits (same argument as pmi_bigrams). Smoothing
    arithmetic is exact-integer-fed doubles, so only the per-doc mean
    carries the established round-``round_to`` float contract (q85
    oracle).
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \t\n\x0b\f\r]+"),
        lambda t: t != F.lit(""))
    base = df.select(F.col(id_col).alias("id"), toks.alias("_tk"))
    # vocabulary size over ALL tokens (not just bigram prefixes)
    vocab = base.select(F.explode("_tk").alias("t")).agg(
        F.countDistinct("t")).first()[0]
    bg = (
        base.where(F.size("_tk") >= 2)
        .select("id", F.explode(F.expr(
            "transform(sequence(0, size(_tk) - 2),"
            " i -> struct(_tk[i] AS w1, _tk[i + 1] AS w2))")).alias("_bg"))
        .select("id", "_bg.w1", "_bg.w2")
    ).persist()
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("_c12")).persist()
    c1 = c12.groupBy("w1").agg(F.sum("_c12").alias("_c1"))
    if vocab is None or vocab == 0:  # no tokens anywhere: empty result
        return bg.select(
            "id", F.lit(0).cast("long").alias("n_bigrams"),
            F.lit(0.0).alias("nll")).where(F.lit(False))
    kv = float(add_k) * float(int(vocab))
    nl = -F.log(
        (F.col("_c12") + F.lit(float(add_k)))
        / (F.col("_c1") + F.lit(kv)))
    return (
        bg.join(c12, ["w1", "w2"]).join(c1, "w1")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum(nl) / F.count("*"), round_to).alias("nll"),
        )
    )


def oov_rate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    frequency-pruned vocabulary (terms in >= ``min_df`` docs) — the
    tokenizer-prep diagnostic: docs full of hapax soup (OCR noise,
    base64, code minification) spike here and get gated before
    vocabulary induction. Output: (id, n_tok, n_oov, oov_ratio).

    Scale shape: ONE map-side-combined (doc, term) count (persisted —
    it feeds the doc-frequency agg AND the scoring join); the pruned
    vocabulary is vocab-sized and the membership check a broadcast
    LEFT join (NULL => OOV). Fully SQL-expressible => full q99 oracle.
    """
    tf = term_frequencies(df, id_col, text_col).persist()
    vocab = (
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("term", F.lit(1).alias("_in"))
    )
    return (
        tf.join(F.broadcast(vocab), "term", "left")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tok"),
            F.sum(F.when(F.col("_in").isNull(), F.col("tf"))
                  .otherwise(F.lit(0))).alias("n_oov"),
        )
        .select(
            "id", "n_tok", "n_oov",
            F.round(
                F.col("n_oov").cast("double")
                / F.col("n_tok").cast("double"), round_to
            ).alias("oov_ratio"),
        )
    )
