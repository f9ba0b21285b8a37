"""Text-analysis operators for a training-data pipeline over ``documents``.

All pure JVM-side column expressions (whole-stage codegen, no Python):
language-ID heuristic, quality scoring, token counting, normalization
(reference semantics, S23), document fingerprinting. Each has a DuckDB-
checkable SQL twin in __spark_entry__.oracle_sql().

The normalization column mirrors /root/reference/src/data/preprocessor.py:
24-37 (lower, strip ASCII punctuation except ':', collapse whitespace) —
note the column variant only covers ASCII punctuation; full Unicode parity
(the ``string.punctuation`` set IS ascii-only) holds exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ASCII punctuation minus ':' as a regex class:
# 0x21-0x2F, 0x3B-0x40, 0x5B-0x60, 0x7B-0x7E
PUNC_CLASS = r"[!-/;-@\[-`{-~]"

# small language-marker lexicons (stopword heuristic)
LANG_MARKERS = {
    "en": r"\b(the|and|of|to|in|is|for|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|mit)\b",
    "fr": r"\b(le|la|les|et|est|pas|une|dans)\b",
    "es": r"\b(el|la|los|las|es|y|no|una|para)\b",
}

EN_STOPWORDS = r"\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\b"


def normalize_text_col(col: str) -> Column:
    """normalize_answer as a codegen'd column chain (S23)."""
    c = F.lower(F.col(col))
    c = F.regexp_replace(c, PUNC_CLASS, "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def token_count_col(col: str) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    t = F.trim(F.col(col))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_ish_token_count_col(col: str) -> Column:
    """Sub-word-ish token count: split on word/number/punct boundaries
    (a cheap BPE stand-in — counts letter-runs, digit-runs and punctuation
    marks separately)."""
    return F.size(
        F.expr(f"regexp_extract_all({col}, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)")
    )


def marker_hits_col(col: str, pattern: str) -> Column:
    # pattern as a literal Column — embedding '\b' in an F.expr SQL string
    # would be parsed as a backspace escape by the SQL lexer
    return F.size(F.regexp_extract_all(F.lower(F.col(col)), F.lit(pattern), F.lit(0)))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID: argmax marker hits, 'und' when all zero.

    Ties break by language-code order (deterministic): greatest() over
    structs (hits, negated index) — single projection, no shuffle.
    """
    langs = sorted(LANG_MARKERS)  # deterministic order
    scored = df
    for lang in langs:
        scored = scored.withColumn(
            f"_hits_{lang}", marker_hits_col(text_col, LANG_MARKERS[lang])
        )
    best = F.greatest(
        *[
            F.struct(
                F.col(f"_hits_{lang}").alias("hits"),
                F.lit(-i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    return (
        scored.withColumn(
            "lang_pred",
            F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
        )
        .drop(*[f"_hits_{lang}" for lang in langs])
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: length, token count, punct ratio, stopword
    ratio, mean token length. Single narrow projection."""
    n_chars = F.length(F.col(text_col))
    n_tokens = token_count_col(text_col)
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^!-/;-@\[-`{-~]", ""))
    n_stop = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(EN_STOPWORDS), F.lit(0))
    )
    # TRUE mean over token lengths: the (chars - separators)/tokens
    # shortcut assumed exactly one separator char between tokens, so
    # runs of whitespace or padding (common in scraped corpora) inflated
    # the feature and skewed any threshold on it.
    # Computed as length(text minus all \s runs) — the concatenation of
    # the split-on-\s+ tokens is exactly the non-whitespace characters,
    # so this ONE codegen'd regex pass equals the r5 split+filter+
    # aggregate fold, whose interpreted per-token lambda dominated the
    # projection (guide §4.1: higher-order lambdas are CodegenFallback)
    token_len_sum = F.length(
        F.regexp_replace(F.col(text_col), r"\s+", ""))
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("q_punct_ratio"),
        F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6).alias("q_stopword_ratio"),
        F.round(
            token_len_sum / F.greatest(n_tokens, F.lit(1)), 6
        ).alias("q_mean_token_len"),
    )


def curate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str | None = "en",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    max_stopword_ratio: float = 1.0,
    min_stopword_ratio: float = 0.0,
) -> DataFrame:
    """End-to-end curation: quality gates + lang gate + exact-dedup keep-min.

    The standard pretraining-corpus curation chain as ONE declarative plan:
      1. quality_features + lang_id        (two narrow projections)
      2. threshold filters                  (codegen'd, pushed early)
      3. exact dedup: keep the min id per md5-of-normalized-text
         fingerprint (window over the fingerprint — the dedup groupBy
         shuffle is the plan's only exchange; fingerprints are uniform
         md5s, so no skew).

    Returns the surviving rows with (lang_pred, fingerprint, quality
    features) attached. Filters run BEFORE the dedup shuffle, so rejected
    docs never shuffle — at 100 TB that ordering is the difference between
    shuffling the corpus and shuffling the survivors.
    """
    feat = lang_id(quality_features(df, text_col), text_col)
    cond = (
        (F.col("q_n_tokens") >= min_tokens)
        & (F.col("q_n_tokens") <= max_tokens)
        & (F.col("q_stopword_ratio") <= max_stopword_ratio)
        & (F.col("q_stopword_ratio") >= min_stopword_ratio)
    )
    if lang is not None:
        cond = cond & (F.col("lang_pred") == lang)
    filtered = feat.where(cond).withColumn(
        "fingerprint", fingerprint_col(text_col)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        filtered.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _md5_mod_1m(key_col: str, salt: str) -> Column:
    """pmod(md5-prefix(salt:key), 10^6) as pure F expressions — salt and
    key never ride inside a SQL string (a quote in either would break an
    interpolated F.expr at parse time; packing._md5_key documents the
    same hazard). Shared by both sampling entry points."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    return F.pmod(h, F.lit(1_000_000))


def stratified_hash_sample(
    df: DataFrame,
    rates: dict,
    group_col: str,
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-group deterministic downsampling: each row keeps with its
    group's rate (e.g. language rebalancing: {'en': 0.5, 'de': 1.0}),
    groups absent from ``rates`` keep with ``default_rate``. One rowwise
    predicate — no shuffle, no per-group pass, exactly reproducible."""
    # O(1) Catalyst expression tree regardless of group count: the
    # thresholds ride in ONE map literal (a chained per-group CASE costs
    # O(groups) janino time — the CLAUDE.md gotcha — and a caller
    # stratifying by domain can pass thousands of groups).
    # try_element_at makes the NULL-for-absent-group contract EXPLICIT
    # (on this Spark 4.1.2 plain element_at also returns NULL for an
    # absent map key even with ANSI on — token_budget_sample relies on
    # that — but try_element_at documents the intent and is immune to
    # the strictly-raising behavior some ANSI configurations adopt).
    # round(), not int(): float artifacts (0.3 * 1e6 = 299999.99999...)
    # would truncate to 299999 and disagree with an oracle that writes the
    # intended threshold 300000
    threshold = F.lit(round(default_rate * 1_000_000))
    if rates:
        pairs: list = []
        for g, r in sorted(rates.items()):
            pairs += [F.lit(g), F.lit(round(r * 1_000_000))]
        threshold = F.coalesce(
            F.try_element_at(F.create_map(*pairs), F.col(group_col)),
            threshold,
        )
    return df.where(_md5_mod_1m(key_col, salt) < threshold)


def assign_split(
    df: DataFrame,
    weights: dict,
    key_col: str = "doc_id",
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/valid/test split assignment: every row gets the
    split whose cumulative md5-hash interval contains md5(salt:key) mod
    10^6. The split staple of a training-data pipeline done the only way
    that survives re-runs and cluster-size changes: a pure rowwise
    function of the key — no RNG, no shuffle, no sort; re-running on a
    grown corpus keeps every previously-assigned row in its split
    (hash-stable), unlike randomSplit. Weights are normalized; interval
    edges are round()ed the same way stratified_hash_sample rounds
    (cross-engine threshold parity). Split names are assigned in sorted-name order so
    the interval layout is reproducible from the dict alone.
    """
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError(f"weights must sum > 0, got {weights}")
    edges: list[tuple[str, int]] = []  # (name, exclusive upper edge)
    acc = 0.0
    for name in sorted(weights):
        acc += weights[name] / total
        edges.append((name, round(acc * 1_000_000)))
    edges[-1] = (edges[-1][0], 1_000_000)  # float-sum slack: last takes all
    h = _md5_mod_1m(key_col, salt)
    expr = F.lit(edges[-1][0])
    for name, hi in reversed(edges[:-1]):
        expr = F.when(h < F.lit(hi), F.lit(name)).otherwise(expr)
    # O(splits) CASE tree: splits are 2-5 names, never the O(groups)
    # stratified-rates hazard
    return df.withColumn(out_col, expr)


def repetition_features(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, published
    filter set): duplicate-line fraction, duplicate-line CHARACTER
    fraction, and top word-bigram coverage — the staple "is this document
    degenerate boilerplate / a scrape loop" filters for training-data
    curation.

    Output per doc: (doc_id, n_lines, dup_line_frac, dup_line_char_frac,
    top_bigram, top_bigram_count, top_bigram_char_frac), fractions rounded
    to 6 places, bigram ties broken (count desc, bigram asc). Note
    top_bigram_char_frac is count x len(bigram) / len(text): overlapping
    repeats ("w w w w") can push it above 1 — it is a repetition SIGNAL
    for thresholding, not a strict proportion.

    Distributed shape: two explode+groupBy pipelines (lines / bigrams) —
    every aggregation is keyed on the uniform doc id, so both shuffles are
    skew-free and map-side combined; the top bigram is a per-doc window
    over the already-reduced (doc, bigram, count) rows, never raw tokens.
    Fully SQL-expressible, so q33 carries a complete DuckDB oracle.
    """
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))

    lines = base.select(
        "doc_id", F.explode(F.split("_t", "\n")).alias("line")
    ).where(F.col("line") != "")
    per_line = (
        lines.groupBy("doc_id", "line")
        .agg(F.count("*").alias("c"))
        .withColumn("len", F.length("line"))
    )
    line_stats = per_line.groupBy("doc_id").agg(
        F.sum("c").alias("n_lines"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("_dup"),
        F.sum(F.col("len") * F.col("c")).alias("_chars"),
        F.sum(F.when(F.col("c") > 1, F.col("len") * F.col("c")).otherwise(0))
        .alias("_dup_chars"),
    )

    toks = ("filter(split(_t, '\\\\s+'), x -> x != '')")
    bigram_arr = (
        f"CASE WHEN size({toks}) < 2 THEN array() "
        f"ELSE zip_with(slice({toks}, 1, size({toks}) - 1), "
        f"slice({toks}, 2, size({toks}) - 1), "
        f"(a, b) -> concat(a, ' ', b)) END"
    )
    bg = base.select("doc_id", F.explode(F.expr(bigram_arr)).alias("bg"))
    bg_cnt = bg.groupBy("doc_id", "bg").agg(F.count("*").alias("bc"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("bc").desc(), F.col("bg").asc()
    )
    top = (
        bg_cnt.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", F.col("bg").alias("top_bigram"),
                F.col("bc").alias("top_bigram_count"))
    )

    # the final joins carry only (doc_id, length): shipping the full text
    # through two exchanges to feed ONE F.length() would shuffle the whole
    # corpus text at scale — the length is projected (and the text dropped)
    # BEFORE any join; the lines/bigram pipelines consumed the text upstream
    lens = base.select("doc_id", F.length("_t").alias("_tlen"))
    return (
        lens.join(line_stats, "doc_id", "left")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.round(
                F.coalesce(F.col("_dup") / F.col("n_lines"), F.lit(0.0)), 6
            ).alias("dup_line_frac"),
            F.round(
                F.coalesce(F.col("_dup_chars") / F.col("_chars"), F.lit(0.0)), 6
            ).alias("dup_line_char_frac"),
            F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
            F.coalesce("top_bigram_count", F.lit(0)).alias("top_bigram_count"),
            F.round(
                F.coalesce(
                    F.col("top_bigram_count") * F.length("top_bigram")
                    / F.greatest(F.col("_tlen"), F.lit(1)),
                    F.lit(0.0),
                ),
                6,
            ).alias("top_bigram_char_frac"),
        )
    )


def fingerprint_col(col: str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    Exact-dedup key; identical across engines (md5 is md5), unlike
    xxhash64 which is Spark-specific.
    """
    return F.md5(normalize_text_col(col))


def minhash_signature_col(col: str, n: int = 5) -> Column:
    """Cross-engine MinHash scalar: min(md5(n-gram shingle)) over the text.

    md5-based so a DuckDB oracle computes the identical value; the
    xxhash64 family (canonicalize.py) is the fast path, this is the
    verifiable path.
    """
    return F.expr(
        f"array_min(transform(sequence(1, greatest(length({col}) - {n - 1}, 1)), "
        f"i -> md5(substring({col}, i, {n}))))"
    )


def capped_group_sample(
    df: DataFrame,
    group_col: str,
    n: int,
    key_col: str = "doc_id",
    salt: str = "cap",
    salt_buckets: int = 32,
) -> DataFrame:
    """Keep at most ``n`` rows per group — the n with the smallest
    (md5(salt:key), key) rank — deterministically and skew-proof.

    The domain-balancing staple (CCNet/Dolma: "at most N pages per
    domain"): reproducible on any cluster size because the rank is a
    pure hash, no RNG, no sort-the-corpus.

    A single window over ``group_col`` would put a hot group (one
    domain = half the web) on ONE reducer. Two phases instead:

    1. rank within (group, hash-salt bucket) — each bucket sees
       ~1/salt_buckets of the group, so the worst reducer holds
       |hottest group| / salt_buckets rows — and keep n per bucket;
    2. rank the <= salt_buckets * n survivors per group globally
       (tiny by construction).

    Exact: any row in a group's global top-n by (rank, key) is also in
    the top-n of its own bucket, so phase 1 never evicts a winner.
    Output = input columns (internal rank/bucket columns dropped).
    """
    from pyspark.sql import Window

    rank = _md5_rank(key_col, salt)
    bucket = F.pmod(F.xxhash64(F.concat(F.lit("capb:"),
                                        F.col(key_col).cast("string"))),
                    F.lit(salt_buckets))
    staged = df.withColumn("_rk", rank).withColumn("_bk", bucket)
    w1 = Window.partitionBy(group_col, "_bk").orderBy("_rk", key_col)
    phase1 = (
        staged.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= n)
        .drop("_rn", "_bk")
    )
    w2 = Window.partitionBy(group_col).orderBy("_rk", key_col)
    return (
        phase1.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= n)
        .drop("_rn", "_rk")
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict,
    group_col: str = "source",
    weight_col: str = "n_tokens",
    key_col: str = "doc_id",
    salt: str = "budget",
    n_segments: int = 64,
    default_budget: int | None = None,
) -> DataFrame:
    """Deterministic data-mixture sampling: per ``group_col`` (source/
    domain/language), keep rows in md5-rank order until the group's
    token budget is exhausted — THE mixture-construction op for LLM
    training ("x tokens of web, y of code, z of books").

    A row survives iff its group's cumulative ``weight_col`` over the
    (md5(salt:key), key) order, INCLUSIVE of the row, is <= the group's
    budget (so a budget below the first row's weight keeps nothing).
    Groups absent from ``budgets`` fall back to ``default_budget``;
    None drops them (sources outside the mixture spec contribute zero).
    Pure hash order — no RNG, reproducible on any cluster size, and a
    budget INCREASE only ever adds rows (the kept set is a prefix).

    Scale shape — the naive encoding (one window per group) puts a hot
    group (one source = half the corpus) on ONE reducer for a full
    prefix sum. Distributed prefix-sum instead:

    1. segment the 60-bit rank space into ``n_segments`` contiguous
       ranges (uniform hash => balanced segments);
    2. per-(group, segment) subtotals: a map-side-combined agg, output
       |groups| x n_segments rows;
    3. running offsets over that TINY frame (window over segments);
    4. offsets broadcast back; the full data shuffles ONCE on
       (group, segment) — worst reducer = |hottest group|/n_segments —
       and the within-segment cumsum + offset is the exact global
       per-group prefix sum.

    The budget lookup is an O(1) map literal (element_at), not a
    chained CASE — the Catalyst-tree gotcha with thousands of groups.
    Output = input columns. DuckDB replays the semantics as one plain
    window cumsum (q51).
    """
    from pyspark.sql import Window

    rank = _md5_rank(key_col, salt)
    seg_w = (1 << 60) // n_segments + 1
    staged = (
        df.withColumn("_rk", rank)
        # integer DIV: a double-rounded division near 2^60 could
        # mis-segment a row and corrupt the prefix sum
        .withColumn("_seg", F.expr(f"CAST(_rk DIV {seg_w} AS INT)"))
        .withColumn("_w", F.coalesce(F.col(weight_col).cast("long"),
                                     F.lit(0)))
    )
    subtotal = staged.groupBy(group_col, "_seg").agg(
        F.sum("_w").alias("_sw"))
    woff = (Window.partitionBy(group_col).orderBy("_seg")
            .rowsBetween(Window.unboundedPreceding, -1))
    offsets = subtotal.select(
        group_col, "_seg",
        F.coalesce(F.sum("_sw").over(woff), F.lit(0)).alias("_off"))
    wseg = (Window.partitionBy(group_col, "_seg")
            .orderBy("_rk", key_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (
        staged.join(F.broadcast(offsets), [group_col, "_seg"])
        .withColumn("_cum", F.col("_off") + F.sum("_w").over(wseg))
    )
    if budgets:
        pairs = [x for kv in sorted(budgets.items())
                 for x in (F.lit(kv[0]), F.lit(int(kv[1])))]
        b = F.element_at(F.create_map(*pairs), F.col(group_col))
    else:
        b = F.lit(None).cast("long")
    if default_budget is not None:
        b = F.coalesce(b, F.lit(int(default_budget)))
    return (cum.where(F.col("_cum") <= b)
            .drop("_rk", "_seg", "_w", "_sw", "_off", "_cum"))


def _md5_rank(key_col: str | Column, salt: str) -> Column:
    """Full 60-bit md5-prefix rank (the sampling family's hash without
    the modulus) — cross-engine: DuckDB replays it as
    CAST('0x' || substring(md5(...), 1, 15) AS BIGINT). The ONE home of
    this expression — cluster.py's k-means seeding imports it too, so
    the pinned DuckDB replay can never drift per consumer."""
    col = key_col if isinstance(key_col, Column) else F.col(key_col)
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), col.cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")


def grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: tuple = (0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Per-group quantiles of a numeric column -> (group, p, q) rows.

    Corpus length/score distribution reporting. Spark's exact
    ``percentile`` (linear interpolation, the same definition as
    DuckDB/ANSI quantile_cont — hash-matchable); its aggregation buffer
    holds the group's distinct values: fine for per-group stats over a
    few groups, not for one huge ungrouped column. Output q rounded to
    6dp for stable value hashing.
    """
    plist = [float(p) for p in probs]
    agg = F.percentile(F.col(value_col), F.array(*[F.lit(p) for p in plist]))
    out = df.groupBy(group_col).agg(agg.alias("_qs"))
    return out.select(
        group_col,
        F.posexplode("_qs").alias("_i", "q"),
    ).select(
        group_col,
        F.element_at(F.array(*[F.lit(p) for p in plist]),
                     F.col("_i") + 1).alias("p"),
        F.round(F.col("q").cast("double"), 6).alias("q"),
    )


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    key_col: str = "doc_id",
    salt: str = "wsamp",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row gets priority u^(1/w) for a hash-derived
    uniform u in (0, 1]; the top ``n`` priorities are exactly a weighted
    sample without replacement. The curation staple "sample 1M docs
    proportional to token count / quality score" — reproducible on any
    cluster size because u comes from the md5 rank, no RNG.

    We order by the priority's log, ln(u)/w, descending (monotone in
    u^(1/w); no pow underflow for tiny weights). Rows with NULL or
    non-positive weight are never selected. Ties (same priority) break
    by ``key_col``. Output = input columns, the ``n`` winners.

    Scale shape: orderBy+limit — Catalyst's TakeOrderedAndProject keeps
    a bounded top-n per partition and merges n*partitions rows on the
    driver: no full sort, no full shuffle; sized for n up to ~millions,
    not a 10%-of-corpus cut (use token_budget_sample /
    stratified_hash_sample for rate sampling).

    The q53 oracle replays ln((rk+1)/2^60)/w in DuckDB: both engines
    evaluate IEEE-double ln/div on identical inputs, so the ordering —
    and with the deterministic tie-break, the winner set — agrees.
    """
    rk = _md5_rank(key_col, salt)
    u = (rk + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    w_ok = F.col(weight_col).cast("double")
    es = F.log(u) / w_ok  # ln(u) <= 0; larger (closer to 0) wins
    return (
        df.where(w_ok.isNotNull() & (w_ok > 0))
        .withColumn("_es", es)
        .orderBy(F.desc("_es"), key_col)
        .limit(n)
        .drop("_es")
    )


def filter_by_group_quantile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    prob: float = 0.5,
) -> DataFrame:
    """Relative per-group gating: keep rows whose ``value_col`` is >=
    their OWN group's ``prob``-quantile — the CCNet-style per-language
    threshold ("keep each language's better half"), which an absolute
    global cutoff can't express (it would empty low-resource groups).

    Scale shape: ONE map-side-combined groupBy computes the per-group
    threshold (group-count-sized output, broadcast back). The filter
    itself is a codegen comparison.

    Cross-engine exactness of the boundary (why q72 can hash-match):
    linear interpolation lands either ON an order statistic (frac 0, or
    equal neighbors — computed exactly as that value in any engine) or
    STRICTLY BETWEEN two consecutive order statistics, where no row
    value can sit; so the >=/<= comparison never depends on float
    rounding of the interpolation.
    """
    thr = df.groupBy(group_col).agg(
        F.percentile(F.col(value_col), F.lit(float(prob))).alias("_thr"))
    return (df.join(F.broadcast(thr), group_col)
            .where(F.col(value_col) >= F.col("_thr")).drop("_thr"))


def hashed_quality_score(
    df: DataFrame,
    threshold: float = 0.0,
    salt: str = "qw",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Hashing-trick linear quality classifier — the distributed shape of
    the fastText/logistic quality filters CCNet, Gopher and Dolma gate
    web documents with: each token indexes a fixed weight table via a
    hash (no vocabulary file ships to executors), the document score is
    the mean token weight, and ``keep`` is a threshold on it. Here the
    weight table is the md5-derived pseudo-table of INTEGER
    micro-weights ``(md5(salt:token) mod 10^6) - 500000`` (i.e. token
    weight = that over 10^6, in [-0.5, 0.5)) — deterministic, engine-
    replayable, and exactly the plumbing a trained weight vector drops
    into (swap the hash-derived weight for
    ``try_element_at(weight_map, hash mod D)``).

    Adds ``quality_score`` (mean token weight, round-``round_to``; NULL
    for token-less docs) and ``keep`` (score >= threshold; false when
    NULL). ZERO shuffle, zero Python: one narrow whole-stage-codegen
    projection — tokens never explode, the mean is a single aggregate
    HOF over the token array, O(1) Catalyst tree. This is the only
    acceptable shape for a touch-every-byte scoring pass at 100 TB
    (same argument as pii.py). Accumulation is EXACT long arithmetic
    (|sum| <= 5*10^5 * n_tokens — nowhere near the ANSI overflow
    line), so the mean is two float ops from identical integers on
    every engine: no summation-order drift, the q78 oracle hashes
    exactly.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \t\n\x0b\f\r]+"),
        lambda t: t != F.lit(""))

    def _w(t):
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:"), t)), 1, 15),
            16, 10,
        ).cast("long")
        return F.pmod(h, F.lit(1_000_000)) - F.lit(500_000)

    total = F.aggregate(
        F.transform(F.col("_tk"), _w), F.lit(0).cast("long"),
        lambda acc, v: acc + v)
    # try_divide: ANSI mode raises DIVIDE_BY_ZERO on double zero
    # denominators, and token-less docs are a legal input
    score = F.round(
        F.try_divide(total.cast("double") / F.lit(1_000_000.0),
                     F.size("_tk")),
        round_to)
    return (
        df.withColumn("_tk", toks)
        .withColumn("quality_score", score)
        .withColumn(
            "keep",
            F.coalesce(F.col("quality_score") >= F.lit(float(threshold)),
                       F.lit(False)))
        .drop("_tk")
    )


def bucket_by_group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "bucket",
) -> DataFrame:
    """Per-group quantile BUCKETING — the CCNet head/middle/tail split:
    each row is labeled by where its ``value_col`` falls among its OWN
    group's terciles ("head" iff value <= the 1/3 quantile, else
    "middle" iff value <= the 2/3 quantile, else "tail"). With value =
    perplexity/NLL and group = language this is exactly CCNet §4.3's
    per-language quality tiers; filter_by_group_quantile is the
    one-threshold special case that DROPS a side, this keeps every row
    and labels it.

    Scale shape: ONE map-side-combined groupBy computes both thresholds
    per group (group-count-sized, broadcast back); the labeling is a
    codegen CASE over two comparisons — not O(groups). Boundary
    cross-engine exactness: same argument as filter_by_group_quantile
    (the interpolated quantile is an order statistic or strictly between
    two — no row value can sit on a float-ambiguous edge), so the q81
    oracle hash-matches.
    """
    thr = df.groupBy(group_col).agg(F.percentile(
        F.col(value_col), F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0))
    ).alias("_thr"))
    label = (
        F.when(F.col(value_col) <= F.element_at("_thr", 1), F.lit("head"))
        .when(F.col(value_col) <= F.element_at("_thr", 2), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (df.join(F.broadcast(thr), group_col)
            .withColumn(out_col, label).drop("_thr"))


def group_percent_rank(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "pct",
    round_to: int = 6,
) -> DataFrame:
    """Per-group CDF normalization: ``out_col = percent_rank()`` of
    ``value_col`` WITHIN its group — the score-calibration primitive
    for mixing heterogeneous quality signals ("is this doc in its
    language's top 10% by NLL?" composes across languages where raw
    values don't). 0 for the group's minimum, 1 for its maximum, equal
    values share a rank (deterministic without a tiebreak column);
    single-row groups get 0.

    Scale shape: ONE window Exchange on the group key; the rank
    arithmetic is exact integers over (n-1), so the q87 oracle is
    float-exact."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    return df.withColumn(
        out_col, F.round(F.percent_rank().over(w), round_to))


def mixed_language_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
) -> DataFrame:
    """Document-level language-consistency check — the Dolma/CCNet-style
    mixed-language flag: chunk each doc into fixed ``chunk_tokens``
    windows (no overlap), language-ID each chunk independently, and
    report ``(id, n_chunks, major_lang, n_major, mixed_ratio)`` where
    ``major_lang`` is the most common chunk language (ties: smaller
    code; 'und' counts like any other) and ``mixed_ratio`` the fraction
    of chunks disagreeing with it. A translated-half page or template
    soup scores high where a doc-level argmax would average it away.

    Scale shape: chunking and per-chunk lang-ID are pure narrow codegen
    (chunk_documents + lang_id — no UDF, no shuffle); the only wide ops
    are slim (id, lang) count aggs and an id-keyed argmax window — the
    chunk TEXT never crosses an exchange. Fully SQL-expressible =>
    full q88 oracle.
    """
    from pyspark.sql import Window

    from generative_ner_spark.operators import packing

    chunks = packing.chunk_documents(
        df, id_col=id_col, text_col=text_col,
        chunk_tokens=chunk_tokens, overlap=0)
    tagged = lang_id(
        chunks.select(id_col, "chunk_id",
                      F.col("chunk_text").alias("_ct")),
        "_ct",
    )
    counts = tagged.groupBy(id_col, "lang_pred").agg(
        F.count("*").alias("_n"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("_n").desc(), F.col("lang_pred").asc())
    major = counts.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1)
    totals = counts.groupBy(id_col).agg(F.sum("_n").alias("n_chunks"))
    return (
        major.join(totals, id_col)
        .select(
            id_col,
            "n_chunks",
            F.col("lang_pred").alias("major_lang"),
            F.col("_n").alias("n_major"),
            F.round(
                F.lit(1.0)
                - F.col("_n").cast("double")
                / F.col("n_chunks").cast("double"),
                6,
            ).alias("mixed_ratio"),
        )
    )


def iqr_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    factor: float = 1.5,
    round_to: int = 6,
) -> DataFrame:
    """Tukey-fence outlier flagging PER GROUP: a row is an outlier iff
    its value falls outside ``[q1 - factor*iqr, q3 + factor*iqr]`` of
    its OWN group — the standard data-quality gate ("absurdly long docs
    for this language") that a global fence can't express. Adds
    ``lo_fence`` / ``hi_fence`` (round-``round_to``) and
    ``is_outlier``; keeps every row (flagging, not filtering — chain
    ``.where(~is_outlier)`` to drop).

    Scale shape: ONE map-side-combined percentile agg per group
    (group-count-sized, broadcast back), then a codegen comparison.
    Fences are ROUNDED before comparison on both engines — unlike the
    bare quantile gate (q72), fence arithmetic can land between order
    statistics, so the round-6 grid is the documented cross-engine
    contract (q97 oracle).
    """
    thr = df.groupBy(group_col).agg(F.percentile(
        F.col(value_col), F.array(F.lit(0.25), F.lit(0.75))).alias("_q"))
    thr = thr.select(
        group_col,
        F.round(
            F.element_at("_q", 1)
            - F.lit(float(factor))
            * (F.element_at("_q", 2) - F.element_at("_q", 1)),
            round_to,
        ).alias("lo_fence"),
        F.round(
            F.element_at("_q", 2)
            + F.lit(float(factor))
            * (F.element_at("_q", 2) - F.element_at("_q", 1)),
            round_to,
        ).alias("hi_fence"),
    )
    return df.join(F.broadcast(thr), group_col).withColumn(
        "is_outlier",
        (F.col(value_col) < F.col("lo_fence"))
        | (F.col(value_col) > F.col("hi_fence")),
    )


def corpus_health_report(df: DataFrame, text_col: str = "text") -> DataFrame:
    """ONE-row corpus dashboard — the numbers a curation run logs before
    and after every stage: ``n_docs``, ``n_tokens`` (whitespace),
    ``n_distinct_terms`` (lowercased vocabulary), ``exact_dup_ratio``
    (1 − distinct md5(text)/docs) and ``mean_doc_tokens`` (round-6).

    Scale shape: one pass for the rowwise aggregates (count / sum /
    distinct-hash), one explode + distinct-count for the vocabulary —
    both map-side combined; the two one-row frames cross-join. Fully
    SQL-expressible => full q100 oracle.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \t\n\x0b\f\r]+"),
        lambda t: t != F.lit(""))
    base = df.select(toks.alias("_tk"), F.md5(F.col(text_col)).alias("_h"))
    row = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("_tk")).alias("n_tokens"),
        F.countDistinct("_h").alias("_nd"),
    )
    vocab = base.select(F.explode("_tk").alias("t")).agg(
        F.countDistinct("t").alias("n_distinct_terms"))
    # try_divide: an EMPTY corpus (every row gated out by an earlier
    # stage) is a legal before/after input, and ANSI mode raises
    # DIVIDE_BY_ZERO on the n_docs=0 double division — the report must
    # return its zero row, not crash the logging stage
    return row.crossJoin(vocab).select(
        "n_docs", "n_tokens", "n_distinct_terms",
        F.round(
            F.lit(1.0) - F.try_divide(
                F.col("_nd").cast("double"),
                F.col("n_docs").cast("double")), 6
        ).alias("exact_dup_ratio"),
        F.round(
            F.try_divide(F.col("n_tokens").cast("double"),
                         F.col("n_docs").cast("double")), 6
        ).alias("mean_doc_tokens"),
    )
