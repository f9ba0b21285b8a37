"""Structured-Streaming stages over interleaved documents.

The reference is batch-only (no streaming code exists in the repo — verified
in SURVEY.md §1.3). Two stages: tumbling-window mention counts under a
watermark, one builder that runs on a stream and in batch (q35), and
first-seen document dedup (q36).

At production scale this is the continuous-ingest path: readStream from the
Iceberg/Kafka landing table, watermark on ingest time if late media spans
must be reconciled (not needed for the reference's semantics — documents
are immutable rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_pattern(term: str) -> str:
    """Whole-word regex for a lexicon term, shared by the Spark operator
    AND the q35 DuckDB oracle (both engines speak the RE2/Java-regex
    common subset this emits, so the two sides stay mechanically
    identical).

    Escape + lowercase: the text side is lowercased, so an uppercase key
    would silently never match, and an unescaped metacharacter ('c++')
    would mis-match or throw at runtime. The word-boundary anchors are
    CONDITIONAL on the term edge being a word char — '\\b' next to '+'
    requires an adjacent word char, so r'\\bc\\+\\+\\b' can never match
    'use c++ here'."""
    import re as _re

    t = term.lower()
    # edge test against the ENGINES' word class, not Python's: Java regex
    # and RE2 treat \b/\w as ASCII-only while Python's \w is Unicode-
    # aware — deciding with \w would give 'café' a trailing \b that can
    # never match at a word edge in either engine (silent zero matches)
    pre = r"\b" if _re.match(r"[A-Za-z0-9_]", t) else ""
    post = r"\b" if _re.search(r"[A-Za-z0-9_]$", t) else ""
    return pre + _re.escape(t) + post


def windowed_mention_counts_stream(
    docs_stream: DataFrame,
    lexicon: dict[str, str],
    ts_col: str = "ingest_ts",
    window_duration: str = "10 minutes",
    watermark_delay: str = "5 minutes",
) -> DataFrame:
    """STATEFUL streaming stage: tumbling-window mention counts with a
    watermark bounding state and defining late-data semantics.

    A real Structured-Streaming stateful aggregation: ``withWatermark`` +
    ``groupBy(window(ts), label)``. Windows older than
    (max event time − delay) have their state EVICTED at the end of the
    batch in which the watermark crosses them — that is what makes
    unbounded ingest feasible at 10^12-doc scale. Late-row dropping
    follows Spark's documented one-directional guarantee: a row within
    the delay is always aggregated; a row beyond it is dropped once the
    window's state is evicted (measured: eviction `numRowsRemoved` in the
    crossing batch, `numRowsDroppedByWatermark` from the next batch on —
    pinned in tests).

    Mention extraction stays fully JVM-side: whole-word lexicon hits via
    ``regexp_extract_all`` over the exploded text spans (the same
    technique the kg_mention_counts oracle replays), with the regex
    passed as a literal COLUMN — ``\\b`` inside an F.expr SQL string
    would be eaten by the SQL lexer. No Python stage, so the event-time
    column flows through untouched.

    Output (streaming): (window_start, window_end, label, n_mentions);
    run with update/append output mode per sink semantics.
    """
    texts = docs_stream.select(
        F.col(ts_col).alias("_ts"),
        F.explode(F.expr("filter(spans, s -> s.kind = 'text')")).alias("_s"),
    ).select("_ts", F.lower(F.col("_s.text")).alias("_t"))
    lex = F.array(*[
        F.struct(
            F.lit(label).alias("label"),
            F.lit(word_pattern(term)).alias("pat"),
        )
        for term, label in sorted(lexicon.items())
    ])
    # counts are computed INSIDE a transform over the lexicon array and
    # only the small (label, n) structs explode — the exploded-lexicon
    # form replicated the full document text |lexicon| times on the
    # continuous-ingest hot path just to carry it to each count
    per_label = F.transform(
        lex,
        lambda p: F.struct(
            p["label"].alias("label"),
            F.size(
                F.regexp_extract_all(F.col("_t"), p["pat"], F.lit(0))
            ).alias("_n"),
        ),
    )
    mentions = (
        texts.select("_ts", F.explode(per_label).alias("_x"))
        .select("_ts", F.col("_x.label").alias("label"),
                F.col("_x._n").alias("_n"))
        .where(F.col("_n") > 0)
    )
    return (
        mentions.withWatermark("_ts", watermark_delay)
        .groupBy(F.window("_ts", window_duration).alias("_w"), "label")
        .agg(F.sum("_n").alias("n_mentions"))
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "label",
            "n_mentions",
        )
    )


def first_seen_dedup_batch_replay(docs: DataFrame,
                                  ts_col: str = "ingest_ts") -> DataFrame:
    """First-seen document dedup (q36): the first (ingest_ts, doc_id)
    occurrence of each fingerprint survives. The fingerprint is the md5
    of the normalized concatenated text spans (the key the batch
    exact-dedup operator uses), with the media-ref list as the key of a
    media-only document. Output: (fingerprint, doc_id, ingest_ts)."""
    from pyspark.sql import Window

    from generative_ner_spark.operators.quality import fingerprint_col

    flat = docs.select(
        "doc_id",
        F.col(ts_col).alias("ingest_ts"),
        F.expr(
            "concat_ws(' ', transform(filter(spans, s -> s.kind = 'text'),"
            " s -> s.text))"
        ).alias("text"),
        F.expr(
            "concat_ws(',', transform(filter(spans, s -> s.kind != 'text'),"
            " s -> s.media_ref))"
        ).alias("_media_refs"),
    )
    # media-only docs must NOT collapse onto md5('') — two unrelated
    # image-only documents share no content, so their dedup key falls
    # back to the media-ref list instead of the (empty) text
    flat = flat.withColumn(
        "fingerprint",
        F.when(F.col("text") != "", fingerprint_col("text"))
        .otherwise(F.md5(F.concat(F.lit("media:"), F.col("_media_refs")))),
    )
    w = Window.partitionBy("fingerprint").orderBy("ingest_ts", "doc_id")
    return (
        flat.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("fingerprint", "doc_id", "ingest_ts")
    )
