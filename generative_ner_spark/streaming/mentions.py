"""Structured-Streaming stages over interleaved documents.

The reference is batch-only (no streaming code exists in the repo — verified
in SURVEY.md §1.3). These are the stateful continuous-ingest stages:
tumbling-window mention counts under a watermark, first-seen dedup with
TTL state, and a per-key throttle. The window builder also runs in batch
(q35), and first-seen dedup has a deterministic batch twin (q36).

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


def _fingerprinted(docs: DataFrame, ts_col: str) -> DataFrame:
    """Shared key derivation for the dedup stage and its batch replay:
    (doc_id, ingest_ts, fingerprint = md5 of the normalized concatenated
    text spans — the SAME key the batch exact-dedup operator uses)."""
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
    return flat.withColumn(
        "fingerprint",
        F.when(F.col("text") != "", fingerprint_col("text"))
        .otherwise(F.md5(F.concat(F.lit("media:"), F.col("_media_refs")))),
    ).drop("_media_refs")


def first_seen_dedup_batch_replay(docs: DataFrame,
                                  ts_col: str = "ingest_ts") -> DataFrame:
    """Deterministic BATCH twin of streaming_first_seen_dedup: same
    fingerprint key (via the shared ``_fingerprinted`` derivation), same
    output schema, first (ingest_ts, doc_id) occurrence per fingerprint
    survives. This puts the dedup KEY and within-batch selection
    semantics under the DuckDB driver oracle (q36). Two streaming-only
    behaviors stay pinned by the streaming pytest suite instead: TTL
    state expiry/re-emission, and cross-batch ARRIVAL ordering — the
    stream keeps the first batch's row even if a later batch delivers an
    earlier event-time row within the watermark, whereas this twin picks
    the event-time-global minimum."""
    from pyspark.sql import Window

    flat = _fingerprinted(docs, ts_col)
    w = Window.partitionBy("fingerprint").orderBy("ingest_ts", "doc_id")
    return (
        flat.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("fingerprint", "doc_id", "ingest_ts")
    )


def streaming_first_seen_dedup(
    docs_stream: DataFrame,
    ts_col: str = "ingest_ts",
    watermark_delay: str = "10 minutes",
    dedup_ttl_minutes: int = 30,
) -> DataFrame:
    """CUSTOM stateful streaming operator (applyInPandasWithState):
    cross-micro-batch exact dedup of a document stream.

    Emits only the FIRST occurrence of each fingerprint (md5 of the
    normalized concatenated text spans — the same key the batch exact-dedup
    operator uses — with a media-ref fallback key for media-only docs);
    later arrivals of the same fingerprint are suppressed. Selection is
    ARRIVAL-ordered across micro-batches (the streaming-native contract:
    the first batch to see a fingerprint wins, earliest (event time,
    doc_id) within that batch) — a late-but-in-watermark row in a LATER
    batch does not retroactively replace the emitted row, unlike the
    event-time-global batch twin (first_seen_dedup_batch_replay).
    Per-fingerprint state self-expires via an EVENT-TIME timeout once the
    watermark passes first_seen + ttl, so state is bounded by the distinct
    documents per TTL window, never by stream lifetime — the property that
    makes continuous ingest dedup feasible at 10^12-doc scale.

    Timeout semantics (Spark contract, pinned in tests): a group's timeout
    fires in a batch where the watermark has passed its timeout timestamp
    AND the group received no data in that batch; the state is removed and
    a later re-arrival of the same fingerprint is emitted again (dedup
    "forgets" after the TTL, exactly like a TTL'd bloom/KV dedup layer).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    flat = (
        _fingerprinted(docs_stream, ts_col)
        # epoch ms computed JVM-SIDE: Arrow hands the python UDF a
        # session-timezone-naive timestamp, so pandas .value would be
        # off by the UTC offset on any non-UTC session — the timeout
        # would land behind the watermark (query crash) or inflate TTL.
        # NB: 'ingest_ts', not ts_col — _fingerprinted has already renamed
        # the timestamp column (a non-default ts_col otherwise throws
        # UNRESOLVED_COLUMN here, matching the withWatermark below)
        .withColumn("_ts_ms", F.unix_millis(F.col("ingest_ts")))
        .withWatermark("ingest_ts", watermark_delay)
    )
    ttl_ms = dedup_ttl_minutes * 60_000

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            # duplicate arrivals inside the TTL: suppressed WITHOUT
            # consuming the arrow batches — in a dedup stream duplicates
            # are the hot path, and materializing them just to discard
            # would be pure wasted copy at ingest scale
            return
        import pandas as _pd

        rows = _pd.concat(list(pdfs))
        first = rows.sort_values(["_ts_ms", "doc_id"]).iloc[0]
        first_ms = int(first["_ts_ms"])
        state.update((first_ms,))
        state.setTimeoutTimestamp(first_ms + ttl_ms)
        yield _pd.DataFrame({
            "fingerprint": [key[0]],
            "doc_id": [first["doc_id"]],
            "ingest_ts": [first["ingest_ts"]],
        })

    return flat.groupBy("fingerprint").applyInPandasWithState(
        fn,
        outputStructType="fingerprint string, doc_id string, "
                         "ingest_ts timestamp",
        stateStructType="first_seen_ms long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_throttle(
    events_stream: DataFrame,
    key_col: str = "user_id",
    id_col: str = "event_id",
    ts_col: str = "ingest_ts",
    quiet_seconds: int = 3600,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """CUSTOM stateful streaming operator (applyInPandasWithState):
    per-key event throttling — the STREAMING twin of
    temporal.throttle_events ("emit at most one row per key per quiet
    period"; the batch operator's identical island semantics sit under
    the q91 DuckDB oracle). An event is emitted iff its key saw NO
    event in the preceding ``quiet_seconds``; every event — emitted or
    suppressed — advances the key's quiet clock (state = last SEEN
    event time, the gap-island contract, exactly the batch twin's lag
    comparison). Within a batch rows process in (event time, id)
    order; across batches the contract is arrival-ordered, like
    streaming_first_seen_dedup.

    State bounding is SEMANTICS-FREE here (nicer than the dedup op's
    TTL): the state times out once the watermark passes
    last_seen + quiet — at which point ANY future arrival is
    necessarily past the quiet period, so forgetting the key changes
    no decision; state is bounded by keys active per quiet window.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    flat = (
        events_stream.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(id_col).cast("string").alias("event_id"),
            F.col(ts_col).alias("ingest_ts"),
        )
        # epoch ms JVM-side — same Arrow-timezone hazard as the dedup op
        .withColumn("_ts_ms", F.unix_millis(F.col("ingest_ts")))
        .withWatermark("ingest_ts", watermark_delay)
    )
    quiet_ms = int(quiet_seconds) * 1000

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        import pandas as _pd

        rows = _pd.concat(list(pdfs)).sort_values(["_ts_ms", "event_id"])
        last = state.get[0] if state.exists else None
        keep_idx = []
        for idx, ts in zip(rows.index, rows["_ts_ms"]):
            ts = int(ts)
            if last is None or ts - last > quiet_ms:
                keep_idx.append(idx)
            last = ts  # suppressed events still advance the clock
        state.update((int(last),))
        state.setTimeoutTimestamp(int(last) + quiet_ms)
        if keep_idx:
            yield rows.loc[keep_idx, ["key", "event_id", "ingest_ts"]]

    return flat.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType="key string, event_id string, "
                         "ingest_ts timestamp",
        stateStructType="last_seen_ms long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
