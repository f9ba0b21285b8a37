"""Temporal joins over event streams — the as-of join ("attach the most
recent right-side row at-or-before each left row, per key") that powers
point-in-time feature lookup, last-touch attribution, and replay joins.
Spark has no native ASOF JOIN; the naive encodings are a range join
(O(n x m) nested loop) or a per-key collect — both scale-killers.

Distributed shape, sized for 100 TB: the single-shuffle union trick.
Tag both sides, union by name, and run ONE window over (key, ts, side):
``last(right_payload, ignorenulls=True)`` with a rows-unbounded-preceding
frame hands every left row the latest right struct at-or-before it. One
Exchange on the join key for both inputs combined, no range explosion,
no driver state; skew follows the key distribution exactly like any
keyed window (same argument as sessionization).

Determinism contract: right rows sort by (ts, seq) inside the window —
pass ``right_seq_col`` when one key can carry duplicate right timestamps,
otherwise the winner among equal-ts rows would be partition-order
dependent. DuckDB's native ASOF JOIN replays the semantics as the q46
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from generative_ner_spark.plans.session import checkpoint_observed


def _micros(c):
    """Integer-microsecond epoch for TIMESTAMP or TIMESTAMP_NTZ input.

    ``unix_micros`` only accepts TIMESTAMP; parquet event tables often
    carry TIMESTAMP_NTZ. The session timezone is pinned to UTC
    (plans/session.py), so the NTZ->TIMESTAMP cast is the identity on
    the underlying micros — exact and monotone, matching how DuckDB's
    ``epoch_us`` reads the same parquet values.
    """
    return F.unix_micros(c.cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: list[str] | None = None,
    suffix: str = "_r",
    right_seq_col: str | None = None,
) -> DataFrame:
    """Backward as-of join: every left row gains the right row with the
    greatest ``right_ts`` <= its ``left_ts`` within the same ``key_cols``
    group (inclusive at equality), or nulls when none exists (left join).

    Output: all left columns + ``{right_ts}{suffix}`` + each payload
    column as ``{col}{suffix}``. ``right_payload`` defaults to every
    right column except keys and timestamp.
    """
    keys = list(key_cols)
    payload = (list(right_payload) if right_payload is not None
               else [c for c in right.columns
                     if c not in keys and c != right_ts])
    seq = (F.col(right_seq_col).cast("long") if right_seq_col
           else F.lit(0).cast("long"))
    # a NULL right timestamp can never be "at or before" anything — but
    # NULLS sort FIRST in the ascending window, so an unfiltered NULL-ts
    # right row would sit at the frame start and its payload would match
    # EVERY left row in the key group (DuckDB's native ASOF, the q46
    # oracle, never matches NULL ts either)
    right = right.where(F.col(right_ts).isNotNull())
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_side"),
        seq.alias("_seq"),
        F.struct(
            F.col(right_ts).alias("_rts"),
            *[F.col(c).alias(c) for c in payload],
        ).alias("_rpay"),
    )
    lf = left.select(
        "*",
        F.col(left_ts).alias("_ats"),
        F.lit(1).alias("_side"),
        F.lit(0).cast("long").alias("_seq"),
    )
    # unionByName(allowMissingColumns): left rows get a typed null _rpay,
    # right rows get nulls for the left-only columns
    u = lf.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_ats").asc(), F.col("_side").asc(),
                 F.col("_seq").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn(
        "_m", F.last("_rpay", ignorenulls=True).over(w)
    ).where(F.col("_side") == 1)
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(F.col("_m._rts").alias(f"{right_ts}{suffix}"))
    out_cols += [F.col(f"_m.{c}").alias(f"{c}{suffix}") for c in payload]
    return matched.select(*out_cols)


def sessionize(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    seq_col: str | None = None,
    value_aggs: dict | None = None,
) -> DataFrame:
    """Gap-based sessionization: per key, split the event stream into
    sessions wherever consecutive events are more than ``gap_seconds``
    apart, and aggregate each session — the batch twin of every
    clickstream/telemetry "30-minute session" definition.

    Output, one row per session: ``key_col``, ``session_idx`` (1-based per
    key, in time order), ``session_start`` / ``session_end`` (first /
    last event timestamp), ``n_events``, ``duration_us`` (microseconds,
    exact integer — no float epoch rounding), plus one column per
    ``value_aggs`` entry ``{out_name: (col, "sum"|"min"|"max"|"avg")}``.

    Semantics pinned for the cross-engine oracle (q52): gap comparison
    is STRICT (``next - prev > gap``, both in integer microseconds via
    unix_micros), ties on the timestamp break by ``seq_col`` (pass the
    event id when one key can log equal timestamps, else the session
    boundary near a tie would be partition-order dependent), and
    NULL-timestamp events are dropped (a null can't be ordered into any
    session; DuckDB's lag-over-order would sort it first instead —
    divergent, so neither engine sees it).

    Scale shape: ONE Exchange on the key — the lag/cumsum window hash-
    partitions by key, and the (key, session_idx) groupBy reuses that
    partitioning (HashPartitioning(key) satisfies the grouping's
    clustered distribution), so the session agg adds no second shuffle;
    pinned in PLANS.md + a plan test. Skew = the hottest single key,
    inherent to any per-key ordered semantics (same argument as the
    as-of join).
    """
    tie = (F.col(seq_col).cast("long") if seq_col
           else F.lit(0).cast("long"))
    base = (
        events.where(F.col(ts_col).isNotNull())
        .withColumn("_us", _micros(F.col(ts_col)))
        .withColumn("_tie", tie)
    )
    w = Window.partitionBy(key_col).orderBy("_us", "_tie")
    gap_us = int(gap_seconds) * 1_000_000
    flagged = base.withColumn(
        "_new",
        F.when(
            F.col("_us") - F.lag("_us").over(w) > F.lit(gap_us), 1
        ).otherwise(  # first row per key: lag is NULL -> when() falls
            F.when(F.lag("_us").over(w).isNull(), 1).otherwise(0)
        ),
    )
    sess = flagged.withColumn(
        "_sess",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("_us") - F.min("_us")).alias("duration_us"),
    ]
    for out_name, (col, how) in sorted((value_aggs or {}).items()):
        aggs.append(getattr(F, how)(col).alias(out_name))
    return (
        sess.groupBy(key_col, F.col("_sess").alias("session_idx"))
        .agg(*aggs)
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    key_cols: list[str] | str,
    point_ts: str = "ts",
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_seconds: int = 3600,
    suffix: str = "_iv",
) -> DataFrame:
    """Range (interval) join: every point row pairs with every interval
    row of the same key whose ``[lo, hi]`` contains the point's
    timestamp (both bounds inclusive) — event-in-window attribution,
    outage overlap, feature windows. Inner join; a point inside k
    intervals yields k rows.

    Spark's native encoding of ``ON key = key AND ts BETWEEN lo AND hi``
    is an equi-join on the key with the range as a post-filter — fine
    until one key is hot, fatal when keys are few (it degenerates
    toward a per-key cross product BEFORE the filter prunes). The
    bucketize trick makes the range part of the JOIN KEY:

    1. each interval explodes to the time buckets it covers
       (floor(lo/B)..floor(hi/B), B = ``bucket_seconds`` — pick B near
       the typical interval length so the blow-up stays ~2x);
    2. each point maps to its single bucket floor(ts/B);
    3. equi-join on (keys..., bucket) + the exact range filter.

    No dedup pass is needed: a (point, interval) pair can only meet in
    the point's OWN bucket, so every surviving pair appears exactly
    once. Bucket math is integer microseconds (unix_micros) — no float
    epoch rounding, cross-engine exact (q57 oracle = DuckDB's plain
    range join).

    Output: all point columns + each non-key, non-bound interval column
    as ``{col}{suffix}``.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    pay = [c for c in intervals.columns
           if c not in keys and c not in (lo_col, hi_col)]
    b_us = int(bucket_seconds) * 1_000_000
    iv = intervals.where(
        F.col(lo_col).isNotNull() & F.col(hi_col).isNotNull()
        & (F.col(lo_col) <= F.col(hi_col))
    ).select(
        *[F.col(k) for k in keys],
        _micros(F.col(lo_col)).alias("_lo_us"),
        _micros(F.col(hi_col)).alias("_hi_us"),
        *[F.col(c).alias(f"{c}{suffix}") for c in pay],
    ).withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.col("_lo_us") / F.lit(b_us)),
                F.floor(F.col("_hi_us") / F.lit(b_us)),
            )
        ),
    )
    pt = points.where(F.col(point_ts).isNotNull()).withColumn(
        "_p_us", _micros(F.col(point_ts))
    ).withColumn("_bkt", F.floor(F.col("_p_us") / F.lit(b_us)))
    joined = pt.join(iv, keys + ["_bkt"]).where(
        (F.col("_p_us") >= F.col("_lo_us"))
        & (F.col("_p_us") <= F.col("_hi_us"))
    )
    return joined.select(
        *[F.col(c) for c in points.columns],
        *[F.col(f"{c}{suffix}") for c in pay],
    )


def rolling_agg(
    df: DataFrame,
    key_cols: list[str] | str,
    ts_col: str = "ts",
    window_seconds: int = 86400,
    value_col: str | None = None,
) -> DataFrame:
    """Per-event trailing-window aggregates: every row gains the count
    (``n_window``) and, when ``value_col`` is given, the sum
    (``sum_window``) of same-key rows with ``ts`` in
    ``[row.ts - window_seconds, row.ts]`` — the rate-limiter /
    velocity-feature staple ("events from this user in the last 24 h").

    Spark's RANGE window frame does this in ONE Exchange on the key:
    ``rangeBetween(-W, 0)`` over integer microseconds. RANGE (not ROWS)
    is the correct frame — all rows carrying the SAME timestamp share one
    frame regardless of partition-internal order, which is what makes
    the result deterministic without a sequence column and exactly what
    DuckDB's ``RANGE BETWEEN ... PRECEDING AND CURRENT ROW`` replays
    (q61 oracle). Skew follows the key distribution like any keyed
    window; NULL timestamps are dropped (no frame membership is
    definable for them).

    Float contract: the windowed sum adds the same value set on both
    engines but in different orders — rounding to 6 places absorbs the
    non-associativity drift, same as every other float oracle here.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    out = df.where(F.col(ts_col).isNotNull()).withColumn(
        "_us", _micros(F.col(ts_col)))
    w = (
        Window.partitionBy(*keys)
        .orderBy("_us")
        .rangeBetween(-window_seconds * 1_000_000, 0)
    )
    out = out.withColumn("n_window", F.count("*").over(w))
    if value_col is not None:
        out = out.withColumn(
            "sum_window", F.round(F.sum(value_col).over(w), 6))
    return out.drop("_us")


def merge_changelog(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str] | str,
    ts_col: str = "ts",
    op_col: str = "op",
    seq_col: str | None = None,
) -> DataFrame:
    """CDC snapshot merge (Iceberg ``MERGE INTO`` semantics, engine-side):
    apply a changelog of upserts and deletes to a keyed snapshot and
    return the NEW snapshot — one row per surviving key, latest change
    wins, keys whose latest change is a delete disappear, keys untouched
    by the changelog keep their snapshot row.

    ``changes`` carries ``key_cols`` + the payload + ``ts_col`` +
    ``op_col`` ('upsert' | 'delete'); ``snapshot`` carries ``key_cols``
    + the payload, which is its non-key columns (its rows are by
    definition older than every change). Determinism:
    ties on the change timestamp break by ``seq_col`` (pass the change's
    log-sequence/event id when one key can log equal timestamps);
    NULL-timestamp changes are dropped (they cannot be ordered into the
    log — same contract as asof_join/sessionize).

    Scale shape — ONE Exchange total: tag both inputs, union by name,
    and elect each key's winner with a single row_number window on the
    key (snapshot rows sort after every change via a NULL timestamp and
    desc_nulls_last). No join, no driver state; the changelog in a real
    deployment is a fraction of the snapshot, but this shape is correct
    and single-shuffle even when it is not. Skew follows the key
    distribution like any keyed window. DuckDB replays the identical
    union + window as the q74 oracle.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    pay = [c for c in snapshot.columns if c not in keys]
    seq = (F.col(seq_col).cast("long") if seq_col
           else F.lit(0).cast("long"))
    ch = changes.where(F.col(ts_col).isNotNull()).select(
        *[F.col(k) for k in keys],
        *[F.col(c) for c in pay],
        _micros(F.col(ts_col)).alias("_us"),
        seq.alias("_seq"),
        F.col(op_col).alias("_op"),
    )
    snap = snapshot.select(
        *[F.col(k) for k in keys],
        *[F.col(c) for c in pay],
        F.lit(None).cast("long").alias("_us"),
        F.lit(-1).cast("long").alias("_seq"),
        F.lit("upsert").alias("_op"),
    )
    u = snap.unionByName(ch)
    w = Window.partitionBy(*keys).orderBy(
        F.col("_us").desc_nulls_last(), F.col("_seq").desc()
    )
    return (
        u.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("_op") != "delete"))
        .select(*keys, *pay)
    )


def scd2_history(
    changes: DataFrame,
    key_cols: list[str] | str,
    ts_col: str = "ts",
    op_col: str = "op",
    seq_col: str | None = None,
    payload: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: turn a changelog
    of upserts and deletes into VERSIONED VALIDITY INTERVALS — the
    warehouse staple behind "what did this row look like on date X".
    One output row per upsert: key cols + payload + ``valid_from`` (the
    change's timestamp) + ``valid_to`` (the NEXT change's timestamp for
    that key — upsert or delete — or NULL while current) +
    ``version`` (1-based per key over upserts, in time order) +
    ``is_current``. A delete emits no row of its own; it only closes
    the previous version's interval. The companion of merge_changelog:
    merge gives the latest snapshot, this gives the full time-travel
    history.

    Determinism: ties on the timestamp break by ``seq_col`` (pass the
    log sequence / event id); NULL-timestamp changes are dropped (same
    contract as merge_changelog/asof_join).

    Scale shape: ONE Exchange on the key — the ``lead`` window hash-
    partitions by key, and both the post-filter version numbering and
    nothing else need a second shuffle (same key partitioning, Spark
    reuses it). Skew follows the key distribution like any per-key
    ordered semantics. DuckDB replays lead + filter + row_number as
    the q80 oracle.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    pay = (list(payload) if payload is not None
           else [c for c in changes.columns
                 if c not in keys and c not in (ts_col, op_col, seq_col)])
    seq = (F.col(seq_col).cast("long") if seq_col
           else F.lit(0).cast("long"))
    ch = changes.where(F.col(ts_col).isNotNull()).select(
        *keys, *pay,
        F.col(ts_col).alias("valid_from"),
        F.col(op_col).alias("_op"),
        seq.alias("_seq"),
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("valid_from").asc(), F.col("_seq").asc())
    versions = (
        ch.withColumn("valid_to", F.lead("valid_from").over(w))
        .where(F.col("_op") != "delete")
        .withColumn("version", F.row_number().over(w))
    )
    return versions.select(
        *keys, *pay, "valid_from", "valid_to", "version",
        F.col("valid_to").isNull().alias("is_current"),
    )


def decayed_counts(
    df: DataFrame,
    key_cols: list[str] | str,
    ts_col: str = "ts",
    half_life_days: float = 30.0,
    round_to: int = 6,
) -> DataFrame:
    """Recency-weighted activity score per key -> ``(key..., n_events,
    decayed_score)`` where each event contributes
    ``0.5 ** (age / half_life)`` — exponential time decay, the standard
    trending/salience aggregate ("which entities are hot NOW"): an event
    one half-life old counts half as much as one from the reference
    instant.

    The age is measured from the corpus max timestamp — computed as a
    one-row aggregate so the operator stays deterministic for a fixed
    input (never wall-clock). NULL timestamps are dropped.

    Scale shape: ONE map-side-combined groupBy on the keys — the decay
    weight is a per-row codegen expression (integer-µs age, all-DOUBLE
    pow), partials combine like any sum, heavy-hitter keys are absorbed
    map-side. The q68 DuckDB oracle replays the identical max-ts CTE
    and ``power(0.5, age_us / hl_us)`` arithmetic, round-6 contract.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    ev = df.where(F.col(ts_col).isNotNull()).withColumn(
        "_us", _micros(F.col(ts_col)))
    ref_us = ev.agg(F.max("_us")).first()[0]
    if ref_us is None:  # no non-NULL timestamps: empty result
        return (ev.groupBy(*keys)
                .agg(F.count("*").cast("long").alias("n_events"),
                     F.lit(0.0).alias("decayed_score"))
                .where(F.lit(False)))
    hl_us = float(half_life_days) * 86400.0 * 1e6
    w = F.pow(F.lit(0.5),
              (F.lit(int(ref_us)) - F.col("_us")).cast("double")
              / F.lit(hl_us))
    return ev.groupBy(*keys).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(w), round_to).alias("decayed_score"),
    )


def throttle_events(
    events: DataFrame,
    key_cols: list[str] | str,
    ts_col: str = "ts",
    quiet_seconds: int = 3600,
    seq_col: str | None = None,
) -> DataFrame:
    """Per-key event throttling — "emit at most one row per key per
    quiet period": keep an event iff its key logged NOTHING in the
    preceding ``quiet_seconds`` (alert dedup, notification rate
    limiting, crawl-revisit suppression). Formally: events chain into
    gap-islands exactly like sessionize's sessions (consecutive gaps
    <= quiet), and the FIRST event of each island survives — which
    reduces to one lag comparison, because an island's first event is
    precisely the one whose gap from the previous EVENT exceeds the
    quiet period. Strict comparison (gap > quiet), ties on the
    timestamp break by ``seq_col``, NULL timestamps are dropped — all
    the sessionize contracts, so the q91 oracle replays one lag.

    Scale shape: ONE Exchange (the key window), a codegen filter, no
    join, no state. Output: the surviving input rows unchanged.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    tie = (F.col(seq_col).cast("long") if seq_col
           else F.lit(0).cast("long"))
    base = (
        events.where(F.col(ts_col).isNotNull())
        .withColumn("_us", _micros(F.col(ts_col)))
        .withColumn("_tie", tie)
    )
    w = Window.partitionBy(*keys).orderBy("_us", "_tie")
    gap_us = int(quiet_seconds) * 1_000_000
    prev = F.lag("_us").over(w)
    return (
        base.withColumn("_prev", prev)
        .where(F.col("_prev").isNull()
               | (F.col("_us") - F.col("_prev") > F.lit(gap_us)))
        .drop("_us", "_tie", "_prev")
    )


def funnel_counts(
    events: DataFrame,
    steps: list,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    round_to: int = 6,
) -> DataFrame:
    """Sequential funnel analysis — "how many users did A, then B after
    A, then C after B": for each user the funnel advances to step i+1
    at the EARLIEST step-i+1 event STRICTLY after the time the funnel
    reached step i (the standard product-analytics funnel, order-aware
    — a purchase before the first view does not count). Output: one row
    per step — (step_idx 1-based, step, n_users, conversion) where
    ``conversion`` = n_users / previous step's n_users (NULL for step
    1, computed from exact longs, round-``round_to``).

    Scale shape: per step ONE map-side-combined groupBy on the user key
    over ONLY that step's events (the type filter prunes at the scan)
    plus a slim per-user join against the previous step's reach times —
    k steps = k slim passes, no window over the full event stream, no
    per-user collect. Each step's reach frame is checkpointed, and its
    user count is observed by that checkpoint's own jobs. NULL
    timestamps are dropped. Fully SQL-expressible => full q101 oracle.
    """
    if not steps:
        raise ValueError("funnel_counts: need at least one step")
    spark = events.sparkSession
    ev = events.where(F.col(ts_col).isNotNull())
    reach, seen = checkpoint_observed(
        ev.where(F.col(type_col) == steps[0])
        .groupBy(key_col)
        .agg(F.min(_micros(F.col(ts_col))).alias("_t"))
    )
    counts = [seen["n"]]
    for step in steps[1:]:
        reach, seen = checkpoint_observed(
            ev.where(F.col(type_col) == step)
            .select(key_col, _micros(F.col(ts_col)).alias("_ts"))
            .join(reach, key_col)
            .where(F.col("_ts") > F.col("_t"))
            .groupBy(key_col)
            .agg(F.min("_ts").alias("_t"))
        )
        counts.append(seen["n"])
    # conversion rounding happens IN-ENGINE: python round() is
    # half-even while Spark/DuckDB round() are half-away — computing
    # driver-side would diverge from the oracle on exact halves
    rows = [
        (i + 1, step, counts[i], counts[i - 1] if i > 0 else None)
        for i, step in enumerate(steps)
    ]
    base = spark.createDataFrame(
        rows, "step_idx int, step string, n_users long, _prev long")
    return base.select(
        "step_idx", "step", "n_users",
        F.round(
            F.try_divide(F.col("n_users").cast("double"),
                         F.col("_prev").cast("double")),
            round_to,
        ).alias("conversion"),
    )


def retention_cohorts(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention-cohort matrix — the growth-analytics staple:
    users are cohorted by the Monday-truncated week of their FIRST
    event, and each (cohort_week, week_offset) cell counts the cohort's
    users active in that later week. Output: (cohort_week date,
    week_offset int >= 0, n_users) — offset 0 is the cohort size by
    construction.

    Scale shape: first-event election is ONE map-side-combined min per
    user; the per-user cohort frame joins back on the user key (slim —
    one date per user) and the cell agg is map-side combined on the
    (cohort, offset) report key. NULL timestamps are dropped. Weeks
    via date_trunc('week') — ISO Monday on both engines — and offsets
    via exact day arithmetic (datediff / 7). Full q102 oracle.
    """
    ev = events.where(F.col(ts_col).isNotNull()).select(
        F.col(key_col),
        F.date_trunc("week", F.col(ts_col)).cast("date").alias("_wk"),
    )
    first = ev.groupBy(key_col).agg(F.min("_wk").alias("cohort_week"))
    return (
        ev.dropDuplicates([key_col, "_wk"])
        .join(first, key_col)
        .select(
            "cohort_week",
            (F.datediff(F.col("_wk"), F.col("cohort_week"))
             / F.lit(7)).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
