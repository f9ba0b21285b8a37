"""(subj, pred, obj) triple materialization + partitioned sink (north rule).

Triple semantics (shared with the pure-Python oracle in tests):

  * typing triple     : (canon(entity), 'instance_of', entity_type) once per
                        linked mention occurrence's (doc, span) — dedup'd per
                        (subj, obj, doc, span).
  * co-occurrence     : for each text span, the SORTED DISTINCT canonical ids
                        mentioned in it; every pair a < b emits
                        (a, 'co_occurs_with', b).

Lineage: every triple carries (doc_id, span_offset, partition_id) — the
north rule's per-partition lineage. Sink: parquet partitioned by ``pred``
(Iceberg-shaped layout; an Iceberg catalog slots in by swapping
``.format("iceberg")`` — the sandbox has no catalog, so we add a snapshot
manifest JSON for checkpoint/resume instead, see plans/pipeline.py).

Scale notes: the co-occurrence groupBy shuffles on (doc_id, span_offset) —
high-cardinality keys, no skew risk (a span holds only a handful of
mentions). The pair explosion is bounded by per-span mention counts. Writing
partitionBy("pred") gives partition pruning for per-predicate consumers; at
real scale add a bucket on subj_id inside each pred partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TRIPLES_EXPR = """
concat(
  transform(typed, t -> struct(t.canonical_id AS subj_id,
                               'instance_of' AS pred,
                               t.entity_type AS obj_id)),
  flatten(
    transform(ids, (x, i) ->
      transform(slice(ids, i + 2, size(ids) - i - 1),
                y -> struct(x AS subj_id, 'co_occurs_with' AS pred,
                            y AS obj_id))
    )
  )
)
"""


def materialize_triples(linked_mentions: DataFrame) -> DataFrame:
    """linked mentions (with canonical_id, entity_type) -> triple DataFrame.

    BOTH triple kinds come out of ONE groupBy + ONE explode: per (doc, span)
    group, the typing triples (distinct (canon, type)) and the co-occurrence
    pairs (sorted distinct canon ids, all a < b) are built as arrays and
    concatenated before a single explode. One shuffle total, linked read
    exactly once — the earlier two-branch union read the mention stream
    twice (forcing a persist) and paid a dropDuplicates shuffle for typing
    dedup that collect_set now does inside the aggregate.
    """
    grouped = (
        linked_mentions.groupBy("doc_id", "span_offset")
        .agg(
            F.sort_array(
                F.collect_set(F.struct("canonical_id", "entity_type"))
            ).alias("typed"),
            F.sort_array(F.collect_set("canonical_id")).alias("ids"),
        )
    )
    return (
        grouped.select(
            "doc_id", "span_offset", F.explode(F.expr(_TRIPLES_EXPR)).alias("t")
        )
        .select(
            F.col("t.subj_id").alias("subj_id"),
            F.col("t.pred").alias("pred"),
            F.col("t.obj_id").alias("obj_id"),
            "doc_id",
            "span_offset",
        )
        .withColumn("partition_id", F.spark_partition_id())
    )


def resolve_conflicts(
    triples: DataFrame,
    subj_col: str = "subj_id",
    pred_col: str = "pred",
    obj_col: str = "obj_id",
) -> DataFrame:
    """Majority-vote resolution for FUNCTIONAL predicates: a KG asserts
    at most one object per (subject, predicate) for predicates like
    birth_date or headquarters, but an extraction run emits every
    mention's claim — conflicting objects must be resolved before
    materialization. Per (subj, pred) keep the object with the most
    supporting assertions (row count, as a double); ties break on the
    smaller object id so the winner is a pure function of the input. Output: (subj, pred, obj, support,
    n_candidates) — ``n_candidates`` (distinct objects claimed) is the
    audit column a curation run thresholds on ("drop facts with > 3
    competing values").

    Scale shape: ONE map-side-combined groupBy on (subj, pred, obj) —
    the mention-level fan-in, where partial aggregation absorbs
    hub-entity skew — then a window over the already-slim (subj, pred)
    groups (ids + one double only; the candidate count per group is the
    distinct-object count, orders of magnitude below mention count).
    Fully SQL-expressible => full q75 oracle.
    """
    agg = triples.groupBy(subj_col, pred_col, obj_col).agg(
        F.count(F.lit(1)).cast("double").alias("support"))
    from pyspark.sql import Window

    w = Window.partitionBy(subj_col, pred_col)
    ranked = agg.withColumn(
        "_rn",
        F.row_number().over(
            w.orderBy(F.col("support").desc(), F.col(obj_col).asc())),
    ).withColumn("n_candidates", F.count(F.lit(1)).over(w))
    return (
        ranked.where(F.col("_rn") == 1)
        .select(subj_col, pred_col, obj_col, "support", "n_candidates")
    )


def constraint_violations(
    triples: DataFrame,
    allowed: DataFrame,
    pred_col: str = "pred",
    obj_col: str = "obj_id",
    subj_col: str = "subj_id",
) -> DataFrame:
    """Ontology range-constraint check: ``allowed`` is the (pred, obj)
    domain table — for each constrained predicate, the complete set of
    admissible objects (e.g. instance_of -> the ontology's type
    vocabulary). Returns the violation report the KG QA gate reads:
    one row per offending (pred, obj) value with ``n_violations``
    (assertion count) and ``n_subjects`` (distinct subjects affected).
    Predicates absent from ``allowed`` are unconstrained and never
    reported.

    Scale shape: the constraint table is ontology-sized (thousands of
    rows — always broadcastable), so both the "is this predicate
    constrained" semi-join and the "is this object admissible"
    anti-join are broadcast map-side passes; the only shuffle is the
    final map-side-combined groupBy on (pred, obj) — a low-cardinality
    report key where partial aggregation absorbs the skew of a common
    violation. Fully SQL-expressible => full q76 oracle.
    """
    allowed_slim = allowed.select(
        F.col(pred_col).alias("_c_pred"), F.col(obj_col).alias("_c_obj"))
    constrained = allowed_slim.select(
        F.col("_c_pred").alias(pred_col)).distinct()
    in_scope = triples.join(F.broadcast(constrained), pred_col, "left_semi")
    bad = in_scope.join(
        F.broadcast(allowed_slim),
        (F.col(pred_col) == F.col("_c_pred"))
        & (F.col(obj_col) == F.col("_c_obj")),
        "left_anti",
    )
    return bad.groupBy(pred_col, obj_col).agg(
        F.count(F.lit(1)).alias("n_violations"),
        F.countDistinct(subj_col).alias("n_subjects"),
    )


def write_triples(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Partitioned sink: parquet partitionBy(pred) (Iceberg-shaped layout)."""
    (
        triples.write.mode(mode)
        .partitionBy("pred")
        .parquet(path)
    )


def write_triples_snapshot(triples: DataFrame, path: str) -> int:
    """Append-only snapshot sink: the Iceberg-snapshot pattern, catalog-free.

    Each call writes an IMMUTABLE new version dir ``path/v=N/`` (parquet
    partitionBy(pred)) and then atomically swings ``_snapshots.json``
    (write-temp + rename) to point at it. Readers resolve the manifest
    first, so a crash mid-write never exposes a half-written version —
    exactly Iceberg's snapshot-commit contract. Old versions stay readable
    (time travel / rollback = read an older N). Returns the new version.

    With a real Iceberg catalog this whole function is
    ``df.writeTo(tbl).append()``; the north rule's "resumes from
    Iceberg-snapshot checkpoints" maps to reading ``current`` here.
    """
    import json as _json
    import os as _os

    manifest_path = _os.path.join(path, "_snapshots.json")
    manifest = {"current": 0, "history": []}
    if _os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = _json.load(f)
    # next version = above the manifest AND any orphaned v=N dir: a crash
    # mid-write leaves a partial v=N the manifest never points at —
    # without the dir scan every retry recomputed N, hit errorifexists,
    # and the append-only sink was bricked until manual cleanup (readers
    # were always safe; only WRITES deadlocked)
    orphans = [
        int(name.split("=", 1)[1])
        for name in (_os.listdir(path) if _os.path.isdir(path) else [])
        if name.startswith("v=") and name.split("=", 1)[1].isdigit()
    ]
    version = max([manifest["current"], *orphans], default=0) + 1
    target = _os.path.join(path, f"v={version}")
    triples.write.mode("errorifexists").partitionBy("pred").parquet(target)
    n = triples.sparkSession.read.parquet(target).count()
    manifest = {
        "current": version,
        "history": manifest["history"] + [{"version": version, "n_triples": n}],
    }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        _json.dump(manifest, f)
    _os.replace(tmp, manifest_path)  # atomic commit
    return version


def read_triples_snapshot(spark, path: str, version: int | None = None) -> DataFrame:
    """Read a snapshot (default: current) via the manifest — never by
    listing dirs, so concurrent writers can't expose partial data."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_snapshots.json")) as f:
        manifest = _json.load(f)
    v = version if version is not None else manifest["current"]
    versions = {h["version"] for h in manifest["history"]}
    if v not in versions:
        raise ValueError(f"snapshot v={v} not in manifest (have {sorted(versions)})")
    return spark.read.parquet(_os.path.join(path, f"v={v}"))


def negative_samples(
    positives: DataFrame,
    entities: DataFrame,
    k: int = 2,
    subj_col: str = "subj_id",
    pred_col: str = "pred",
    obj_col: str = "obj_id",
    ent_col: str = "entity_id",
    salt: str = "neg",
) -> DataFrame:
    """KG-embedding training negatives (the TransE/Bordes et al. 2013
    protocol, FILTERED setting): for every positive (s, p, o) and slot
    ``i`` in [0, k), corrupt the object with the entity at
    ``md5(salt:s:p:o:i) mod N`` in the rank-ordered entity catalog —
    deterministic, so the training set is byte-identical on every run
    and engine — then DROP corruptions that collide with ANY true
    (s, p, ·) triple (false negatives). Output: (subj, pred, neg_obj,
    slot).

    Scale shape: the entity catalog is ranked once (catalog-sized
    window — fine at ontology scale; shard the rank join for a 10^9
    catalog) and broadcast into the rank equi-join; candidates are one
    narrow explode of the positive set; the false-negative filter is a
    slim anti-join on (s, p, obj). Fully SQL-expressible => full q93
    oracle.
    """
    from pyspark.sql import Window

    n = entities.select(ent_col).distinct().count()
    if n == 0:
        raise ValueError("negative_samples: empty entity catalog")
    ranked = (
        entities.select(ent_col).distinct()
        .withColumn(
            "_r",
            F.row_number().over(Window.orderBy(F.col(ent_col).asc()))
            - F.lit(1),
        )
    )
    # the ONE md5-prefix hash home (quality._md5_rank) — salt:s:p:o:slot
    from generative_ner_spark.operators.quality import _md5_rank

    h = _md5_rank(
        F.concat_ws(
            ":",
            F.col(subj_col).cast("string"),
            F.col(pred_col).cast("string"),
            F.col(obj_col).cast("string"),
            F.col("slot").cast("string")),
        salt)
    cand = (
        positives.select(
            subj_col, pred_col, obj_col,
            F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1)))
            .alias("slot"))
        .withColumn("_r", F.pmod(h, F.lit(int(n))))
    )
    joined = cand.join(F.broadcast(ranked), "_r").select(
        subj_col, pred_col,
        F.col(ent_col).alias("neg_obj"), "slot",
    )
    truth = positives.select(
        F.col(subj_col), F.col(pred_col),
        F.col(obj_col).alias("neg_obj"))
    return joined.join(truth, [subj_col, pred_col, "neg_obj"], "left_anti")


def property_table(
    triples: DataFrame,
    preds: list,
    subj_col: str = "subj_id",
    pred_col: str = "pred",
    obj_col: str = "obj_id",
) -> DataFrame:
    """Property-table materialization — the KG-serving denormalization:
    pivot the narrow (subj, pred, obj) stream into ONE wide row per
    subject with a column per predicate in ``preds`` (the classic
    SPARQL-engine "property table" layout that turns N self-joins into
    one scan). Multi-valued predicates resolve to the MINIMUM object
    (deterministic; run resolve_conflicts first for majority-vote
    semantics); subjects missing a predicate get NULL.

    Scale shape: ONE map-side-combined groupBy on the subject — the
    pivot with an EXPLICIT predicate list compiles to per-column
    min(CASE WHEN pred=... ) aggregates, no second pass and no
    pred-discovery job (an open-ended pivot would scan once just to
    enumerate columns). Fully SQL-expressible => full q96 oracle.
    """
    return (
        triples.groupBy(subj_col)
        .pivot(pred_col, list(preds))
        .agg(F.min(obj_col))
    )
