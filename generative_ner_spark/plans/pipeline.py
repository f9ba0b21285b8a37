"""End-to-end KG-construction DAG with checkpoint resume + per-stage metrics.

Stage DAG (all lazy until the sink; Catalyst plans the whole thing):

  docs ──explode text spans──► examples ──(join golds; stub-LLM input only)──►
  generate (mapInPandas) ──► [resume anti-join on prompt_hash] ──►
  ground (mapInPandas) ──► link (broadcast dict join) ──►
  canonicalize (LSH + CC over the entity dimension, broadcast map back) ──►
  triples ──► parquet partitionBy(pred) + _manifest.json + metrics rows

Resume (north rule "resumes from Iceberg-snapshot checkpoints"): the
generation stage persists (prompt_hash, generated_text, ...) under
``checkpoint_dir``; a re-run left-anti joins pending prompts against it and
only generates the misses — the exact semantics of the reference's response
cache (/root/reference/src/gpt/utils.py:64-101, openai_api.py:258-265),
generalized to a table. With an Iceberg catalog the same table is an Iceberg
table and the manifest is a snapshot.

Metrics (north rule "per-partition lineage + metrics"): each stage's row
count per spark_partition_id is written next to the sink. ``mentions`` is
persisted before the sink write, so that write fills the cache and the
mention metrics job reads it instead of running detect again; the triple
metrics job reads the written sink back.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from generative_ner_spark.operators import canonicalize, detect, linking, triples
from generative_ner_spark.plans.session import committed
from generative_ner_spark.sources.synth import SynthConfig


@dataclass
class PipelineResult:
    """Frames of one run. ``mentions`` is returned PERSISTED when
    ``collect_metrics=True`` (the sink write and the metrics jobs share
    it); the caller owns that cache and unpersists it when done. No
    other cache outlives run_pipeline."""

    mentions: DataFrame
    linked: DataFrame
    triples: DataFrame
    metrics: dict


def _partition_metrics(df: DataFrame, stage: str) -> list[dict]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .count()
        .collect()
    )
    return [
        {"stage": stage, "partition_id": r["partition_id"], "rows": r["count"]}
        for r in rows
    ]


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    golds: DataFrame,
    alias_df: DataFrame,
    entities_df: DataFrame,
    cfg: SynthConfig | None = None,
    checkpoint_dir: str | None = None,
    sink_path: str | None = None,
    collect_metrics: bool = False,
    examples_with_golds: DataFrame | None = None,
    canonical_df: DataFrame | None = None,
    prompt_format: str = "collective",
    language: str = "en",
) -> PipelineResult:
    """Run the full KG DAG. ``golds`` feeds only the deterministic stub
    generator (an LLM deployment drops it, detect.py docstring).

    ``examples_with_golds``: optional pre-fused example frame (already
    exploded, golds attached) — skips the explode + gold join when the
    caller can produce both in one pass (corpus.synth_examples_with_golds,
    testdata_kg.examples_with_golds)."""
    cfg = cfg or SynthConfig()
    detect._check_prompt_format(prompt_format)  # parity: preprocessor.py:116
    if language not in ("en", "ja"):
        # fail FAST and identically on both paths: the fused path never
        # touches language (stub mentions are language-blind) while the
        # resume path raised late inside an executor during generation
        raise ValueError(f"Unsupported language: {language}")
    t0 = time.time()

    if examples_with_golds is not None:
        examples = examples_with_golds
    else:
        examples = detect.explode_text_spans(docs)
        examples = detect.attach_golds(examples, golds)

    # ---- generation with checkpoint resume (prompt-hash anti-join) -------
    gen_ckpt = os.path.join(checkpoint_dir, "generations") if checkpoint_dir else None
    if gen_ckpt is None:
        # no resume requested: fuse prompt->generate->parse->ground into one
        # Arrow pass (skips materializing the generations frame entirely)
        mentions = detect.detect_mentions_fused(examples, cfg)
        return _finish(spark, mentions, alias_df, entities_df, sink_path,
                       collect_metrics, t0, canonical_df)
    # The checkpoint is a (prompt_hash -> generated_text) response cache, the
    # reference's md5-of-prompt cache as a table (src/gpt/utils.py:64-101,
    # openai_api.py:258-265). Keying on prompt_hash (NOT example_id) means a
    # changed prompt_format / language / label set MISSES and regenerates,
    # and the final join serves ONLY the current input's examples — a resume
    # with a shrunken input never emits stale mentions.
    # persist + materialize the hashed frame BEFORE generation: it feeds
    # two jobs (the checkpoint write and the final serve join) — without
    # this the Python render+hash pass re-executed per job AND fused with
    # the generation mapInPandas in one task (two chained CPU-bound
    # python stages oversubscribe workers 2x, the CLAUDE.md gotcha)
    hashed = detect.with_prompt_hash(examples, prompt_format, language).persist()
    hashed.count()
    # resume only from a COMMITTED checkpoint: resume exists for crash
    # recovery, and a crashed first write leaves an unreadable directory
    if committed(gen_ckpt):
        cached_hashes = spark.read.parquet(gen_ckpt).select("prompt_hash").distinct()
        pending = hashed.join(cached_hashes, "prompt_hash", "left_anti")
        fresh = detect.generate_stub(pending, cfg, prompt_format, language)
        fresh.write.mode("append").parquet(gen_ckpt)
    else:
        fresh = detect.generate_stub(hashed, cfg, prompt_format, language)
        fresh.write.mode("overwrite").parquet(gen_ckpt)
    # dedupe identical prompts deterministically (min example_id wins — the
    # reference cache likewise serves ONE response per distinct prompt)
    responses = (
        spark.read.parquet(gen_ckpt)
        .groupBy("prompt_hash")
        .agg(
            F.min(F.struct(F.col("example_id").alias("eid"),
                           F.col("generated_text").alias("g")))
            .getField("g").alias("generated_text")
        )
    )
    generations = hashed.join(responses, "prompt_hash")

    mentions = detect.ground(generations)
    try:
        return _finish(spark, mentions, alias_df, entities_df, sink_path,
                       collect_metrics, t0, canonical_df)
    finally:
        # the sink (if any) is written and the mention cache (if any)
        # filled: frames the caller still acts on recompute the render
        hashed.unpersist()


def _finish(
    spark: SparkSession,
    mentions: DataFrame,
    alias_df: DataFrame,
    entities_df: DataFrame,
    sink_path: str | None,
    collect_metrics: bool,
    t0: float,
    canonical_df: DataFrame | None = None,
) -> PipelineResult:
    """Shared tail: link -> canonicalize -> triples -> sink/metrics."""
    # ---- linking: broadcast dict join ------------------------------------
    linked = linking.link_mentions(mentions, alias_df, dict_broadcast=True)
    # materialize_triples reads linked exactly ONCE (fused single-groupBy
    # design), so no persist is needed on the hot path; callers that re-use
    # res.linked / res.mentions (tests, metrics) pay recompute or persist
    # themselves.

    # ---- canonicalization over the (small) entity dimension --------------
    # canonical_df only depends on the entity dimension, never on the docs:
    # production runs compute it once per catalog version and reuse it
    # across every pipeline run (pass it in); recomputing per run is the
    # fallback for ad-hoc invocations.
    canon = canonical_df if canonical_df is not None else canonicalize.canonical_map(entities_df)
    # nil entities are their own canonical id — union them in lazily via
    # coalesce after a broadcast join (canon map is dimension-sized)
    linked = (
        linked.join(F.broadcast(canon), "entity_id", "left")
        .withColumn("canonical_id", F.coalesce("canonical_id", "entity_id"))
    )

    trip = triples.materialize_triples(linked)

    metrics: dict = {"wall_sec": None}
    if collect_metrics:
        # before the sink write, which then fills the cache: the mention
        # metrics job reads it instead of re-running the detect pass
        mentions = mentions.persist()
    if sink_path:
        triples.write_triples(trip, sink_path)
        trip = spark.read.parquet(sink_path)
        manifest = {
            "sink": sink_path,
            "n_triples": trip.count(),
            "partition_spec": ["pred"],
            "stages": ["explode", "generate", "ground", "link", "canon", "triples"],
        }
        with open(os.path.join(sink_path, "_manifest.json"), "w") as f:
            json.dump(manifest, f)
        metrics["n_triples"] = manifest["n_triples"]

    if collect_metrics:
        # n_mentions falls out of the collected per-partition rows
        per_part = (
            _partition_metrics(mentions, "mentions")
            + _partition_metrics(trip, "triples")
        )
        metrics["per_partition"] = per_part
        metrics["n_mentions"] = sum(
            r["rows"] for r in per_part if r["stage"] == "mentions")
    metrics["wall_sec"] = time.time() - t0

    if sink_path and collect_metrics:
        with open(os.path.join(sink_path, "_metrics.json"), "w") as f:
            json.dump(metrics, f, default=str)
        # per-partition lineage/metrics rows as a queryable table next to
        # the sink (north rule: "every stage writes per-partition lineage
        # rows and metrics") — wandb-replacement per SURVEY.md S31
        spark.createDataFrame(
            per_part, "stage string, partition_id int, rows long"
        ).write.mode("overwrite").parquet(os.path.join(sink_path, "_stage_metrics"))

    return PipelineResult(mentions=mentions, linked=linked, triples=trip,
                          metrics=metrics)
