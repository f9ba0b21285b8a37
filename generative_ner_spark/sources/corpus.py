"""Spark-side corpus construction from the pure synth kernel.

``synth_documents`` generates the interleaved corpus DISTRIBUTED: a
``spark.range(n_docs)`` seed frame is mapped with ``mapInPandas`` where each
Arrow batch materializes its own documents from the pure function
``synth.make_document(i, cfg)`` — no driver bottleneck, no shuffle, linear
scale-out. This is the stand-in for reading the production Iceberg table
(identical schema, BASELINE.json input_hint).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from generative_ner_spark import schema
from generative_ner_spark.sources import synth
from generative_ner_spark.sources.synth import SynthConfig


def synth_documents(
    spark: SparkSession, cfg: SynthConfig, num_partitions: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Distributed (documents, gold_entities) DataFrames for ``cfg``."""
    catalog = synth.entity_catalog(cfg)  # small; serialized into the closure

    def gen_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [synth.make_document(int(i), cfg, catalog) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "doc_id": [r["doc_id"] for r in rows],
                    "spans": [r["spans"] for r in rows],
                }
            )

    def gen_golds(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "span_offset": [], "start": [], "end": [],
                   "label": []}
            for i in pdf["id"]:
                d = synth.make_document(int(i), cfg, catalog)
                for g in d["golds"]:
                    out["doc_id"].append(d["doc_id"])
                    out["span_offset"].append(g["span_offset"])
                    out["start"].append(g["start"])
                    out["end"].append(g["end"])
                    out["label"].append(g["label"])
            yield pd.DataFrame(out)

    seed = spark.range(cfg.n_docs, numPartitions=num_partitions)
    docs = seed.mapInPandas(gen_docs, schema.DOCUMENT_SCHEMA)
    golds = seed.mapInPandas(gen_golds, schema.GOLD_ENTITY_SCHEMA)
    return docs, golds


_EXAMPLES_SCHEMA = (
    "example_id string, doc_id string, span_offset int, text string, "
    "gold_spans array<struct<start:bigint,end:bigint,label:string>>"
)


def synth_examples_with_golds(
    spark: SparkSession, cfg: SynthConfig, num_partitions: int | None = None
) -> DataFrame:
    """Fused fast path: text-span examples WITH gold arrays in one generator
    pass — no separate golds frame, no attach_golds join. Used by benchmarks;
    the two-frame path exercises the generic join-based plan."""
    catalog = synth.entity_catalog(cfg)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"example_id": [], "doc_id": [], "span_offset": [],
                   "text": [], "gold_spans": []}
            for i in pdf["id"]:
                d = synth.make_document(int(i), cfg, catalog)
                golds_by_off: dict[int, list] = {}
                for g in d["golds"]:
                    golds_by_off.setdefault(g["span_offset"], []).append(
                        {"start": g["start"], "end": g["end"], "label": g["label"]}
                    )
                for span in d["spans"]:
                    if span["kind"] != "text":
                        continue
                    off = span["offset"]
                    gl = sorted(
                        golds_by_off.get(off, []),
                        key=lambda g: (g["start"], g["end"], g["label"]),
                    )
                    out["example_id"].append(f"{d['doc_id']}:{off}")
                    out["doc_id"].append(d["doc_id"])
                    out["span_offset"].append(off)
                    out["text"].append(span["text"])
                    out["gold_spans"].append(gl)
            yield pd.DataFrame(out)

    seed = spark.range(cfg.n_docs, numPartitions=num_partitions)
    return seed.mapInPandas(gen, _EXAMPLES_SCHEMA)


def alias_df(spark: SparkSession, cfg: SynthConfig) -> DataFrame:
    return spark.createDataFrame(synth.alias_rows(cfg), schema.ALIAS_SCHEMA)


def entities_df(spark: SparkSession, cfg: SynthConfig) -> DataFrame:
    return spark.createDataFrame(synth.entity_catalog(cfg), schema.ENTITY_SCHEMA)

