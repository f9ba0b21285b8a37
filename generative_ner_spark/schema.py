"""Spark schemas for the KG-construction pipeline.

The interleaved document shape is mandated by BASELINE.json ``input_hint``:
  (doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)
and mirrors the reference's document→examples nesting
(/root/reference/scripts/conll2003.py:67-92, src/data/preprocessor.py:11-21).

Per-row invariant preserved by every stage: span-sequence equality on
(kind, text, media_ref, order-by-offset).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Interleaved text+media span (BASELINE.json input_hint).
SPAN_TYPE = StructType(
    [
        StructField("kind", StringType(), False),       # 'text' | 'image' | 'audio'
        StructField("text", StringType(), True),        # non-null iff kind='text'
        StructField("media_ref", StringType(), True),   # non-null iff kind!='text'
        StructField("offset", IntegerType(), False),    # 0-based position in doc
    ]
)

DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_TYPE), False),
    ]
)

# Gold entity span — half-open char offsets into the text of one text span
# (reference: src/data/preprocessor.py:11-14).
GOLD_ENTITY_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("span_offset", IntegerType(), False),
        StructField("start", LongType(), False),
        StructField("end", LongType(), False),
        StructField("label", StringType(), False),
    ]
)

# Entity-linking dictionary (broadcast side), FIXTURES.md F5.
ALIAS_SCHEMA = StructType(
    [
        StructField("alias", StringType(), False),       # normalize_answer'd
        StructField("entity_id", StringType(), False),
        StructField("prior", DoubleType(), False),
        StructField("entity_type", StringType(), False),
    ]
)

# Canonical entity catalog (synth ground truth / linking dimension).
ENTITY_SCHEMA = StructType(
    [
        StructField("entity_id", StringType(), False),
        StructField("name", StringType(), False),
        StructField("entity_type", StringType(), False),
    ]
)
