"""Document table IO (S1) + label discovery (S6).

Reference S1: load_dataset("json", data_files) at src/cli/run.py:40-43 —
here a schema'd JSON/Parquet scan (schema declared, never inferred: at 10^12
docs schema inference is a full extra pass).

Reference S6: label-set discovery scans every train entity and sorts the
distinct labels into an identity labels2names dict (src/cli/run.py:44-50,
duplicated at run_gpt.py:63-69 and run_batchapi.py:37-43). Spark restatement:
distinct + sort on the exploded entity labels — one shuffle over a
few-dozen-key column, collected to a driver dict (tiny by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from generative_ner_spark import schema


def load_documents_json(spark: SparkSession, path: str) -> DataFrame:
    """Interleaved documents from JSONL with the declared schema."""
    return spark.read.schema(schema.DOCUMENT_SCHEMA).json(path)


def discover_labels(golds: DataFrame, label_col: str = "label") -> dict[str, str]:
    """Distinct sorted labels -> identity labels2names (run.py:44-50 parity:
    when no labels2names mapping is configured, name == label)."""
    rows = (
        golds.select(label_col).distinct().orderBy(label_col).collect()
    )
    return {r[label_col]: r[label_col] for r in rows}
