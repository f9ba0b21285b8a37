"""Distributed CoNLL-2003 ingestion (S2-S5).

Reference: scripts/conll2003.py:126-197 — a sequential file reader that
splits sentences on blank lines, documents on ``-DOCSTART-``, then decodes
IOB2 tags to char-offset entities. Re-expressed for Spark as:

* ``read_conll_distributed`` — the Spark job: ``spark.read.text`` with a
  running-group window (sum of boundary flags over line order) assigns
  every line its (doc, sentence) id WITHOUT driver iteration, then one
  groupBy collects each sentence's (word, tag) rows and a pandas UDF runs
  the pure decode kernel (textops.conll_to_example — byte-parity with the
  reference). Line order comes from ``zipWithIndex`` semantics via
  monotonically-increasing file offsets, NOT from shuffle order.

  Scale note: the window over (file, line_no) requires lines of one file in
  one ordered partition — correct for CoNLL's file-sized inputs (the format
  is inherently sequential); many files parallelize across files via the
  ``input_file_name`` partition key.

* ``_doc_record`` — the one copy of the parity-critical document shape
  (doc_id scheme, example ids, entity layout); tests/reference_loop.py
  holds the line-by-line kernel the tests compare the Spark job with.

INTENTIONAL divergence from the reference (recorded in COVERAGE.md): the
reference's ``read_conll`` never flushes words pending at EOF (a file not
ending in a blank line silently DROPS its last sentence) and leaks words
pending at a ``-DOCSTART-`` into the next document. Both paths here flush
pending words at every boundary — the behavior the reference code clearly
intends — so a byte-parity cross-check against the reference loop on such
files differs by exactly the sentences the reference loses.
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from generative_ner_spark.functions import textops

DOC_SCHEMA = (
    "doc_id string, "
    "examples array<struct<id:string, text:string, "
    "entities:array<struct<start:bigint,end:bigint,label:string,text:string>>, "
    "word_positions:array<array<bigint>>>>"
)


def _doc_record(basename: str, doc_idx: int,
                sentences: list[dict[str, Any]]) -> dict[str, Any]:
    """THE document-record shape (doc_id scheme, example ids, entity and
    word_positions layout) — one copy shared by the pure kernel and the
    distributed decode so the two paths can never silently diverge."""
    doc_id = f"{basename}-{doc_idx}"
    return {
        "doc_id": doc_id,
        "examples": [
            {
                "id": f"{doc_id}-{j}",
                "text": s["text"],
                "entities": s["entities"],
                "word_positions": [list(p) for p in s["word_positions"]],
            }
            for j, s in enumerate(sentences)
        ],
    }


def _file_basenames(files: list[str]) -> dict[str, str]:
    """file path -> doc-id prefix. Plain basename normally; when two
    files share a basename (train/data.txt vs dev/data.txt) each gets a
    short path-hash suffix so their doc/example ids cannot collide and
    silently mix documents in downstream joins."""
    bases: dict[str, int] = {}
    raw = {}
    for f in files:
        b = f.rsplit("/", 1)[-1].split(".")[0]
        raw[f] = b
        bases[b] = bases.get(b, 0) + 1
    return {
        f: (b if bases[b] == 1
            else f"{b}-{hashlib.md5(f.encode()).hexdigest()[:8]}")
        for f, b in raw.items()
    }


def read_conll_distributed(spark: SparkSession, path: str) -> DataFrame:
    """CoNLL text file(s) -> document DataFrame (DOC_SCHEMA).

    Plan: text scan -> per-file ordered window assigns doc/sentence group
    ids -> groupBy(file, doc) -> pandas UDF decode. The window keys on
    (input_file_name) so multiple files parallelize; within a file the
    running sums need the file's lines ordered, which the line_no ordering
    provides.
    """
    raw = spark.read.text(path)
    # file listing only (no data scan) — used to disambiguate doc-id
    # prefixes when different directories contain same-named files
    names = _file_basenames(list(raw.inputFiles()))
    lines = (
        raw.select(
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("line_no"),
            F.col("value").alias("line"),
        )
        # strip ALL trailing whitespace (regex, not rtrim: rtrim removes
        # only spaces, so a trailing tab survived — 'B-PER\\t' became the
        # label and a tab-only line was read as a token line, diverging
        # from the pure kernel's raw.rstrip())
        .withColumn("line", F.regexp_replace("line", r"\s+$", ""))
    )
    w = Window.partitionBy("file").orderBy("line_no")
    marked = (
        lines.withColumn(
            "is_docstart", F.col("line").startswith("-DOCSTART").cast("int")
        )
        .withColumn("doc_grp", F.sum("is_docstart").over(w))
        .withColumn("is_blank", (F.length("line") == 0).cast("int"))
        .withColumn("sent_grp", F.sum("is_blank").over(w))
        .where((F.col("is_docstart") == 0) & (F.col("is_blank") == 0))
    )
    grouped = (
        marked.groupBy("file", "doc_grp")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("line_no", "sent_grp", "line"))
            ).alias("rows")
        )
        # sequential doc numbering per file (parity with the reference's
        # yield order, robust to docstart markers with no sentences)
        .withColumn(
            "doc_rank",
            F.dense_rank().over(Window.partitionBy("file").orderBy("doc_grp")) - 1,
        )
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "examples": []}
            for file, doc_grp, rows in zip(
                pdf["file"], pdf["doc_rank"], pdf["rows"]
            ):
                basename = names.get(
                    file, file.rsplit("/", 1)[-1].split(".")[0])
                sentences = []
                cur_sent, cur_words, cur_tags = None, [], []
                for r in rows:  # already sorted by line_no
                    if r["sent_grp"] != cur_sent and cur_words:
                        sentences.append(
                            textops.conll_to_example(cur_words, cur_tags)
                        )
                        cur_words, cur_tags = [], []
                    cur_sent = r["sent_grp"]
                    cols = r["line"].split(" ")
                    cur_words.append(cols[0])
                    cur_tags.append(cols[-1])
                if cur_words:
                    sentences.append(textops.conll_to_example(cur_words, cur_tags))
                rec = _doc_record(basename, int(doc_grp), sentences)
                out["doc_id"].append(rec["doc_id"])
                out["examples"].append(rec["examples"])
            yield pd.DataFrame(out)

    return grouped.mapInPandas(decode, DOC_SCHEMA)
