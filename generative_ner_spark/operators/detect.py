"""Mention detection/typing stage — Arrow-batched, never per-row Python.

Re-expresses the reference's eager predict loop
(/root/reference/src/prediction/pred.py:84-128) as three declarative steps:

  1. ``explode_text_spans``  — docs(doc_id, spans) -> one row per TEXT span
     (media spans are carried through untouched by the pipeline; the per-row
     span-sequence invariant is tested downstream).
  2. ``generate``            — ``mapInPandas`` micro-batches render the
     prompt (S9, preprocessor.py:118-136), hash it (cache/resume key — same
     md5-of-joined-contents semantics as src/gpt/utils.py:64-101), and call
     the generator (deterministic stub here; an LLM in production). The
     reference's batch_size flush loop (pred.py:98-103) is exactly Arrow's
     ``spark.sql.execution.arrow.maxRecordsPerBatch``.
  3. ``ground``              — ``mapInPandas`` parse -> filter -> regex-ground
     (S21-S25, preprocessor.py:39-57 + pred.py:43-55 + gpt/base/utils.py:4-9)
     producing one row per grounded mention.

Scale notes (100 TB): steps 2-3 are narrow transformations — no shuffle at
all; parallelism == input partitions. Column pruning matters: we select only
(doc_id, spans) / (example_id, text, ...) so the parquet scan reads nothing
else. Gold spans ride along ONLY for the stub generator (the LLM path drops
them, pred.py:97 sends messages[:-1]).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from generative_ner_spark.functions import textops
from generative_ner_spark.sources.synth import LABELS2NAMES, SynthConfig
from generative_ner_spark.sources import synth

_NAMES2LABELS = {v: k for k, v in LABELS2NAMES.items()}


def explode_text_spans(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) -> (example_id, doc_id, span_offset, text).

    Uses the span's own ``offset`` field (never array position after a
    shuffle) so the invariant key survives any re-ordering.
    """
    s = F.explode("spans").alias("s")
    return (
        docs.select("doc_id", s)
        .where(F.col("s.kind") == "text")
        .select(
            F.concat_ws(":", "doc_id", F.col("s.offset").cast("string")).alias("example_id"),
            "doc_id",
            F.col("s.offset").alias("span_offset"),
            F.col("s.text").alias("text"),
        )
    )


def attach_golds(examples: DataFrame, golds: DataFrame) -> DataFrame:
    """Join gold entity spans onto examples as an array column (stub-LLM input).

    golds follows GOLD_ENTITY_SCHEMA. Aggregated gold side is keyed the same
    as examples, so Catalyst plans a single shuffle-hash/sort-merge join; at
    production scale gold is absent and this stage is skipped.
    """
    g = (
        golds.groupBy("doc_id", "span_offset")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("start", "end", "label"))
            ).alias("gold_spans")
        )
    )
    return examples.join(g, ["doc_id", "span_offset"], "left").withColumn(
        "gold_spans",
        F.coalesce(
            "gold_spans",
            F.array().cast("array<struct<start:bigint,end:bigint,label:string>>"),
        ),
    )


_GEN_SCHEMA = StructType(
    [
        StructField("example_id", StringType()),
        StructField("doc_id", StringType()),
        StructField("span_offset", IntegerType()),
        StructField("text", StringType()),
        StructField("generated_text", StringType()),
        StructField("prompt_hash", StringType()),
    ]
)


def _check_prompt_format(prompt_format: str) -> None:
    if prompt_format not in ("collective", "universal"):
        raise NotImplementedError(
            f"Format '{prompt_format}' is not implemented."
        )  # parity: preprocessor.py:116


def _prompt_cache_key(text: str, gold_spans: list[tuple[int, int, str]],
                      prompt_format: str, language: str,
                      system_prompt: str | None = None) -> str:
    """md5 of the joined SUBMITTED message contents — the response-cache key.

    Parity: src/gpt/utils.py:64-101 / openai_api.py:258-265 hash the joined
    contents of the messages actually sent; pred.py:97 strips the gold
    assistant turn before sending, hence messages[:-1]. Any change to the
    prompt format, language, labels, system prompt, or text changes this
    key — which is exactly what makes checkpoint resume invalidate
    correctly.
    """
    entity_list = sorted(
        {(text[s:e], LABELS2NAMES[lb]) for s, e, lb in gold_spans}
    )
    if prompt_format == "universal":
        messages = textops.get_universal_prompt(text, entity_list, language,
                                                system_prompt)
    else:
        messages = textops.get_collective_prompt(
            text, entity_list, list(LABELS2NAMES.values()), language,
            system_prompt,
        )
    joined = "\n".join(m["content"] for m in messages[:-1])
    return hashlib.md5(joined.encode()).hexdigest()


def with_prompt_hash(examples_with_golds: DataFrame,
                     prompt_format: str = "collective",
                     language: str = "en",
                     out: str = "prompt_hash",
                     system_prompt: str | None = None) -> DataFrame:
    """Append the prompt-cache-key column without generating.

    Used by the resume path (plans/pipeline.py) to anti-join pending prompts
    against the generation checkpoint BY PROMPT HASH — the reference's cache
    semantics — instead of by example_id (which would silently serve stale
    generations after a prompt-format/config change).
    """
    _check_prompt_format(prompt_format)

    @pandas_udf("string")
    def hash_udf(texts: pd.Series, golds: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _prompt_cache_key(
                    t, [(g["start"], g["end"], g["label"]) for g in gs],
                    prompt_format, language, system_prompt,
                )
                for t, gs in zip(texts, golds)
            ]
        )

    return examples_with_golds.withColumn(
        out, hash_udf(F.col("text"), F.col("gold_spans"))
    )


def generate_stub(examples_with_golds: DataFrame, cfg: SynthConfig,
                  prompt_format: str = "collective",
                  language: str = "en",
                  system_prompt: str | None = None) -> DataFrame:
    """Prompt-render + deterministic stub generation in Arrow micro-batches.

    ``prompt_format``: 'collective' (S9, preprocessor.py:118-136) or
    'universal' (S10, preprocessor.py:138-155) — both share the bracket-list
    output contract, so the downstream parse/ground chain is format-blind;
    only the rendered prompt (and therefore the cache key) differs.
    ``language``: 'en' or 'ja' (preprocessor.py:122-128); the stub generator
    emits the same bracket-list either way, so mentions are language-blind —
    only the rendered prompt and cache key change.

    Batch flush semantics == reference pred.py:98-103 (incl. the tail flush,
    which Arrow gives for free). prompt_hash == _prompt_cache_key (the
    resume/cache key, shared with with_prompt_hash).
    """
    _check_prompt_format(prompt_format)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            gens, hashes = [], []
            for eid, text, gold in zip(pdf["example_id"], pdf["text"], pdf["gold_spans"]):
                gold_spans = [(g["start"], g["end"], g["label"]) for g in gold]
                hashes.append(
                    _prompt_cache_key(text, gold_spans, prompt_format,
                                      language, system_prompt)
                )
                gens.append(
                    synth.stub_generation_collective(str(eid), text, gold_spans, cfg)
                )
            out = pdf[["example_id", "doc_id", "span_offset", "text"]].copy()
            out["generated_text"] = gens
            out["prompt_hash"] = hashes
            yield out

    return examples_with_golds.mapInPandas(fn, _GEN_SCHEMA)


_MENTION_SCHEMA = StructType(
    [
        StructField("example_id", StringType()),
        StructField("doc_id", StringType()),
        StructField("span_offset", IntegerType()),
        StructField("start", LongType()),
        StructField("end", LongType()),
        StructField("label", StringType()),
        StructField("mention_norm", StringType()),
    ]
)


def detect_mentions_fused(
    examples_with_golds: DataFrame,
    cfg: SynthConfig,
) -> DataFrame:
    """Single-pass prompt -> generate -> parse -> ground (one mapInPandas).

    Used when no generation checkpoint is requested: skips materializing the
    intermediate generations frame, halving Arrow (de)serialization and one
    Python-worker stage. Semantics identical to generate_stub |> ground
    (pinned by tests/test_pipeline.py exact-parity test, which runs the
    two-stage path).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("example_id", "doc_id", "span_offset", "start", "end",
                     "label", "mention_norm")}
            for eid, did, off, text, gold in zip(
                pdf["example_id"], pdf["doc_id"], pdf["span_offset"],
                pdf["text"], pdf["gold_spans"],
            ):
                gold_spans = [(g["start"], g["end"], g["label"]) for g in gold]
                gen = synth.stub_generation_collective(
                    str(eid), text, gold_spans, cfg
                )
                lowered = text.lower()
                for s, e, label in textops.spans_from_generation_collective(
                    text, gen, _NAMES2LABELS
                ):
                    rows["example_id"].append(eid)
                    rows["doc_id"].append(did)
                    rows["span_offset"].append(off)
                    rows["start"].append(s)
                    rows["end"].append(e)
                    rows["label"].append(label)
                    rows["mention_norm"].append(
                        textops.normalize_answer(lowered[s:e])
                    )
            yield pd.DataFrame(rows)

    return examples_with_golds.mapInPandas(fn, _MENTION_SCHEMA)


def detect_mentions_individual(
    examples_with_golds: DataFrame,
    cfg: SynthConfig,
    labels2names: dict[str, str] | None = None,
) -> DataFrame:
    """Individual-format path: one generation per (example, label).

    The reference fans out x N_labels rows per example and asks one QA turn
    per label (pred.py:105-120, preprocessor.py:157-193). Spark restatement:
    explode a per-example label array -> one row per (example, label) ->
    fused generate+parse+ground per row; span label = the QUERIED label
    (pred.py:64), parsing accepts only bare strings (pred.py:62-63).

    The fan-out runs over the labels in sorted order (the reference's
    order is dict insertion; sorted is reproducible). The stub
    generator's output contract is language-blind, so no prompt language
    is taken here.

    Scale: the fan-out is a narrow explode (no shuffle); generation cost
    x N_labels is the reference's own cost model for this format.
    """
    labels = sorted(labels2names or LABELS2NAMES)
    fanned = examples_with_golds.withColumn(
        "label", F.explode(F.array(*[F.lit(x) for x in labels]))
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("example_id", "doc_id", "span_offset", "start", "end",
                     "label", "mention_norm")}
            for eid, did, off, text, gold, label in zip(
                pdf["example_id"], pdf["doc_id"], pdf["span_offset"],
                pdf["text"], pdf["gold_spans"], pdf["label"],
            ):
                gold_spans = [(g["start"], g["end"], g["label"]) for g in gold]
                gen = synth.stub_generation_individual(
                    str(eid), text, gold_spans, label, cfg
                )
                lowered = text.lower()
                for s, e, lb in textops.spans_from_generation_individual(
                    text, gen, label
                ):
                    rows["example_id"].append(eid)
                    rows["doc_id"].append(did)
                    rows["span_offset"].append(off)
                    rows["start"].append(s)
                    rows["end"].append(e)
                    rows["label"].append(lb)
                    rows["mention_norm"].append(
                        textops.normalize_answer(lowered[s:e])
                    )
            yield pd.DataFrame(rows)

    return fanned.mapInPandas(fn, _MENTION_SCHEMA)


_PROMPT_SCHEMA = (
    "example_id string, doc_id string, span_offset int, text string, "
    "label string, gold_output string, "
    "prompt array<struct<role:string,content:string>>"
)


def render_prompts(
    examples_with_golds: DataFrame,
    prompt_format: str = "collective",
    language: str = "en",
    demos: list[dict] | None = None,
    labels2names: dict[str, str] | None = None,
    system_prompt: str | None = None,
) -> DataFrame:
    """Materialize the SUBMITTED chat messages as a prompt column.

    The run_gpt.py restatement: per example, render the format's messages,
    splice the k sampled demonstrations (collective: full turn pairs before
    the target, run_gpt.py:113-119; individual: per-label d[i*2:i*2+2]
    slicing, run_gpt.py:166-180), and strip the gold assistant turn — the
    result is exactly what the reference submits to the API. ``gold_output``
    (the stripped gold turn) rides along for estimate-mode cost accounting
    (openai_api.estimate(messages, gold_output)).

    For 'individual' the output fans out one row per (example, label) with
    the queried label in ``label``; otherwise ``label`` is null.

    Cache-key unification: md5 of the joined prompt contents of a row
    rendered here (syncgen.with_sync_prompt_hash) equals with_prompt_hash /
    generate_stub's prompt_hash for the same (format, language,
    system_prompt) when demos=[] — pinned in tests — so the sync-generation
    cache and the pipeline checkpoint share one key space.

    ``system_prompt`` (DatasetArguments.system_prompt, argparser.py:24):
    an optional leading system turn. Reference composition semantics
    (run_gpt.py:114-119, 168-180): the TARGET is rendered with the system
    turn, demos are rendered WITHOUT one (run_gpt.py:104), and with a
    system prompt the system turn precedes the spliced demos
    (messages[:1] + demos + messages[1:-1]). For the individual format the
    reference's demo slices (d[:3]/d[3:]) assume demos carry a system turn
    they don't have — we splice demos systemlessly (d[:2]/d[2:]), which is
    what that code plainly intends.
    """
    if prompt_format not in ("collective", "universal", "individual"):
        raise NotImplementedError(
            f"Format '{prompt_format}' is not implemented."
        )  # parity: preprocessor.py:116
    if language not in ("en", "ja"):
        raise ValueError(
            f"Unsupported language: {language}. Supported languages are 'ja' and 'en'."
        )
    from generative_ner_spark.operators import demos as demos_mod

    demo_list = demos or []
    l2n = labels2names or LABELS2NAMES
    labels = sorted(l2n)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("example_id", "doc_id", "span_offset",
                                   "text", "label", "gold_output", "prompt")}

            def emit(eid, did, off, text, label, gold_output, messages):
                out["example_id"].append(eid)
                out["doc_id"].append(did)
                out["span_offset"].append(off)
                out["text"].append(text)
                out["label"].append(label)
                out["gold_output"].append(gold_output)
                out["prompt"].append(messages)

            for eid, did, off, text, gold in zip(
                pdf["example_id"], pdf["doc_id"], pdf["span_offset"],
                pdf["text"], pdf["gold_spans"],
            ):
                gold_spans = [(g["start"], g["end"], g["label"]) for g in gold]
                if prompt_format == "individual":
                    per_label = []
                    for lb in labels:
                        mentions = sorted(
                            {text[s:e] for s, e, l2 in gold_spans if l2 == lb}
                        )
                        per_label.append((l2n[lb], mentions))
                    messages = textops.get_individual_prompt(
                        text, per_label, language, system_prompt
                    )
                    base = 3 if system_prompt else 2
                    for i, lb in enumerate(labels):
                        gold_output = messages[base + i * 2 + 1]["content"]
                        spliced = demos_mod.splice_demonstrations_individual(
                            demo_list, messages, i, l2n, language,
                            has_system=bool(system_prompt),
                        )
                        emit(eid, did, off, text, lb, gold_output, spliced)
                else:
                    entity_list = sorted(
                        {(text[s:e], l2n[lb]) for s, e, lb in gold_spans}
                    )
                    if prompt_format == "universal":
                        messages = textops.get_universal_prompt(
                            text, entity_list, language, system_prompt
                        )
                    else:
                        messages = textops.get_collective_prompt(
                            text, entity_list, list(l2n.values()), language,
                            system_prompt,
                        )
                    gold_output = messages[-1]["content"]
                    demo_turns = (
                        demos_mod.collective_demo_turns(demo_list, l2n, language)
                        if prompt_format == "collective" else
                        # universal shares the collective splice shape:
                        # full demo turn pairs, then target minus gold turn
                        sum((textops.get_universal_prompt(
                            d["text"],
                            textops.gold_entity_list(
                                d["text"],
                                [{"start": s, "end": e, "label": lb}
                                 for s, e, lb in d["gold_spans"]],
                                l2n),
                            language) for d in demo_list), [])
                    )
                    # run_gpt.py:119: system turn FIRST, then demos, then
                    # the target minus its gold assistant turn
                    spliced = (
                        messages[:1] + demo_turns + messages[1:-1]
                        if system_prompt else demo_turns + messages[:-1]
                    )
                    emit(eid, did, off, text, None, gold_output, spliced)
            yield pd.DataFrame(out)

    return examples_with_golds.mapInPandas(fn, _PROMPT_SCHEMA)


def ground_individual(generations: DataFrame) -> DataFrame:
    """Individual-format generations (with the queried ``label`` column) ->
    grounded mentions (pred.py:56-65: bare-string items only, span label =
    the queried label)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("example_id", "doc_id", "span_offset", "start", "end",
                     "label", "mention_norm")}
            for eid, did, off, text, label, gen in zip(
                pdf["example_id"], pdf["doc_id"], pdf["span_offset"],
                pdf["text"], pdf["label"], pdf["generated_text"],
            ):
                if gen is None:
                    continue  # failed generation row (error column set)
                lowered = text.lower()
                for s, e, lb in textops.spans_from_generation_individual(
                    text, gen, label
                ):
                    rows["example_id"].append(eid)
                    rows["doc_id"].append(did)
                    rows["span_offset"].append(off)
                    rows["start"].append(s)
                    rows["end"].append(e)
                    rows["label"].append(lb)
                    rows["mention_norm"].append(
                        textops.normalize_answer(lowered[s:e])
                    )
            yield pd.DataFrame(rows)

    return generations.mapInPandas(fn, _MENTION_SCHEMA)


def ground(generations: DataFrame) -> DataFrame:
    """Generations -> grounded mentions (one row per (start, end, label)).

    Parse/filter/ground parity: textops.spans_from_generation_collective
    (reference pred.py:43-55). ``mention_norm`` (the normalized matched
    surface) is the entity-linking join key.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("example_id", "doc_id", "span_offset", "start", "end",
                     "label", "mention_norm")}
            for eid, did, off, text, gen in zip(
                pdf["example_id"], pdf["doc_id"], pdf["span_offset"],
                pdf["text"], pdf["generated_text"],
            ):
                if gen is None:
                    # failed-generation row (e.g. an OpenAI batch error
                    # line read back as null): skip, same contract as
                    # ground_individual — a None here used to raise
                    # inside parse_output and kill the whole job
                    continue
                lowered = text.lower()
                for s, e, label in textops.spans_from_generation_collective(
                    text, gen, _NAMES2LABELS
                ):
                    rows["example_id"].append(eid)
                    rows["doc_id"].append(did)
                    rows["span_offset"].append(off)
                    rows["start"].append(s)
                    rows["end"].append(e)
                    rows["label"].append(label)
                    rows["mention_norm"].append(
                        textops.normalize_answer(lowered[s:e])
                    )
            yield pd.DataFrame(rows)

    return generations.mapInPandas(fn, _MENTION_SCHEMA)


def mention_context_windows(
    df,
    terms: list,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 5,
):
    """Lexicon-mention context extraction — the NER-training-data export
    pass ("every occurrence of a catalog term with ±``window`` tokens of
    context"), the bridge from a raw corpus to annotation/weak-label
    examples for the generative NER stages. Matching is case-insensitive
    whole-token equality against ``terms``; output one row per
    occurrence: ``(id, pos, term, context)`` with ``pos`` the 0-based
    token index, ``term`` the lowercased matched token, ``context`` the
    original tokens ``[pos-window, pos+window]`` rejoined with spaces.

    Scale shape: pure narrow codegen — tokenize once, posexplode, a
    literal isin filter (lexicons are catalog-sized; swap for a
    broadcast join past ~10^4 terms), slice + array_join for the
    context. ZERO shuffle: mention rows stay partitioned like the
    corpus. Fully SQL-expressible => full q92 oracle.
    """
    from pyspark.sql import functions as F

    toks = F.filter(
        F.split(F.col(text_col), "[ \t\n\x0b\f\r]+"),
        lambda x: x != F.lit(""))
    low = [t.lower() for t in terms]
    start1 = F.greatest(F.col("pos") + 1 - F.lit(window), F.lit(1))
    end1 = F.least(F.col("pos") + 1 + F.lit(window), F.size("_tk"))
    return (
        df.select(F.col(id_col), toks.alias("_tk"))
        .select(id_col, "_tk",
                F.posexplode("_tk").alias("pos", "_tok"))
        .where(F.lower(F.col("_tok")).isin(low))
        .select(
            id_col,
            "pos",
            F.lower(F.col("_tok")).alias("term"),
            F.array_join(
                F.slice(F.col("_tk"), start1, end1 - start1 + F.lit(1)),
                " ",
            ).alias("context"),
        )
    )
