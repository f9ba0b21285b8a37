"""Demonstration sampling + prompt splicing (S13).

Reference: sample_demonstration (src/cli/run_gpt.py:30-36) — seeded shuffle
of the validation (fallback train) examples, take k; demos are spliced into
each prompt as leading chat-turn pairs (collective: run_gpt.py:113-119;
individual per-label slicing d[i*2:i*2+2]: run_gpt.py:171-180).

Spark restatement: the sample is a tiny driver-side collect (orderBy
rand(seed) limit k — one pass, no full sort: Spark plans TakeOrdered), then
broadcast into the prompt builder. Splicing is a pure function so the
hermetic tests pin it without any model.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from generative_ner_spark.functions import textops


def sample_demonstrations(examples: DataFrame, k: int = 2, seed: int = 0
                          ) -> list[dict[str, Any]]:
    """Seeded sample of k example rows (text + gold_spans) for few-shot demos.

    Note: the reference shuffles with python random.Random(seed)
    (run_gpt.py:33-35); here the shuffle key is md5(seed:example_id) — a
    pure function of (seed, id), so the SAME demos come back on every
    run, cluster size, and input partitioning. (F.rand(seed) is NOT that:
    its per-row stream depends on partition index and row position, so a
    repartition silently changed every prompt and invalidated the whole
    prompt-hash response cache.) Demo CHOICE differs from the reference's
    sequence; demo MECHANICS match.
    """
    rows = (
        examples.select("example_id", "text", "gold_spans")
        .orderBy(
            F.md5(F.concat(F.lit(f"{seed}:"),
                           F.col("example_id").cast("string"))),
            F.col("example_id"),
        )
        .limit(k)
        .collect()
    )
    return [
        {
            "example_id": r["example_id"],
            "text": r["text"],
            "gold_spans": [(g["start"], g["end"], g["label"]) for g in r["gold_spans"]],
        }
        for r in rows
    ]


def collective_demo_turns(
    demos: list[dict[str, Any]],
    labels2names: dict[str, str],
    language: str = "en",
) -> list[dict[str, str]]:
    """Each demo's full (user, assistant-gold) turn pair, concatenated —
    demos are rendered WITHOUT a system turn (run_gpt.py:104)."""
    label_names = list(labels2names.values())
    out: list[dict[str, str]] = []
    for d in demos:
        entity_list = textops.gold_entity_list(
            d["text"],
            [{"start": s, "end": e, "label": lb} for s, e, lb in d["gold_spans"]],
            labels2names,
        )
        out.extend(
            textops.get_collective_prompt(d["text"], entity_list, label_names,
                                          language)
        )
    return out


def splice_demonstrations_individual(
    demos: list[dict[str, Any]],
    messages: list[dict[str, str]],
    label_index: int,
    labels2names: dict[str, str],
    language: str = "en",
    has_system: bool = False,
) -> list[dict[str, str]]:
    """Individual splice (run_gpt.py:166-180): each demo contributes its
    text-priming pair plus ONLY the queried label's QA pair
    (d[i*2 : i*2+2] slicing), then the target's priming pair + the queried
    label's user turn (answer stripped). With ``has_system`` the target's
    system turn comes FIRST (run_gpt.py:180: system_message + demo_messages
    + model_input + label turn); demos stay systemless — the reference's
    d[:3]/d[3:] slices there assume a demo system turn that run_gpt.py:104
    never renders, so we keep the d[:2]/d[2:] slicing the code intends."""
    out: list[dict[str, str]] = []
    if has_system:
        out.extend(messages[:1])
    for d in demos:
        demo_msgs = _individual_messages(d, labels2names, language)
        priming = demo_msgs[:2]
        label_turns = demo_msgs[2:]
        out.extend(priming)
        out.extend(label_turns[label_index * 2 : label_index * 2 + 2])
    base = 3 if has_system else 2
    target_priming = messages[1:base] if has_system else messages[:base]
    label_turns = messages[base:]
    out.extend(target_priming)
    out.append(label_turns[label_index * 2])  # user turn only
    return out


def _individual_messages(demo: dict[str, Any], labels2names: dict[str, str],
                         language: str) -> list[dict[str, str]]:
    per_label = []
    for label, name in labels2names.items():
        mentions = sorted(
            {demo["text"][s:e] for s, e, lb in demo["gold_spans"] if lb == label}
        )
        per_label.append((name, mentions))
    return textops.get_individual_prompt(demo["text"], per_label, language)
