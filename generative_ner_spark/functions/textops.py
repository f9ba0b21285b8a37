"""Pure-Python semantic kernel — byte-parity with the reference pipeline.

These functions pin the *semantics* of the reference's parse → normalize →
ground → evaluate chain (the P/R-critical path). They are deliberately free of
any Spark dependency so they can be

  * unit-tested hermetically against golden cases (tests/test_textops.py),
  * called from inside Arrow-batched pandas UDFs / ``mapInPandas`` on
    executors (the ONLY place per-row Python is allowed to run — inside a
    vectorized batch), and
  * used by the straight-line reference-loop oracle the P/R >= 0.95 gate
    compares against (tests/reference_loop.py).

Reference parity sources (file:line into /root/reference):
  - normalize_answer       src/data/preprocessor.py:24-37
  - parser                 src/data/preprocessor.py:39-57
  - parse_output           src/data/preprocessor.py:195-201
  - regex grounding        src/gpt/base/utils.py:4-9
  - prediction filtering   src/prediction/pred.py:43-65
  - BIO decode             scripts/conll2003.py:176-197
  - words -> text/offsets  scripts/conll2003.py:161-173
  - micro P/R/F1           src/evaluation/eval.py:6-27
"""

from __future__ import annotations

import ast
import re
import string
from typing import Any, Iterable, Iterator, Optional

# ---------------------------------------------------------------------------
# Normalization (src/data/preprocessor.py:24-37)
# ---------------------------------------------------------------------------

# string.punctuation minus ':' — the one punctuation char the reference keeps.
_PUNC_EXCLUDE = set(string.punctuation) - {":"}


def normalize_answer(s: str) -> str:
    """Lower-case, strip punctuation (except ':'), collapse whitespace.

    Byte-parity with src/data/preprocessor.py:24-37. NOTE: the reference's
    article-removal step exists but is commented out (preprocessor.py:36);
    we mirror the *enabled* behavior only.
    """
    lowered = s.lower()
    no_punc = "".join(ch for ch in lowered if ch not in _PUNC_EXCLUDE)
    return " ".join(no_punc.split())


# ---------------------------------------------------------------------------
# Generation parsing (src/data/preprocessor.py:39-57, 195-201)
# ---------------------------------------------------------------------------

_BRACKET_RE = re.compile(r"\[(.*?)\]")


def parser(text: str) -> list[tuple[str, ...] | str]:
    """Parse one generated line into normalized items.

    Semantics pinned to src/data/preprocessor.py:39-57:
      * ``re.match`` (anchored at line start) of the FIRST non-greedy
        ``[...]``; no match -> literal ``'[]'``.
      * ``ast.literal_eval`` of the matched text.
      * list/tuple items -> tuple of normalized elements (ANY arity — the
        2-tuple filter happens later, src/prediction/pred.py:48);
        scalar items -> normalized string.
      * order-preserving dedup (``if item not in formatted_items``).
      * ANY exception (bad literal, non-iterable, non-str element) -> ``[]``.
    """
    try:
        match = _BRACKET_RE.match(text)
        if match:
            text = match.group()
        else:
            text = "[]"
        items = ast.literal_eval(text)
        formatted_items: list[tuple[str, ...] | str] = []
        for item in items:
            if isinstance(item, (list, tuple)):
                item = tuple(normalize_answer(element) for element in item)
            else:
                item = normalize_answer(item)
            if item not in formatted_items:
                formatted_items.append(item)
        return formatted_items
    except Exception:
        return []


def parse_output(output: str) -> list[tuple[str, ...] | str]:
    """Split a generation on newlines and concat per-line parses.

    Byte-parity with src/data/preprocessor.py:195-201 (note: NO cross-line
    dedup — dedup is per line only).
    """
    entities: list[tuple[str, ...] | str] = []
    for line in output.split("\n"):
        entities.extend(parser(line))
    return entities


# ---------------------------------------------------------------------------
# Mention grounding (src/gpt/base/utils.py:4-9)
# ---------------------------------------------------------------------------

def regex_ground(txt: str, pattern: str) -> list[tuple[int, int]]:
    """All (start, end) matches of ``pattern`` compiled AS A REGEX over txt.

    Byte-parity with src/gpt/base/utils.py:4-9 — the mention string is used
    as a regex pattern verbatim. After normalize_answer, the only surviving
    punctuation is ':' (not a regex metachar), so patterns are regex-safe in
    the reference's own flow; a genuinely bad pattern raises re.error there
    and would crash the reference — callers in this repo catch it and emit a
    parse-error metric instead of failing the stage.
    """
    recompiler = re.compile(pattern)
    return [(m.start(), m.end()) for m in recompiler.finditer(txt)]


# ---------------------------------------------------------------------------
# Prediction extraction (src/prediction/pred.py:32-69)
# ---------------------------------------------------------------------------

def _mixed_sort_key(p: Any) -> tuple[int, Any]:
    """Total order over str|tuple items.

    The reference calls ``sorted(set(preds))`` (pred.py:47, 61) which would
    TypeError on a str/tuple mix; its per-format filters make batches
    homogeneous in practice. We use a typed key so a pathological mixed
    generation degrades to a stable order instead of crashing the executor —
    order only affects pred-list ordering, never the P/R sets.
    """
    if isinstance(p, tuple):
        return (1, p)
    return (0, (p,))


def spans_from_generation_collective(
    text: str,
    generated_text: str,
    names2labels: dict[str, str],
) -> list[tuple[int, int, str]]:
    """collective/universal generation -> grounded (start, end, label) spans.

    Parity with src/prediction/pred.py:43-55: iterate sorted(set(parsed)),
    keep only 2-tuples with non-empty mention, ground the *normalized*
    mention as a regex over text.lower(), map the generated type name via
    names2labels with KeyError fallback = keep the raw name (pred.py:51-54).
    """
    spans: list[tuple[int, int, str]] = []
    preds = parse_output(generated_text)
    lowered = text.lower()
    for p in sorted(set(preds), key=_mixed_sort_key):
        if not isinstance(p, tuple) or len(p) != 2 or p[0] == "":
            continue
        mention, label_name = p[0], p[1]
        label = names2labels.get(label_name, label_name)
        try:
            matches = regex_ground(lowered, mention)
        except re.error:
            continue  # see regex_ground docstring
        spans.extend((s, e, label) for s, e in matches)
    return spans


def spans_from_generation_individual(
    text: str,
    generated_text: str,
    label: str,
) -> list[tuple[int, int, str]]:
    """individual-format generation -> grounded spans for one label.

    Parity with src/prediction/pred.py:56-65: items must be non-empty str;
    the span label is the *queried* label, not parsed from the generation.
    """
    spans: list[tuple[int, int, str]] = []
    preds = parse_output(generated_text)
    lowered = text.lower()
    for p in sorted(set(preds), key=_mixed_sort_key):
        if not isinstance(p, str) or p == "":
            continue
        try:
            matches = regex_ground(lowered, p)
        except re.error:
            continue
        spans.extend((s, e, label) for s, e in matches)
    return spans


# ---------------------------------------------------------------------------
# CoNLL ingestion kernel (scripts/conll2003.py:126-197)
# ---------------------------------------------------------------------------

def conll_words_to_text(words: Iterable[str]) -> tuple[str, list[tuple[int, int]]]:
    """Join words with single spaces; per-word half-open char offsets.

    Byte-parity with scripts/conll2003.py:161-173.
    """
    text = ""
    positions: list[tuple[int, int]] = []
    offset = 0
    for word in words:
        if text:
            text += " "
            offset += 1
        text += word
        n = len(word)
        positions.append((offset, offset + n))
        offset += n
    return text, positions


def conll_tags_to_spans(tags: Iterable[str]) -> Iterator[tuple[int, int, str]]:
    """IOB2 decode: contiguous B-X (I-X)* -> (start_word, end_word, X).

    Byte-parity with scripts/conll2003.py:176-197 including the lenient
    branches: bare I-X starts a span; I-Y after I-X closes X and opens Y.
    """
    start, label = -1, None
    for i, tag in enumerate(list(tags) + ["O"]):
        if tag == "O":
            if start >= 0:
                assert label is not None
                yield (start, i, label)
                start, label = -1, None
        else:
            cur_label = tag[2:]
            if tag.startswith("B"):
                if start >= 0:
                    assert label is not None
                    yield (start, i, label)
                start, label = i, cur_label
            else:
                if cur_label != label:
                    if start >= 0:
                        assert label is not None
                        yield (start, i, label)
                    start, label = i, cur_label


def conll_to_example(words: list[str], tags: list[str]) -> dict[str, Any]:
    """words+tags -> {text, entities, word_positions} (scripts/conll2003.py:152-158)."""
    text, positions = conll_words_to_text(words)
    entities = [
        {
            "start": positions[s][0],
            "end": positions[e - 1][1],
            "label": label,
            "text": text[positions[s][0] : positions[e - 1][1]],
        }
        for s, e, label in conll_tags_to_spans(tags)
    ]
    return {"text": text, "entities": entities, "word_positions": positions}


# ---------------------------------------------------------------------------
# Evaluation math (src/evaluation/eval.py:6-27)
# ---------------------------------------------------------------------------

def calculate_metrics(
    num_corrects: int, num_preds: int, num_golds: int
) -> tuple[float, float, float]:
    """Micro P/R/F1 with nan on zero denominators (src/evaluation/eval.py:6-10)."""
    precision = num_corrects / num_preds if num_preds > 0 else float("nan")
    recall = num_corrects / num_golds if num_golds > 0 else float("nan")
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall > 0
        else float("nan")
    )
    return precision, recall, f1


# ---------------------------------------------------------------------------
# Prompt rendering (src/data/preprocessor.py:118-193) — pure string builders
# ---------------------------------------------------------------------------

def get_collective_prompt(
    text: str,
    entity_list: list[tuple[str, str]],
    label_names: list[str],
    language: str = "en",
    system_message: Optional[str] = None,
) -> list[dict[str, str]]:
    """Collective-format chat turns (src/data/preprocessor.py:118-136).

    ``entity_list`` is the already-deduped [(mention, type-name)] gold list
    (S8, preprocessor.py:120); callers compute it so this stays pure.
    """
    output = "[" + ", ".join(f'("{m}", "{l}")' for m, l in entity_list) + "]"
    messages = [{"role": "system", "content": system_message}] if system_message else []
    if language == "ja":
        user = (
            "テキストからカテゴリに関連するすべてのエンティティを見つけてください。 "
            '出力は以下の形式のタプルのリストにしてください： [("entity 1", "type of entity 1"), ... ]\n'
            f"Option: {', '.join(label_names)}。\nText: {text}"
        )
    elif language == "en":
        user = (
            "Find all the entities associated with the category in the text. "
            'The output should be in a list of tuples of the following format: [("entity 1", "type of entity 1"), ... ]\n'
            f"Option: {', '.join(label_names)}.\nText: {text}"
        )
    else:
        raise ValueError(
            f"Unsupported language: {language}. Supported languages are 'ja' and 'en'."
        )
    messages.extend(
        [{"role": "user", "content": user}, {"role": "assistant", "content": output}]
    )
    return messages


def get_universal_prompt(
    text: str,
    entity_list: list[tuple[str, str]],
    language: str = "en",
    system_message: Optional[str] = None,
) -> list[dict[str, str]]:
    """UniversalNER-style turns (src/data/preprocessor.py:138-155)."""
    output = "[" + ", ".join(f'("{m}", "{l}")' for m, l in entity_list) + "]"
    messages = [{"role": "system", "content": system_message}] if system_message else []
    if language == "ja":
        user = (
            "与えられたテキストからすべてのエンティティを抽出し、エンティティタイプを識別してください。 "
            '出力は以下の形式のタプルのリストにしてください： [("entity 1", "type of entity 1"), ... ]\n'
            f"テキスト: {text}"
        )
    elif language == "en":
        user = (
            "Given a passage, your task is to extract all entities and identify their entity types from the text. "
            'The output should be in a list of tuples of the following format: [("entity 1", "type of entity 1"), ... ]\n'
            f"Passage: {text}"
        )
    else:
        raise ValueError(
            f"Unsupported language: {language}. Supported languages are 'ja' and 'en'."
        )
    messages.extend(
        [{"role": "user", "content": user}, {"role": "assistant", "content": output}]
    )
    return messages


def get_individual_prompt(
    text: str,
    per_label_mentions: list[tuple[str, list[str]]],
    language: str = "en",
    system_message: Optional[str] = None,
) -> list[dict[str, str]]:
    """Individual-format QA turns, one pair per label (preprocessor.py:157-193).

    ``per_label_mentions``: [(type-name, [mentions...])] in label order —
    label shuffling (preprocessor.py:174-175) is the caller's choice; the
    Spark pipeline keeps deterministic order for reproducibility.
    """
    messages = [{"role": "system", "content": system_message}] if system_message else []
    if language == "ja":
        messages.extend(
            [
                {"role": "user", "content": f"テキスト: {text}"},
                {"role": "assistant", "content": "テキストを読み終えました。"},
            ]
        )
    elif language == "en":
        messages.extend(
            [
                {"role": "user", "content": f"Text: {text}"},
                {"role": "assistant", "content": "I’ve read this text."},
            ]
        )
    else:
        raise ValueError(
            f"Unsupported language: {language}. Supported languages are 'ja' and 'en'."
        )
    for name, mentions in per_label_mentions:
        output = "[" + ", ".join(f'"{m}"' for m in mentions) + "]"
        if language == "ja":
            user = (
                f"テキストには何の{name}が述べられていますか？ "
                '出力は以下の形式のリストにしてください： ["entity 1", ... ]'
            )
        else:
            user = (
                f"What describes {name} in the text? "
                'The output should be in a list of the following format: ["entity 1", ... ]'
            )
        messages.extend(
            [{"role": "user", "content": user}, {"role": "assistant", "content": output}]
        )
    return messages


def gold_entity_list(
    text: str, entities: list[dict[str, Any]], labels2names: dict[str, str]
) -> list[tuple[str, str]]:
    """Dedup'd [(mention, type-name)] gold list (S8, preprocessor.py:120).

    The reference builds this via ``list(set(...))`` whose order is Python
    hash-dependent; we sort for determinism. Only prompt text is affected —
    never spans — so the P/R gate is unaffected.
    """
    pairs = {
        (text[e["start"] : e["end"]], labels2names[e["label"]]) for e in entities
    }
    return sorted(pairs)
