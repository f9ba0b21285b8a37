"""BIO/CoNLL ingestion kernel (FIXTURES.md F7): golden cases on textops, and
parity with the reference's decoders where its source tree is present."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from generative_ner_spark.functions import textops
from tests.reference_oracle import reference, requires_reference

BIO_CASES = [
    (["B-PER", "I-PER", "O"], [(0, 2, "PER")]),
    (["B-PER", "B-PER"], [(0, 1, "PER"), (1, 2, "PER")]),        # adjacent B
    (["I-PER", "I-PER"], [(0, 2, "PER")]),                        # bare I start
    (["I-PER", "I-LOC"], [(0, 1, "PER"), (1, 2, "LOC")]),        # label change
    (["O", "O"], []),
    (["B-ORG"], [(0, 1, "ORG")]),                                 # trailing at EOS
    (["B-ORG", "I-ORG", "I-ORG", "B-LOC", "I-LOC"],
     [(0, 3, "ORG"), (3, 5, "LOC")]),
    ([], []),
]


@pytest.mark.parametrize("tags,expected", BIO_CASES)
def test_bio_decode_golden(tags, expected):
    assert list(textops.conll_tags_to_spans(tags)) == expected


@requires_reference
def test_bio_decode_golden_reference():
    for tags, expected in BIO_CASES:
        assert list(reference()._conll_tags_to_spans(tags)) == expected


_tag = st.sampled_from(
    ["O", "B-PER", "I-PER", "B-ORG", "I-ORG", "B-LOC", "I-LOC", "B-MISC", "I-MISC"]
)


@requires_reference
@given(st.lists(_tag, max_size=20))
@settings(max_examples=300, deadline=None)
def test_bio_decode_parity_fuzz(tags):
    assert list(textops.conll_tags_to_spans(tags)) == list(
        reference()._conll_tags_to_spans(tags)
    )


WORDS = ["Alice", "met", "Bob", "."]


def test_words_to_text_offsets():
    text, pos = textops.conll_words_to_text(WORDS)
    assert text == "Alice met Bob ."
    assert pos == [(0, 5), (6, 9), (10, 13), (14, 15)]
    for (s, e), w in zip(pos, WORDS):
        assert text[s:e] == w


@requires_reference
def test_words_to_text_offsets_reference():
    assert reference()._conll_words_to_text(WORDS) == textops.conll_words_to_text(
        WORDS)


@requires_reference
@given(st.lists(st.text(alphabet="abcXYZ", min_size=1, max_size=8), max_size=10))
@settings(max_examples=200, deadline=None)
def test_words_to_text_parity_fuzz(words):
    assert textops.conll_words_to_text(words) == reference()._conll_words_to_text(
        words)


EU_WORDS = ["EU", "rejects", "German", "call", "."]
EU_TAGS = ["B-ORG", "O", "B-MISC", "O", "O"]


def test_conll_to_example_end_to_end():
    ours = textops.conll_to_example(EU_WORDS, EU_TAGS)
    assert ours["text"] == "EU rejects German call ."
    assert ours["entities"] == [
        {"start": 0, "end": 2, "label": "ORG", "text": "EU"},
        {"start": 11, "end": 17, "label": "MISC", "text": "German"},
    ]


@requires_reference
def test_conll_to_example_reference():
    assert textops.conll_to_example(EU_WORDS, EU_TAGS) == reference(
    )._conll_to_example(EU_WORDS, EU_TAGS)
