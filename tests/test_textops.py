"""Tests of the pure kernel ``functions.textops``.

The golden cases pin textops' own behaviour. The parity tests compare it
with the reference's functions (tests/reference_oracle.py extracts them from
the reference source tree at test time) and skip where that tree is absent.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from generative_ner_spark.functions import textops
from tests.reference_loop import evaluate_span_sets
from tests.reference_oracle import reference, requires_reference

# ---------------------------------------------------------------------------
# normalize_answer (preprocessor.py:24-37)
# ---------------------------------------------------------------------------

GOLDEN_NORM = [
    ("Hello, World!", "hello world"),
    ("  A:B  c ", "a:b c"),                 # ':' survives
    ("don't — stop", "dont — stop"),        # non-ASCII punctuation survives
    ("", ""),
    ("...", ""),
    ("The  Quick\tBrown\nFox", "the quick brown fox"),
    ("re-entry", "reentry"),
    ("a(b)c[d]e{f}g", "abcdefg"),
]


@pytest.mark.parametrize("raw,expected", GOLDEN_NORM)
def test_normalize_golden(raw, expected):
    assert textops.normalize_answer(raw) == expected


@requires_reference
def test_normalize_golden_reference():
    for raw, expected in GOLDEN_NORM:
        assert reference().normalize_answer(raw) == expected


@requires_reference
@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_normalize_parity_fuzz(s):
    assert textops.normalize_answer(s) == reference().normalize_answer(s)


# ---------------------------------------------------------------------------
# parser (preprocessor.py:39-57)
# ---------------------------------------------------------------------------

GOLDEN_PARSE = [
    ('[("Alice", "person"), ("Bob", "person")]', [("alice", "person"), ("bob", "person")]),
    ('[("Alice", "person"), ("Alice", "person")]', [("alice", "person")]),  # dedup
    ('[("A!", "x"), ("a", "x")]', [("a", "x")]),  # dedup AFTER normalize
    ("[]", []),
    ("no brackets here", []),
    ('[("unterminated", ', []),          # literal_eval fails -> []
    ('["solo", "items"]', ["solo", "items"]),
    ('[1, 2]', []),                       # int has no .lower -> exception -> []
    ('prefix [("x","y")]', []),           # re.MATCH anchors at start -> no match
    ('[("a","b")] suffix [("c","d")]', [("a", "b")]),  # first bracket only
    ('[("a","b","c")]', [("a", "b", "c")]),            # 3-tuple kept (filtered later)
]


@pytest.mark.parametrize("raw,expected", GOLDEN_PARSE)
def test_parser_golden(raw, expected):
    assert textops.parser(raw) == expected


@requires_reference
def test_parser_golden_reference():
    for raw, expected in GOLDEN_PARSE:
        assert reference().parser(raw) == expected


@requires_reference
@given(st.text(max_size=150))
@settings(max_examples=300, deadline=None)
def test_parser_parity_fuzz(s):
    assert textops.parser(s) == reference().parser(s)


@requires_reference
@given(
    st.lists(
        st.tuples(st.text(max_size=12), st.text(max_size=12)), max_size=6
    )
)
@settings(max_examples=200, deadline=None)
def test_parser_roundtrip_parity(items):
    """Well-formed bracket lists (the stub-generator output shape)."""
    s = "[" + ", ".join(repr(t) for t in items) + "]"
    assert textops.parser(s) == reference().parser(s)


PARSE_MULTILINE = '[("a","b")]\njunk line\n[("c","d")]\n[("a","b")]'


def test_parse_output_multiline():
    # NO cross-line dedup (parity with preprocessor.py:195-201)
    assert textops.parse_output(PARSE_MULTILINE) == [
        ("a", "b"), ("c", "d"), ("a", "b")]


@requires_reference
def test_parse_output_multiline_reference():
    assert reference().parse_output(PARSE_MULTILINE) == textops.parse_output(
        PARSE_MULTILINE)


# ---------------------------------------------------------------------------
# regex grounding (gpt/base/utils.py:4-9)
# ---------------------------------------------------------------------------

GOLDEN_REGEX = [
    ("acme was acme and acme", "acme", [(0, 4), (9, 13), (18, 22)]),
    # ':' survives normalize_answer and is not a regex metachar
    ("ratio a:b here a:b", "a:b", [(6, 9), (15, 18)]),
]


@pytest.mark.parametrize("txt,pat,expected", GOLDEN_REGEX)
def test_regex_ground_golden(txt, pat, expected):
    assert textops.regex_ground(txt, pat) == expected


@requires_reference
def test_regex_ground_golden_reference():
    for txt, pat, expected in GOLDEN_REGEX:
        assert reference().regex(txt, pat) == expected


@requires_reference
@given(st.text(alphabet="abc :", max_size=40), st.text(alphabet="abc :", min_size=1, max_size=6))
@settings(max_examples=200, deadline=None)
def test_regex_ground_parity_fuzz(txt, pat):
    assert textops.regex_ground(txt, pat) == reference().regex(txt, pat)


# ---------------------------------------------------------------------------
# span extraction (pred.py:43-65 semantics)
# ---------------------------------------------------------------------------

def test_spans_collective_keyerror_fallback():
    # unknown type name kept raw (pred.py:51-54)
    n2l = {"person": "PER"}
    spans = textops.spans_from_generation_collective(
        "Alice met Bob", '[("alice", "person"), ("bob", "widget")]', n2l
    )
    assert ("alice" in "alice met bob")
    assert (0, 5, "PER") in spans
    assert (10, 13, "widget") in spans


def test_spans_collective_filters():
    n2l = {"person": "PER"}
    spans = textops.spans_from_generation_collective(
        "Alice", '[("", "person"), ("alice",), "alice", ("alice", "person")]', n2l
    )
    # empty mention, 1-tuple, bare string all dropped; only the 2-tuple grounds
    assert spans == [(0, 5, "PER")]


def test_spans_individual():
    spans = textops.spans_from_generation_individual(
        "Alice met alice", '["alice"]', "PER"
    )
    assert spans == [(0, 5, "PER"), (10, 15, "PER")]


# ---------------------------------------------------------------------------
# eval math (eval.py:6-27)
# ---------------------------------------------------------------------------

def test_metrics_nan_denominators():
    p, r, f1 = textops.calculate_metrics(0, 0, 0)
    assert math.isnan(p) and math.isnan(r) and math.isnan(f1)


def test_metrics_golden():
    assert textops.calculate_metrics(1, 2, 4) == (0.5, 0.25, 1 / 3)


@requires_reference
def test_metrics_nan_denominators_reference():
    rp, rr, rf = reference().calculate_metrics(0, 0, 0)
    assert math.isnan(rp) and math.isnan(rr) and math.isnan(rf)


@requires_reference
@given(st.integers(0, 50), st.integers(0, 50), st.integers(0, 50))
@settings(max_examples=100, deadline=None)
def test_metrics_parity(c, p, g):
    c = min(c, p, g)
    ours = textops.calculate_metrics(c, p, g)
    ref = reference().calculate_metrics(c, p, g)
    for a, b in zip(ours, ref):
        assert (math.isnan(a) and math.isnan(b)) or a == b


def test_evaluate_span_sets():
    pairs = [
        ([(0, 1, "A")], [(0, 1, "A"), (2, 3, "B")]),
        ([(5, 6, "C")], []),
    ]
    m = evaluate_span_sets(pairs)
    assert m["precision"] == 0.5 and m["recall"] == 0.5 and m["f1"] == 0.5
