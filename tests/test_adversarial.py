"""Adversarial generations through the SPARK plumbing (not just pure fns):
unicode, junk, malformed literals, unknown types — two-stage ground() vs the
pure-python chain built from the reference's own functions."""

from __future__ import annotations

import pytest

from generative_ner_spark.operators import detect
from tests.reference_loop import NAMES2LABELS
from tests.reference_oracle import reference, requires_reference

ADVERSARIAL = [
    # (text, generated_text)
    ("Alice met Bob", '[("alice", "person"), ("bob", "person")]'),
    ("Alice met Bob", 'preamble line\n[("alice", "person")]\n[]'),
    ("Alice met Bob", '[("alice", "widget")]'),                # unknown type
    ("Alice met Bob", '[("", "person"), ("alice",)]'),          # filtered
    ("Alice met Bob", '[("unterminated", '),                    # parse -> []
    ("東京 と 大阪", '[("東京", "location"), ("大阪", "location")]'),  # CJK
    ("crème brûlée time", '[("crème brûlée", "miscellaneous")]'),  # accents
    ("fun 🎉 party 🎉 here", '[("🎉", "miscellaneous")]'),        # emoji x2
    ("a:b ratio and a:b again", '[("a:b", "miscellaneous")]'),   # ':' survives
    ("nested [brackets] here", '[("brackets", "location")]'),
    ("Alice met Bob", '[1, 2, 3]'),                              # ints -> []
    ("Alice met Bob", '["alice", ("bob", "person")]'),           # mixed types
    ("repeat alice alice alice", '[("alice", "person")]'),       # multi-match
    ("", '[("ghost", "person")]'),                               # empty text
    ("Alice met Bob", ""),                                       # empty gen
]


def _pure_chain(text: str, gen: str) -> set[tuple]:
    """pred.py:43-55 via the reference's extracted functions."""
    spans = set()
    preds = reference().parse_output(gen)
    lowered = text.lower()
    for p in sorted(
        set(preds),
        key=lambda x: (isinstance(x, tuple), x if isinstance(x, tuple) else (x,)),
    ):
        if not isinstance(p, tuple) or len(p) != 2 or p[0] == "":
            continue
        mention, name = p
        label = NAMES2LABELS.get(name, name)
        for s, e in reference().regex(lowered, mention):
            spans.add((s, e, label))
    return spans


@requires_reference
def test_adversarial_generations_through_spark(spark):
    rows = [
        (f"e{i}", "d", i, text, gen)
        for i, (text, gen) in enumerate(ADVERSARIAL)
    ]
    gens = spark.createDataFrame(
        rows,
        "example_id string, doc_id string, span_offset int, text string, "
        "generated_text string",
    )
    got: dict[str, set] = {}
    for r in detect.ground(gens).collect():
        got.setdefault(r.example_id, set()).add((r.start, r.end, r.label))
    for i, (text, gen) in enumerate(ADVERSARIAL):
        want = _pure_chain(text, gen)
        assert got.get(f"e{i}", set()) == want, (
            f"case {i}: text={text!r} gen={gen!r}: "
            f"{got.get(f'e{i}', set())} != {want}"
        )


@requires_reference
def test_mention_norm_unicode_roundtrip(spark):
    """mention_norm stays consistent with normalize_answer for unicode."""
    rows = [("e0", "d", 0, "crème brûlée time", '[("crème brûlée", "miscellaneous")]')]
    gens = spark.createDataFrame(
        rows,
        "example_id string, doc_id string, span_offset int, text string, "
        "generated_text string",
    )
    out = detect.ground(gens).collect()
    assert len(out) == 1
    assert out[0].mention_norm == reference().normalize_answer("crème brûlée")


def test_md5_hash_family_twins_fuzz(spark):
    """Property fuzz for the md5 hash families that BACK the q19/q20/q31
    DuckDB oracles: the Spark SQL expressions (conv(substring(md5)) token
    hash -> 60-bit simhash; md5-prefix universal-hash minhash) must be
    bit-exact twins of a pure-python recomputation over adversarial ASCII
    texts (punctuation runs, repeated tokens, long words, empties).

    ASCII-only on purpose: Java/RE2 '\\s+' is ASCII whitespace while
    Python's re is unicode-aware — the ORACLE side (DuckDB RE2) matches
    Spark, and the pure twin here pins the shared ASCII semantics.
    """
    import hashlib
    import random
    import re

    from generative_ner_spark.operators import dedup
    from generative_ner_spark.operators.canonicalize import _MH_P, _mh_coeffs
    from tests.reference_loop import minhash_signatures

    rng = random.Random(99)
    alphabet = "abcXYZ019 .,:;!?()[]'\"-_/\t"
    texts = ["", " ", "one", "a  b", "tab\tsep", "trailing  "]
    texts += ["".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 120)))
              for _ in range(40)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")

    # --- simhash (60-bit md5 family) -------------------------------------
    got_sh = {r.doc_id: r.simhash for r in dedup.with_simhash(
        df, hash_family="md5").select("doc_id", "simhash").collect()}
    for i, t in enumerate(texts):
        tokens = [tok for tok in re.split(r"[ \t\n\x0b\f\r]+", t) if tok]
        hs = [int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
              for tok in tokens]
        sig = 0
        for bit in range(60):
            if sum(1 if (h >> bit) & 1 else -1 for h in hs) > 0:
                sig |= 1 << bit
        assert got_sh[i] == sig, (i, t)

    # --- minhash (md5-prefix universal hashing) --------------------------
    got_mh = {r.id: list(r.minhash) for r in minhash_signatures(
        df.selectExpr("doc_id as id", "text as nm"), "nm", n=5, k=16,
        hash_family="md5").collect()}
    coeffs = _mh_coeffs(16)
    for i, t in enumerate(texts):
        if len(t) < 5:
            shingles = [t]
        else:
            shingles = list(dict.fromkeys(
                t[j:j + 5] for j in range(len(t) - 4)))
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _MH_P
              for s in shingles]
        want = [min((h * a + b) % _MH_P for h in hs) for a, b in coeffs]
        assert got_mh[i] == want, (i, t)
