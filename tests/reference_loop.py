"""Straight-line pure-Python oracle for the end-to-end P/R >= 0.95 gate.

Mirrors the reference's eager per-example loop (FIXTURES.md F6):
parse -> filter -> ground exactly as the reference's src/prediction/
pred.py:43-55, using the in-repo pure kernel ``functions.textops``
(parse_output, regex_ground, normalize_answer — byte-parity with the
reference's own functions is pinned by test_textops.py), then the KG
extension stages (link by exact alias top-1, canonicalize by EXACT
pairwise Jaccard + union-find, co-occurrence/typing triples) computed
brute-force. Needs no reference checkout.

The Spark pipeline must match these triples at P >= 0.95 and R >= 0.95
(micro, reference eval math). Canonicalization is the one stage where the
pipeline is allowed to diverge: Spark uses MinHash-LSH *blocking* (approx
recall) with exact-Jaccard verification, the oracle checks ALL pairs — so
any miss is an LSH recall miss, bounded by the (b, r) S-curve.

The module also holds the smaller pure oracles the tests check running
code against: the line-by-line CoNLL reader (vs read_conll_distributed),
micro P/R/F1 over span sets (vs evaluate.evaluate_predictions), the
scalar fee (vs cost.with_cost_estimate), and one entry into the MinHash
signature kernel through the shingler canonical_map runs.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Any, Iterable, Iterator

from generative_ner_spark.functions import textops
from generative_ner_spark.operators import cost
from generative_ner_spark.sources import conll, synth
from generative_ner_spark.sources.synth import LABELS2NAMES, SynthConfig

NAMES2LABELS = {v: k for k, v in LABELS2NAMES.items()}


def _mixed_key(p):
    return (1, p) if isinstance(p, tuple) else (0, (p,))


def oracle_mentions(cfg: SynthConfig) -> list[dict[str, Any]]:
    """Reference-loop mention extraction over the synthetic corpus."""
    catalog = synth.entity_catalog(cfg)
    out = []
    for i in range(cfg.n_docs):
        d = synth.make_document(i, cfg, catalog)
        golds_by_span: dict[int, list] = defaultdict(list)
        for g in d["golds"]:
            golds_by_span[g["span_offset"]].append(
                (g["start"], g["end"], g["label"])
            )
        for span in d["spans"]:
            if span["kind"] != "text":
                continue
            text = span["text"]
            off = span["offset"]
            eid = f"{d['doc_id']}:{off}"
            gen = synth.stub_generation_collective(
                eid, text, golds_by_span.get(off, []), cfg
            )
            # pred.py:43-55 verbatim semantics via the textops kernel
            preds = textops.parse_output(gen)
            lowered = text.lower()
            for p in sorted(set(preds), key=_mixed_key):
                if not isinstance(p, tuple) or len(p) != 2 or p[0] == "":
                    continue
                mention, label_name = p
                label = NAMES2LABELS.get(label_name, label_name)
                for s, e in textops.regex_ground(lowered, mention):
                    out.append(
                        {
                            "doc_id": d["doc_id"],
                            "span_offset": off,
                            "start": s,
                            "end": e,
                            "label": label,
                            "mention_norm": textops.normalize_answer(lowered[s:e]),
                        }
                    )
    return out


def oracle_link(mentions: list[dict], cfg: SynthConfig) -> list[dict]:
    """Exact-alias top-1 linking: max prior, tie-break min entity_id."""
    best: dict[str, tuple] = {}
    for row in synth.alias_rows(cfg):
        cur = best.get(row["alias"])
        key = (-row["prior"], row["entity_id"])
        if cur is None or key < cur[0]:
            best[row["alias"]] = (key, row["entity_id"], row["entity_type"])
    import hashlib

    out = []
    for m in mentions:
        hit = best.get(m["mention_norm"])
        if hit:
            out.append({**m, "entity_id": hit[1], "entity_type": hit[2]})
        else:
            nil = "nil:" + hashlib.md5(m["mention_norm"].encode()).hexdigest()
            out.append({**m, "entity_id": nil, "entity_type": m["label"]})
    return out


def _shingles(name: str, n: int = 3) -> frozenset[str]:
    if len(name) < n:
        return frozenset([name])
    return frozenset(name[i : i + n] for i in range(len(name) - n + 1))


def oracle_canonical_map(cfg: SynthConfig, threshold: float = 0.6) -> dict[str, str]:
    """EXACT all-pairs Jaccard >= threshold + union-find, canonical = min id."""
    cat = synth.entity_catalog(cfg)
    sh = {e["entity_id"]: _shingles(e["name"]) for e in cat}
    parent = {e["entity_id"]: e["entity_id"] for e in cat}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo

    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter and inter / len(sh[a] | sh[b]) >= threshold:
                union(a, b)
    return {i: find(i) for i in ids}


def oracle_triples(cfg: SynthConfig) -> set[tuple]:
    """Full oracle: (subj, pred, obj, doc_id, span_offset) triple set."""
    linked = oracle_link(oracle_mentions(cfg), cfg)
    canon = oracle_canonical_map(cfg)
    triples: set[tuple] = set()
    by_span: dict[tuple, set] = defaultdict(set)
    for m in linked:
        cid = canon.get(m["entity_id"], m["entity_id"])
        triples.add(
            (cid, "instance_of", m["entity_type"], m["doc_id"], m["span_offset"])
        )
        by_span[(m["doc_id"], m["span_offset"])].add(cid)
    for (doc_id, off), ids in by_span.items():
        ordered = sorted(ids)
        for i, a in enumerate(ordered):
            for b in ordered[i + 1 :]:
                triples.add((a, "co_occurs_with", b, doc_id, off))
    return triples


def conll_lines_to_documents(
    lines: Iterable[str], basename: str = "conll"
) -> Iterator[dict[str, Any]]:
    """CoNLL lines -> document dicts, one line at a time
    (scripts/conll2003.py:109-149 semantics, with the EOF/docstart
    pending-word flush fix recorded in COVERAGE.md)."""
    sentences: list[dict[str, Any]] = []
    words: list[str] = []
    labels: list[str] = []
    doc_idx = 0

    def flush_sentence():
        nonlocal words, labels
        if words:
            sentences.append(textops.conll_to_example(words, labels))
            words, labels = [], []

    def flush_doc():
        nonlocal sentences, doc_idx
        if sentences:
            yield conll._doc_record(basename, doc_idx, sentences)
            doc_idx += 1
            sentences = []

    for raw in lines:
        line = raw.rstrip()
        if line.startswith("-DOCSTART"):
            flush_sentence()
            yield from flush_doc()
        elif not line:
            flush_sentence()
        else:
            cols = line.split(" ")
            words.append(cols[0])
            labels.append(cols[-1])
    flush_sentence()
    yield from flush_doc()


def evaluate_span_sets(
    pairs: Iterable[tuple[Iterable[tuple], Iterable[tuple]]],
) -> dict[str, float]:
    """Micro P/R/F1 over (golds, preds) per record — set-intersection exact
    match, parity with src/evaluation/eval.py:13-27."""
    n_correct = n_pred = n_gold = 0
    for golds, preds in pairs:
        gold_set = set(golds)
        pred_set = set(preds)
        n_gold += len(gold_set)
        n_pred += len(pred_set)
        n_correct += len(pred_set & gold_set)
    p, r, f1 = textops.calculate_metrics(n_correct, n_pred, n_gold)
    return {"precision": p, "recall": r, "f1": f1}


def count_fee(prompt_tokens: int, completion_tokens: int, model: str,
              use_batchapi: bool = False) -> dict:
    """The reference's count_fee (src/gpt/cost.py:133-171) for one
    response's usage: {usd, jpy, prompt_tokens, completion_tokens}, with
    the Batch-API halving and the superseded/unknown-model raises."""
    prices = cost.resolve_model_prices(model)
    fee = (prices["prompt"] * prompt_tokens / 1000
           + prices["completion"] * completion_tokens / 1000)
    if use_batchapi:
        fee /= 2
    return {
        "usd": fee,
        "jpy": fee * cost.FX_RATE_JPY,
        "prompt_tokens": prompt_tokens,
        "completion_tokens": completion_tokens,
    }


def minhash_signatures(df, text_col: str, n: int, k: int = 64,
                       hash_family: str = "xxhash64", scheme: str = "kmin"):
    """(id, <text_col>) -> (id, minhash): the shingler canonical_map runs
    (shingle_hash_rows, one distinct hash set per id) feeding the
    _signatures kernel."""
    from pyspark.sql import functions as F

    from generative_ner_spark.operators.canonicalize import (
        _signatures, shingle_hash_rows,
    )

    sets = (shingle_hash_rows(df, "id", text_col, n=n, hash_family=hash_family)
            .groupBy("id").agg(F.collect_set("_sh").alias("shingles")))
    return _signatures(sets, k, scheme)
