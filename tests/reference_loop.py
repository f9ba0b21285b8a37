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
"""

from __future__ import annotations

from collections import defaultdict
from typing import Any

from generative_ner_spark.functions import textops
from generative_ner_spark.sources import synth
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
