"""Deterministic benchmark inputs and their pure-Python oracles.

Everything here is a function of the workload seed and is cached on disk
per seed, so input generation and oracle computation stay outside every
timed region. Nothing here starts Spark: the corpus is written with
pyarrow in the same schemas the pipeline reads, and the oracles use only
the in-repo pure kernels (``functions.textops``, ``sources.synth``).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from generative_ner_spark.functions import textops
from generative_ner_spark.sources import synth
from generative_ner_spark.sources.synth import LABELS2NAMES, SynthConfig

# Input sizes. Every benchmark run is a fresh process that pays JVM start,
# set-up and a cold run (about 30 s on 4 cores whatever the input size);
# these sizes keep a whole run near 40 s, so that the 70 runs of a full
# measurement of three workloads fit in under an hour.
KG_DOCS = 2500  # corpus of both kg workloads
# Share of the corpus's distinct prompts already in the kg_resume checkpoint.
RESUME_CACHED = 0.75

# Part co-occurrence graph: baskets of 1..7 distinct parts, as TPC-H orders
# hold line items. The structure is fixed; the seed only relabels ids, so
# every seed does the same work. Orders and parts keep sf0.1's 150k:20k
# ratio, so the average degree is sf0.1's (112 here, 120 there): at
# 150000 x 20000 this generator gives 20k nodes and 1.196M edges (density
# 0.6%); at 7500 x 1000 it gives 1000 nodes and 56k edges (density 11%).
GRAPH_ORDERS = 7500
GRAPH_PARTS = 1000
GRAPH_STRUCTURE_SEED = "graph-structure"
KHOP_SEEDS = 4
KHOP_K = 2

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
_DOCS = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))])
_GOLDS = pa.schema([("doc_id", pa.string()), ("span_offset", pa.int32()),
                    ("start", pa.int64()), ("end", pa.int64()),
                    ("label", pa.string())])
_ALIAS = pa.schema([("alias", pa.string()), ("entity_id", pa.string()),
                    ("prior", pa.float64()), ("entity_type", pa.string())])
_TRIPLES = pa.schema([("subj_id", pa.string()), ("pred", pa.string()),
                      ("obj_id", pa.string()), ("doc_id", pa.string()),
                      ("span_offset", pa.int32())])
_ENTITIES = pa.schema([("entity_id", pa.string()), ("name", pa.string()),
                       ("entity_type", pa.string())])
_CANONICAL = pa.schema([("entity_id", pa.string()),
                        ("canonical_id", pa.string())])


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _cached(cache_root: str, key: str, build) -> str:
    """Directory under ``cache_root`` holding ``build(dir)``'s files; built
    once per key and version of this file, committed by an atomic rename so
    a killed run leaves no half input behind."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    final = os.path.join(cache_root, f"{key}-{version}")
    if not os.path.exists(os.path.join(final, "meta.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    return final


def load_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# kg corpus
# ---------------------------------------------------------------------------

def kg_inputs(cache_root: str, seed: int) -> str:
    return _cached(cache_root, f"kg-{seed}", lambda d: _build_kg(d, seed))


def _examples(docs: list[dict]):
    """(example_id, doc_id, span_offset, text, sorted gold tuples) per text
    span, as ``detect.explode_text_spans`` + ``attach_golds`` produce."""
    for d in docs:
        golds = defaultdict(list)
        for g in d["golds"]:
            golds[g["span_offset"]].append((g["start"], g["end"], g["label"]))
        for s in d["spans"]:
            if s["kind"] == "text":
                off = s["offset"]
                yield (f"{d['doc_id']}:{off}", d["doc_id"], off, s["text"],
                       sorted(golds[off]))


def _build_kg(out: str, seed: int) -> dict:
    cfg = SynthConfig(n_docs=KG_DOCS, seed=seed)
    catalog = synth.entity_catalog(cfg)
    docs = [synth.make_document(i, cfg, catalog) for i in range(KG_DOCS)]
    # A collective prompt renders only the span text and the fixed label
    # set, so distinct prompts are distinct texts. Trim the corpus to the
    # longest prefix whose distinct-prompt count divides by 4, so exactly
    # RESUME_CACHED of them can be pre-generated.
    seen: set[str] = set()
    prefix_prompts = [0]  # distinct prompts among the first i docs
    for d in docs:
        seen.update(s["text"] for s in d["spans"] if s["kind"] == "text")
        prefix_prompts.append(len(seen))
    n_docs = max(i for i, n in enumerate(prefix_prompts) if n % 4 == 0)
    n_prompts = prefix_prompts[n_docs]
    docs = docs[:n_docs]
    cfg = SynthConfig(n_docs=n_docs, seed=seed)

    _write([{"doc_id": d["doc_id"], "spans": d["spans"]} for d in docs],
           _DOCS, os.path.join(out, "docs.parquet"))
    _write([{"doc_id": d["doc_id"], **g} for d in docs for g in d["golds"]],
           _GOLDS, os.path.join(out, "golds.parquet"))
    _write(synth.alias_rows(cfg), _ALIAS, os.path.join(out, "alias.parquet"))
    _write(catalog, _ENTITIES, os.path.join(out, "entities.parquet"))

    examples = list(_examples(docs))
    cached_texts: set[str] = set()
    for ex in examples:
        if len(cached_texts) == int(n_prompts * RESUME_CACHED):
            break
        cached_texts.add(ex[3])
    _write([{"example_id": ex[0]} for ex in examples if ex[3] in cached_texts],
           pa.schema([("example_id", pa.string())]),
           os.path.join(out, "resume_cached_examples.parquet"))

    # the canonical map kg_resume reads as committed by an earlier build
    canon = oracle_canonical_map(catalog)
    _write([{"entity_id": e, "canonical_id": c} for e, c in sorted(canon.items())],
           _CANONICAL, os.path.join(out, "canonical.parquet"))
    triples = oracle_triples(examples, cfg, canon)
    _write([dict(zip(_TRIPLES.names, t)) for t in sorted(triples)], _TRIPLES,
           os.path.join(out, "oracle_triples.parquet"))
    return {"seed": seed, "n_docs": n_docs, "n_examples": len(examples),
            "n_prompts": n_prompts,
            "n_cached_prompts": int(n_prompts * RESUME_CACHED),
            "n_generated": sum(ex[3] not in cached_texts for ex in examples),
            "n_oracle_triples": len(triples)}


def _shingles(name: str, n: int = 3) -> frozenset[str]:
    if len(name) < n:
        return frozenset([name])
    return frozenset(name[i:i + n] for i in range(len(name) - n + 1))


def oracle_canonical_map(catalog: list[dict], threshold: float = 0.6) -> dict:
    """Exact all-pairs Jaccard >= threshold over name 3-shingles, merged by
    union-find; the canonical id is the smallest member id."""
    sh = {e["entity_id"]: _shingles(e["name"]) for e in catalog}
    parent = {i: i for i in sh}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if inter and inter / len(sh[a] | sh[b]) >= threshold:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def oracle_triples(examples, cfg: SynthConfig, canon: dict) -> set:
    """(subj, pred, obj, doc_id, span_offset) triples of the fused kg_build
    path: stub generation per example, parse + regex grounding, alias top-1
    linking (max prior, then min entity id; nil ids from the md5 of the
    mention), canonicalization by ``canon`` (``oracle_canonical_map``),
    then typing and co-occurrence triples per text span."""
    n2l = {v: k for k, v in LABELS2NAMES.items()}
    best: dict[str, tuple] = {}
    for row in synth.alias_rows(cfg):
        key = (-row["prior"], row["entity_id"])
        if row["alias"] not in best or key < best[row["alias"]][0]:
            best[row["alias"]] = (key, row["entity_id"], row["entity_type"])
    out: set = set()
    for eid, doc_id, off, text, golds in examples:
        gen = synth.stub_generation_collective(eid, text, golds, cfg)
        lowered = text.lower()
        ids = set()
        for s, e, label in textops.spans_from_generation_collective(
                text, gen, n2l):
            norm = textops.normalize_answer(lowered[s:e])
            hit = best.get(norm)
            if hit:
                ent, etype = hit[1], hit[2]
            else:
                ent = "nil:" + hashlib.md5(norm.encode()).hexdigest()
                etype = label
            cid = canon.get(ent, ent)
            ids.add(cid)
            out.add((cid, "instance_of", etype, doc_id, off))
        ordered = sorted(ids)
        for i, a in enumerate(ordered):
            for b in ordered[i + 1:]:
                out.add((a, "co_occurs_with", b, doc_id, off))
    return out


# ---------------------------------------------------------------------------
# part co-occurrence graph
# ---------------------------------------------------------------------------

def graph_inputs(cache_root: str, seed: int) -> str:
    return _cached(cache_root, f"graph-{seed}", lambda d: _build_graph(d, seed))


def _build_graph(out: str, seed: int) -> dict:
    shape = random.Random(GRAPH_STRUCTURE_SEED)
    baskets = [shape.sample(range(GRAPH_PARTS), shape.randint(1, 7))
               for _ in range(GRAPH_ORDERS)]
    rng = random.Random(f"graph:{seed}")
    part_id = rng.sample(range(10 * GRAPH_PARTS), GRAPH_PARTS)
    order_id = rng.sample(range(10 * GRAPH_ORDERS), GRAPH_ORDERS)
    rows = [{"orderkey": order_id[o], "partkey": part_id[p]}
            for o, parts in enumerate(baskets) for p in parts]
    pq.write_table(pa.Table.from_pylist(
        rows, schema=pa.schema([("orderkey", pa.int64()),
                                ("partkey", pa.int64())])),
        os.path.join(out, "baskets.parquet"))

    adj: dict[int, set] = defaultdict(set)
    for parts in baskets:
        for a in parts:
            for b in parts:
                if a != b:
                    adj[part_id[a]].add(part_id[b])
    seeds = rng.sample(sorted(adj), KHOP_SEEDS)
    pq.write_table(pa.table({"node": pa.array(seeds, pa.int64())}),
                   os.path.join(out, "seeds.parquet"))

    # components: smallest member id per connected node
    comp: dict[int, int] = {}
    for start in sorted(adj):
        if start in comp:
            continue
        stack = [start]
        comp[start] = start
        while stack:
            for nb in adj[stack.pop()]:
                if nb not in comp:
                    comp[nb] = start
                    stack.append(nb)
    # k-hop BFS from the seeds
    hop = {s: 0 for s in seeds}
    frontier = list(seeds)
    for h in range(1, KHOP_K + 1):
        nxt = []
        for u in frontier:
            for nb in adj[u]:
                if nb not in hop:
                    hop[nb] = h
                    nxt.append(nb)
        frontier = nxt
    triangles = sum(len(adj[u] & adj[v]) for u in adj for v in adj[u]) // 6
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump({"components": sorted(comp.items()),
                   "khop_neighbors": sorted(hop.items())}, f)
    n_edges = sum(len(v) for v in adj.values()) // 2
    return {"seed": seed, "n_nodes": len(adj), "n_edges": n_edges,
            "n_baskets": GRAPH_ORDERS, "n_basket_rows": len(rows),
            "khop_seeds": seeds, "khop_k": KHOP_K, "n_triangles": triangles}
