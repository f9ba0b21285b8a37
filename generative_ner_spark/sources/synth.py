"""Deterministic synthetic interleaved text+media corpus (FIXTURES.md F1-F5).

No external data: the corpus is a pure function of (doc_index, config), so it
is generated DISTRIBUTED via ``spark.range(n_docs)`` + ``mapInPandas``
(``corpus.synth_documents``) — each executor generates its own partition's
docs with zero driver involvement and zero shuffle. This is the 100 TB-shaped
path: at real scale you'd point the pipeline at an Iceberg table instead; the
generator stands in for it with identical schema.

Corpus properties required by FIXTURES.md F1:
  * media spans interleaved between text spans (carry-through invariant),
  * empty-text documents (media-only),
  * text spans with no entities,
  * Zipf-skewed hub entities (so salted/AQE skew handling is exercised),
  * lowercase distractor ("amazon" vs "Amazon"-style, via lowercase aliases),
  * ambiguous aliases (one alias -> many entity_ids) and near-duplicate
    entity names (for MinHash-LSH + connected-components tests).

Gold spans mirror the reference's half-open char offsets
(/root/reference/src/data/preprocessor.py:11-14).
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from typing import Any

from generative_ner_spark.functions.textops import normalize_answer

LABELS2NAMES = {
    "LOC": "location",
    "MISC": "miscellaneous",
    "ORG": "organization",
    "PER": "person",
}

_FIRST = ["Alice", "Bob", "Carol", "David", "Emma", "Frank", "Grace", "Hiro",
          "Irene", "Jack", "Keiko", "Liam", "Mona", "Nate", "Olga", "Paul"]
_LAST = ["Tanaka", "Smith", "Garcia", "Chen", "Mueller", "Rossi", "Kim",
         "Patel", "Novak", "Silva", "Okafor", "Larsen"]
_ORG_A = ["Acme", "Globex", "Initech", "Umbra", "Vertex", "Nimbus", "Quanta",
          "Helios", "Zephyr", "Orchid"]
_ORG_B = ["Systems", "Labs", "Industries", "Analytics", "Dynamics", "Motors",
          "Energy", "Networks", "Robotics", "Holdings"]
_LOC = ["Tokyo", "Berlin", "Nairobi", "Lima", "Oslo", "Kyoto", "Austin",
        "Geneva", "Mumbai", "Seoul", "Porto", "Quebec"]
_MISC = ["Olympics", "Renaissance", "Linux", "Esperanto", "Jazz Festival",
         "World Cup", "Hackathon", "Marathon"]

_TEMPLATES = [
    "{PER} met {PER2} at the {ORG} office in {LOC} .",
    "{ORG} announced a partnership with {ORG2} during the {MISC} .",
    "{PER} traveled from {LOC} to {LOC2} for the {MISC} .",
    "The CEO of {ORG} , {PER} , visited {LOC} yesterday .",
    "{ORG} opened a new lab in {LOC} .",
    "{PER} joined {ORG} after leaving {ORG2} .",
    "Reporters in {LOC} covered the {MISC} extensively .",
    "{PER} and {PER2} founded {ORG} in {LOC} .",
]

_NO_ENTITY_SENTENCES = [
    "The weather was unusually calm that morning .",
    "Nothing notable happened during the afternoon session .",
    "The committee adjourned without further discussion .",
    "Trading volumes stayed flat for the rest of the day .",
]


@dataclass(frozen=True)
class SynthConfig:
    n_docs: int = 200
    n_entities: int = 120
    seed: int = 42
    zipf_a: float = 1.3          # hub-entity skew
    media_prob: float = 0.35     # P(doc gets >=1 interleaved media span)
    empty_text_prob: float = 0.05
    noise_drop_prob: float = 0.03     # stub generator: drop a gold mention
    noise_junk_prob: float = 0.10     # stub generator: append junk line
    noise_garbage_prob: float = 0.02  # stub generator: unparseable line
    noise_unknown_type_prob: float = 0.02  # unknown type name (KeyError path)
    # Calibrated CPU cost per generation (chained md5 iterations, ~0.9us
    # each): stands in for the generative model's compute so scaling
    # benchmarks exercise real parallelism (SURVEY.md §7 hard-part (d)).
    # 0 = free stub (default for correctness tests).
    stub_compute_iters: int = 0


# ---------------------------------------------------------------------------
# Entity catalog + alias dictionary (broadcast side)
# ---------------------------------------------------------------------------

def entity_catalog(cfg: SynthConfig) -> list[dict[str, Any]]:
    """Deterministic catalog of {entity_id, name, entity_type}.

    Includes near-duplicate names: every 10th ORG gets a sibling entity whose
    name differs only by suffix ("... Corporation") — canonicalization should
    merge these components.
    """
    rng = random.Random(f"catalog:{cfg.seed}")
    out: list[dict[str, Any]] = []
    i = 0
    while len(out) < cfg.n_entities:
        kind = ("PER", "ORG", "LOC", "MISC")[i % 4]
        if kind == "PER":
            name = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
        elif kind == "ORG":
            name = f"{rng.choice(_ORG_A)} {rng.choice(_ORG_B)}"
        elif kind == "LOC":
            name = f"{rng.choice(_LOC)}" if rng.random() < 0.7 else f"{rng.choice(_LOC)} {rng.choice(['North','South','East','West'])}"
        else:
            name = rng.choice(_MISC)
        if any(e["name"] == name for e in out):
            name = f"{name} {len(out)}"
        eid = f"E{len(out):05d}"
        out.append({"entity_id": eid, "name": name, "entity_type": kind})
        # near-duplicate sibling for CC tests
        if kind == "ORG" and len(out) % 10 == 0 and len(out) + 1 < cfg.n_entities + 1:
            out.append(
                {
                    "entity_id": f"E{len(out):05d}",
                    "name": f"{name} Corporation",
                    "entity_type": "ORG",
                }
            )
        i += 1
    return out[: cfg.n_entities]


def alias_rows(cfg: SynthConfig) -> list[dict[str, Any]]:
    """FIXTURES.md F5: normalized alias -> entity_id with prior.

    Ambiguity: the alias of each entity whose index % 17 == 0 is ALSO mapped
    to the next entity with a lower prior. (Skew comes from the Zipf
    MENTION distribution over entities — hub entities dominate mention
    frequency; no extra alias keys are generated for them.)
    """
    cat = entity_catalog(cfg)
    rows: list[dict[str, Any]] = []
    for idx, ent in enumerate(cat):
        alias = normalize_answer(ent["name"])
        rows.append(
            {"alias": alias, "entity_id": ent["entity_id"], "prior": 0.9,
             "entity_type": ent["entity_type"]}
        )
        if idx % 17 == 0 and idx + 1 < len(cat):
            rows.append(
                {"alias": alias, "entity_id": cat[idx + 1]["entity_id"],
                 "prior": 0.4, "entity_type": cat[idx + 1]["entity_type"]}
            )
    return rows


def _zipf_index(rng: random.Random, n: int, a: float) -> int:
    """Cheap deterministic Zipf-ish draw in [0, n)."""
    u = rng.random()
    # inverse-CDF of a power law on ranks 1..n
    x = (1.0 - u) ** (-1.0 / (a - 1.0)) if a > 1.0 else 1.0 / max(u, 1e-9)
    return min(int(x) - 1, n - 1) if x >= 1 else 0


# ---------------------------------------------------------------------------
# Document generation — pure function of (doc_index, cfg)
# ---------------------------------------------------------------------------

def make_document(doc_index: int, cfg: SynthConfig,
                  catalog: list[dict[str, Any]] | None = None) -> dict[str, Any]:
    """One interleaved document + its gold entities.

    Returns {doc_id, spans: [...], golds: [...]} where spans follow
    DOCUMENT_SCHEMA.spans and golds follow GOLD_ENTITY_SCHEMA (minus doc_id).
    """
    cat = catalog if catalog is not None else entity_catalog(cfg)
    by_type: dict[str, list[dict[str, Any]]] = {}
    for e in cat:
        by_type.setdefault(e["entity_type"], []).append(e)

    rng = random.Random(f"doc:{cfg.seed}:{doc_index}")
    doc_id = f"doc-{doc_index:08d}"
    spans: list[dict[str, Any]] = []
    golds: list[dict[str, Any]] = []
    offset = 0

    if rng.random() < cfg.empty_text_prob:
        # media-only document
        spans.append(
            {"kind": rng.choice(["image", "audio"]), "text": None,
             "media_ref": f"s3://corpus/media/{doc_id}-0", "offset": 0}
        )
        return {"doc_id": doc_id, "spans": spans, "golds": golds}

    n_sent = rng.randint(1, 5)
    for _ in range(n_sent):
        if rng.random() < cfg.media_prob / 2:
            spans.append(
                {"kind": rng.choice(["image", "audio"]), "text": None,
                 "media_ref": f"s3://corpus/media/{doc_id}-{offset}",
                 "offset": offset}
            )
            offset += 1
        if rng.random() < 0.15:
            text = rng.choice(_NO_ENTITY_SENTENCES)
            spans.append({"kind": "text", "text": text, "media_ref": None,
                          "offset": offset})
            offset += 1
            continue
        template = rng.choice(_TEMPLATES)
        ents_here: list[tuple[int, int, str]] = []
        parts = template.split()
        words_out: list[str] = []
        pos = 0
        for w in parts:
            key = w.strip("{}")
            if w.startswith("{") and w.endswith("}"):
                base = key.rstrip("2")
                pool = by_type[base]
                ent = pool[_zipf_index(rng, len(pool), cfg.zipf_a)]
                surface = ent["name"]
                if words_out:
                    pos += 1  # joining space
                start = pos
                words_out.append(surface)
                pos += len(surface)
                ents_here.append((start, pos, ent["entity_type"]))
            else:
                if words_out:
                    pos += 1
                words_out.append(w)
                pos += len(w)
        text = " ".join(words_out)
        spans.append({"kind": "text", "text": text, "media_ref": None,
                      "offset": offset})
        for s, e, label in ents_here:
            golds.append({"span_offset": offset, "start": s, "end": e,
                          "label": label})
        offset += 1
    if rng.random() < cfg.media_prob / 2:
        spans.append(
            {"kind": rng.choice(["image", "audio"]), "text": None,
             "media_ref": f"s3://corpus/media/{doc_id}-{offset}",
             "offset": offset}
        )
    return {"doc_id": doc_id, "spans": spans, "golds": golds}


# ---------------------------------------------------------------------------
# Deterministic stub generator (FIXTURES.md F4) — replaces the LLM
# ---------------------------------------------------------------------------

def _noise_rng(example_id: str, cfg: SynthConfig) -> random.Random:
    h = hashlib.md5(f"gen:{cfg.seed}:{example_id}".encode()).hexdigest()
    return random.Random(h)


def stub_generation_collective(
    example_id: str,
    text: str,
    gold_spans: list[tuple[int, int, str]],
    cfg: SynthConfig,
    labels2names: dict[str, str] = LABELS2NAMES,
) -> str:
    """Emit the reference output format — a Python-literal bracket list
    [("mention", "type name"), ...] (src/data/preprocessor.py:120-121) —
    derived from gold with seeded, example_id-keyed noise.

    Pure function of (example_id, text, gold_spans, cfg): the Spark UDF and
    the straight-line oracle loop call the SAME function, so the P/R gate
    measures pipeline plumbing (explode/join/groupBy correctness), not
    generator luck.
    """
    rng = _noise_rng(example_id, cfg)
    if cfg.stub_compute_iters:
        h = text.encode()
        for _ in range(cfg.stub_compute_iters):
            h = hashlib.md5(h).digest()  # model-compute stand-in (discarded)
    items: list[str] = []
    seen: set[tuple[str, str]] = set()
    for s, e, label in gold_spans:
        if rng.random() < cfg.noise_drop_prob:
            continue
        mention = text[s:e]
        name = labels2names[label]
        if rng.random() < cfg.noise_unknown_type_prob:
            name = "widget"  # unknown type -> KeyError fallback path
        key = (mention, name)
        if key in seen:
            continue
        seen.add(key)
        items.append(f'("{mention}", "{name}")')
    out = "[" + ", ".join(items) + "]"
    lines = [out]
    if rng.random() < cfg.noise_junk_prob:
        lines.append("I hope this helps! Let me know if you need more.")
    if rng.random() < cfg.noise_garbage_prob:
        lines.append('[("unterminated", "oops"')  # parser -> [] per line
    return "\n".join(lines)


def stub_generation_individual(
    example_id: str,
    text: str,
    gold_spans: list[tuple[int, int, str]],
    label: str,
    cfg: SynthConfig,
) -> str:
    """Individual-format stub: Python-literal list of bare mention strings
    for ONE queried label (/root/reference/src/data/preprocessor.py:180),
    derived from that label's golds with the same seeded noise family."""
    rng = _noise_rng(f"{example_id}:{label}", cfg)
    if cfg.stub_compute_iters:
        h = text.encode()
        for _ in range(cfg.stub_compute_iters):
            h = hashlib.md5(h).digest()  # model-compute stand-in (discarded)
    items: list[str] = []
    seen: set[str] = set()
    for s, e, lb in gold_spans:
        if lb != label or rng.random() < cfg.noise_drop_prob:
            continue
        mention = text[s:e]
        if mention in seen:
            continue
        seen.add(mention)
        items.append(f'"{mention}"')
    out = "[" + ", ".join(items) + "]"
    lines = [out]
    if rng.random() < cfg.noise_junk_prob:
        lines.append("Sure! Those are all the mentions I found.")
    if rng.random() < cfg.noise_garbage_prob:
        lines.append('["unterminated')
    return "\n".join(lines)
