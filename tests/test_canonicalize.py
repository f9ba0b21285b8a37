"""Canonicalization: the MinHash signature kernel against the pure-Python
formulas, and the whole canonical map against an exact all-pairs oracle.

Needs no reference checkout: every expected value is computed here (or,
for xxhash64, by Spark's built-in hash over shingles made in Python)."""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest
from pyspark.sql import functions as F

from generative_ner_spark.operators.canonicalize import (
    _MH_P,
    _OPH_C,
    _mh_coeffs,
    canonical_map,
    lsh_candidate_pairs,
    shingle_band_rows,
)
from generative_ner_spark.sources import corpus
from generative_ner_spark.sources.synth import SynthConfig
from tests.reference_loop import minhash_signatures, oracle_canonical_map

# shorter than n, '' (what NULL text becomes in dedup), repeated shingles,
# near duplicates and a name long enough to fill most OPH buckets
NAMES = ["acme systems", "acme systems corporation", "ab", "", "x",
         "aaaaaa", "globex corp", "globex corporation",
         "the quick brown fox jumps over the lazy dog " * 3]


def _shingles(name: str, n: int = 3) -> list[str]:
    if len(name) < n:
        return [name]
    return list(dict.fromkeys(name[i:i + n] for i in range(len(name) - n + 1)))


def _full_hashes(spark, family: str, name: str) -> list[int]:
    """Full-width shingle hashes of ``name``: md5 prefix in Python,
    xxhash64 by Spark over shingle strings cut in Python."""
    sh = _shingles(name)
    if family == "md5":
        return [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh]
    df = spark.createDataFrame([(s,) for s in sh], "s string")
    return [r[0] for r in df.select(F.xxhash64("s")).collect()]


def _kmin(hs: list[int], k: int) -> list[int]:
    hs = [h % _MH_P for h in hs]
    return [min((h * a + b) % _MH_P for h in hs) for a, b in _mh_coeffs(k)]


def _oph(hs: list[int], k: int) -> list[int]:
    hs = [h % _MH_P for h in hs]
    slots = [min((h for h in hs if h % k == i), default=None)
             for i in range(k)]
    return [s if s is not None else (min(hs) + i * _OPH_C) % _MH_P
            for i, s in enumerate(slots)]


@pytest.fixture(scope="module")
def names_df(spark):
    return spark.createDataFrame(
        [(f"e{i}", nm) for i, nm in enumerate(NAMES)],
        "entity_id string, name string")


@pytest.mark.parametrize("family", ["xxhash64", "md5"])
def test_kernel_matches_pure_formulas(spark, names_df, family):
    """k-min and OPH signatures from the _signatures kernel equal the
    formulas the DuckDB oracles replay, for both hash families."""
    hashes = {f"e{i}": _full_hashes(spark, family, nm)
              for i, nm in enumerate(NAMES)}
    named = names_df.selectExpr("entity_id as id", "name as nm")
    got = {r.id: list(r.minhash) for r in minhash_signatures(
        named, "nm", n=3, k=16, hash_family=family).collect()}
    assert got == {i: _kmin(hs, 16) for i, hs in hashes.items()}
    got = {r.id: list(r.minhash) for r in minhash_signatures(
        named, "nm", n=3, hash_family=family, scheme="oph").collect()}
    assert got == {i: _oph(hs, 64) for i, hs in hashes.items()}


@pytest.mark.parametrize("family", ["xxhash64", "md5"])
def test_band_rows_and_exact_shingle_sets(spark, names_df, family):
    """shingle_band_rows: ``sh`` holds each id's sorted distinct hash set,
    and every id gets one slim (id, band, band_hash) row per band."""
    sh, banded = shingle_band_rows(names_df, k=64, bands=16,
                                   hash_family=family)
    want = {f"e{i}": sorted(set(_full_hashes(spark, family, nm)))
            for i, nm in enumerate(NAMES)}
    assert {r.id: list(r.shingles) for r in sh.collect()} == want
    assert banded.columns == ["id", "band", "band_hash"]
    rows = banded.collect()
    assert Counter(r.id for r in rows) == {i: 16 for i in want}
    assert {(r.id, r.band) for r in rows} == {
        (i, b) for i in want for b in range(16)}


def test_null_name_has_no_md5_signature(spark):
    """md5(NULL) is NULL, so a NULL name has an empty hash set: no
    signature, no band rows, no pairs — and no failure."""
    df = spark.createDataFrame([("e0", None), ("e1", "acme")],
                               "entity_id string, name string")
    _, banded = shingle_band_rows(df, hash_family="md5")
    assert {r.id for r in banded.collect()} == {"e1"}
    assert lsh_candidate_pairs(df, hash_family="md5").count() == 0


@pytest.mark.parametrize("seed", [1, 7])
def test_canonical_map_equals_exact_all_pairs(spark, seed):
    """LSH blocking + exact verify + components == exact all-pairs
    Jaccard >= 0.6 with union-find (min id wins) on the synth catalog."""
    cfg = SynthConfig(n_docs=10, seed=seed)
    got = {r.entity_id: r.canonical_id for r in
           canonical_map(corpus.entities_df(spark, cfg)).collect()}
    want = oracle_canonical_map(cfg)
    assert got == want
    assert sum(e != c for e, c in want.items()) > 0  # merges happen


def test_bucket_cap_metrics(spark):
    """A cap small enough to trip reports the buckets above it and their
    rows; pairs survive only through buckets within the cap."""
    ents = corpus.entities_df(spark, SynthConfig(n_docs=10, seed=1))
    _, banded = shingle_band_rows(ents)
    sizes = Counter((r.band, r.band_hash) for r in banded.collect())
    metrics: dict = {}
    pairs = lsh_candidate_pairs(ents, max_bucket=1, metrics=metrics)
    assert metrics == {
        "capped_buckets": sum(1 for c in sizes.values() if c > 1),
        "capped_rows": sum(c for c in sizes.values() if c > 1),
    }
    assert metrics == {"capped_buckets": 143, "capped_rows": 369}
    assert pairs.count() == 0  # every colliding bucket was capped
    metrics = {}
    lsh_candidate_pairs(ents, max_bucket=None, metrics=metrics)
    assert metrics == {"capped_buckets": 0, "capped_rows": 0}
    # a bucket exactly at the cap survives; one row more and it is capped
    same = spark.createDataFrame([(f"e{i}", "acme systems") for i in range(10)],
                                 "entity_id string, name string")
    assert lsh_candidate_pairs(same, max_bucket=10).count() == 45
    metrics = {}
    assert lsh_candidate_pairs(same, max_bucket=9, metrics=metrics).count() == 0
    assert metrics == {"capped_buckets": 16, "capped_rows": 160}


def test_null_id_never_pairs_or_counts(spark):
    """A NULL id cannot pair (a < b), so it does not count toward a
    bucket's occupancy either: it never evicts pairs through the cap."""
    df = spark.createDataFrame(
        [("e1", "acme systems"), ("e2", "acme systems"), (None, "acme systems")],
        "entity_id string, name string")
    metrics: dict = {}
    pairs = lsh_candidate_pairs(df, max_bucket=2, metrics=metrics)
    assert [tuple(r) for r in pairs.collect()] == [("e1", "e2", 1.0)]
    assert metrics == {"capped_buckets": 0, "capped_rows": 0}


def test_shared_entity_id_merges_shingle_sets(spark):
    """Rows sharing an entity_id are ONE set: the union of their names'
    shingles, verified with exact Jaccard over that union."""
    rows = [("e1", "acme systems"), ("e1", "acme corp"),
            ("e2", "acme systems corp"), ("e3", "acme corp")]
    df = spark.createDataFrame(rows, "entity_id string, name string")
    sets: dict[str, set] = {}
    for eid, nm in rows:
        sets.setdefault(eid, set()).update(_shingles(nm))

    def jac(a, b):
        return len(sets[a] & sets[b]) / len(sets[a] | sets[b])

    got = {(r.a, r.b): r.jaccard
           for r in lsh_candidate_pairs(df, jaccard_threshold=0.2).collect()}
    assert got == {("e1", "e2"): jac("e1", "e2"),
                   ("e1", "e3"): jac("e1", "e3"),
                   ("e2", "e3"): jac("e2", "e3")}
    assert got[("e1", "e2")] == 0.8125
    canon = {r.entity_id: r.canonical_id for r in
             canonical_map(df, jaccard_threshold=0.2).collect()}
    assert canon == {"e1": "e1", "e2": "e1", "e3": "e1"}
