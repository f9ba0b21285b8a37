"""Smoke test of the scaling harness's families (bench_scaling.FAMILIES).

Each family's builder and timed call run in-process on the test session at a
tiny size: the family's analytic check must hold and two trials must give the
same fingerprint. The two-level runs themselves are ``python bench_scaling.py``.
"""

from __future__ import annotations

import pytest

import bench_scaling

SIZES = {"kg": 40, "fuzzy": 400, "graph": 2000, "walks": 2000,
         "lines": 2000, "temporal": 2000}


def test_every_family_has_a_size():
    assert set(SIZES) == set(bench_scaling.FAMILIES)


@pytest.mark.parametrize("name", sorted(SIZES))
def test_family_checks_and_repeats(spark, name):
    fam, size = bench_scaling.FAMILIES[name], SIZES[name]
    inp = fam.build(spark, size)
    try:
        # trial raises when the family's analytic check fails
        (_, fp1), (_, fp2) = (bench_scaling.trial(fam, inp, size)
                              for _ in range(2))
        assert fp1 == fp2
        assert int(fp1.split(":")[0]) > 0
    finally:
        spark.catalog.clearCache()


@pytest.mark.parametrize("name", ["fuzzy", "lines"])
def test_check_rejects_the_raw_corpus(spark, name):
    fam, size = bench_scaling.FAMILIES[name], SIZES[name]
    (docs,) = fam.build(spark, size)
    try:
        assert not fam.check(docs, size)
    finally:
        docs.unpersist()
