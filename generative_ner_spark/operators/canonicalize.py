"""Canonicalization: MinHash-LSH blocking + connected components.

North-rule stage: near-duplicate entity names (e.g. "Acme Systems" vs
"Acme Systems Corporation") are merged into one canonical id. Published
technique stack, one lazy Spark plan up to the components step:

  1. character n-gram shingle hashes of the name, one sorted
     distinct set per id                          (codegen'd, one groupBy)
  2. k MinHash values per set in one vectorized numpy kernel
     (mapInPandas, k-min or one-permutation scheme)
  3. b bands of r hashes -> band_hash, explode, self-join on
     band_hash = candidate pairs                               (LSH blocking)
  4. exact Jaccard verification: both ids' shingle sets joined onto
     the deduplicated pairs                                    (array ops)
  5. connected components by alternating large-star/small-star
     DataFrame joins (Kiveris et al., "Connected Components in
     MapReduce and Beyond", SoCC'14) with localCheckpoint per
     iteration to truncate lineage.

Scale notes: LSH makes pair generation O(candidates), never O(n^2); the
self-join shuffles on band_hash whose cardinality we control via (b, r);
CC converges in O(log n) rounds and each round is two shuffles on a
pair table that only shrinks. Band buckets with pathological size (a
popular token) are capped by ``max_bucket`` to bound worst-case pair
blowup — pass ``metrics`` to lsh_candidate_pairs to get the capped
bucket/row counts (otherwise the cap is silent by design: no extra job).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from generative_ner_spark.plans.session import checkpoint_observed


# Universal-hash family over the Mersenne prime 2^31-1: keeps every product
# below 2^62, so the expressions are safe under Spark 4's default ANSI mode
# (long-overflow would otherwise raise).
_MH_P = (1 << 31) - 1
_OPH_C = 0x9E3779B1  # odd constant spreads densified OPH slots over [0, p)


def _mh_coeffs(k: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random("minhash-coeffs")
    return [(rng.randrange(1, _MH_P), rng.randrange(0, _MH_P)) for _ in range(k)]


def _raw_shingle_hash(col, hash_family: str):
    """shingle -> full-width hash long: xxhash64 (fast path) or the
    60-bit md5 prefix (cross-engine path — DuckDB computes the identical
    value from the same 15 hex chars, see dedup.simhash_width). The full
    width is what shingle SETS are represented by (collision odds ~2^-60
    within one compared pair); the signature kernel folds it to [0, p)
    (_signatures)."""
    if hash_family == "xxhash64":
        return F.xxhash64(col)
    if hash_family == "md5":
        return F.conv(
            F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_family: {hash_family}")


def shingle_hash_rows(
    entities: DataFrame,
    id_col: str = "entity_id",
    name_col: str = "name",
    n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, name) -> exploded (id, _sh) rows, _sh = full-width shingle
    hash (r6, guide §4.1 "prefer built-ins"): position explode +
    substring + hash is plain whole-stage codegen, replacing the
    interpreted transform/array_distinct higher-order pass that built
    shingle ARRAYS for every document before anything else ran.
    DUPLICATE positions are retained — the consumer's collect_set
    drops them. A string shorter than n yields its whole self as the
    single shingle (substring truncates), so every named entity has at
    least one row."""
    return (
        entities.select(F.col(id_col).alias("id"),
                        F.col(name_col).alias("nm"))
        .select(
            "id", "nm",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("nm") - F.lit(n - 1), F.lit(1)))
            ).alias("_i"),
        )
        .select(
            "id",
            _raw_shingle_hash(
                F.col("nm").substr(F.col("_i"), F.lit(n)), hash_family
            ).alias("_sh"),
        )
    )


def _signatures(sets: DataFrame, k: int, scheme: str) -> DataFrame:
    """(id, shingles) -> (id, minhash ARRAY<LONG>): THE MinHash
    kernel behind every signature path. ``shingles`` is an id's set of
    full-width shingle hashes; each hash h is folded to [0, p) and the
    k slots are computed in one vectorized numpy pass per Arrow batch:

    * ``kmin``: slot i = min over h of (h * a_i + b_i) mod p, the
      _mh_coeffs universal-hash family;
    * ``oph``: one-permutation hashing (Li, Owen & Zhang, NeurIPS
      2012): h lands in slot h mod k and each slot keeps its min, one
      update per shingle instead of k. Empty slots are densified as a
      pure function of the set, (min h + slot * C) mod p, so identical
      sets give identical signatures; near-identical short sets may
      disagree on densified slots, which lowers banding recall but not
      the exact-Jaccard verify's precision.

    Products stay below 2^62 in int64 and np.mod is a floor mod like
    Spark's pmod, so every value equals the SQL formula the DuckDB
    oracles replay. An empty set has no signature and yields no row.
    One mapInPandas node replaces k min-aggregates, whose expression
    tree cost seconds of driver planning and codegen per fresh plan."""
    if scheme not in ("kmin", "oph"):
        raise ValueError(f"unknown minhash scheme: {scheme}")
    a, b = (np.array(c, dtype=np.int64) for c in zip(*_mh_coeffs(k)))
    dense_offsets = np.arange(k, dtype=np.int64) * _OPH_C

    def kernel(batches):
        for pdf in batches:
            lens = np.array([0 if s is None else len(s)
                             for s in pdf["shingles"]], dtype=np.int64)
            pdf, lens = pdf[lens > 0], lens[lens > 0]
            if not len(lens):
                continue
            h = np.mod(np.concatenate(pdf["shingles"].tolist()), _MH_P)
            starts = np.cumsum(lens) - lens
            if scheme == "kmin":
                sig = np.stack(
                    [np.minimum.reduceat((h * ai + bi) % _MH_P, starts)
                     for ai, bi in zip(a, b)], axis=1)
            else:
                sig = np.full((len(lens), k), _MH_P, dtype=np.int64)
                rows = np.repeat(np.arange(len(lens)), lens)
                np.minimum.at(sig, (rows, h % k), h)
                dense = (np.minimum.reduceat(h, starts)[:, None]
                         + dense_offsets) % _MH_P
                sig = np.where(sig == _MH_P, dense, sig)
            yield pdf[["id"]].assign(minhash=list(sig))

    id_t = sets.schema["id"].dataType.simpleString()
    return sets.mapInPandas(kernel, f"id {id_t}, minhash array<bigint>")


def capped_self_join_pairs(
    rows: DataFrame,
    bucket_cols: tuple,
    id_col: str = "id",
    max_bucket: int | None = 64,
    metrics: dict | None = None,
    payload_cols: tuple = (),
) -> DataFrame:
    """THE candidate-pair lifecycle shared by every banding family
    (MinHash bands here, SimHash chunks in dedup.py, hyperplane buckets
    in similarity.py, k-means cells in cluster.py): the _capped_pairs
    plan, eagerly ``localCheckpoint``ed so callers can release their
    upstream caches immediately."""
    return _capped_pairs(rows, bucket_cols, id_col, max_bucket, metrics,
                         payload_cols).localCheckpoint()


def _capped_pairs(rows: DataFrame, bucket_cols: tuple, id_col: str,
                  max_bucket: int | None, metrics: dict | None,
                  payload_cols: tuple = ()) -> DataFrame:
    """Lazy plan: drop buckets above ``max_bucket`` (bounding the
    worst-case pair blowup a degenerate corpus causes), self-join within
    the surviving buckets and emit deduplicated (a, b[, <payload>_a,
    <payload>_b]) with a < b. Occupancy is a window count over the
    bucket keys: it shuffles ``rows`` on exactly the partitioning the
    self-join needs, so the whole plan has one exchange of ``rows`` (a
    hot bucket's rows reach one task, whose window buffer spills, before
    the cap drops them).
    ``metrics`` receives {"capped_buckets", "capped_rows"} — the
    reported recall loss of the cap — from one eager aggregate job.
    """
    keys = list(bucket_cols)
    if max_bucket is None:
        # cap disabled (oracle-replay callers lift it): no occupancy count
        if metrics is not None:
            metrics["capped_buckets"] = 0
            metrics["capped_rows"] = 0
        capped = rows
    else:
        if metrics is not None:
            over = (
                rows.groupBy(*keys).agg(F.count("*").alias("_bc"))
                .where(F.col("_bc") > max_bucket)
                .agg(F.count("*").alias("b"),
                     F.coalesce(F.sum("_bc"), F.lit(0)).alias("r"))
                .first()
            )
            metrics["capped_buckets"] = over["b"]
            metrics["capped_rows"] = int(over["r"])
        capped = (
            rows.withColumn("_bc", F.count(F.lit(1)).over(
                Window.partitionBy(*keys)))
            .where(F.col("_bc") <= max_bucket)
        )
    left = capped.select(
        *keys, F.col(id_col).alias("a"),
        *[F.col(p).alias(f"{p}_a") for p in payload_cols],
    )
    right = capped.select(
        *keys, F.col(id_col).alias("b"),
        *[F.col(p).alias(f"{p}_b") for p in payload_cols],
    )
    return (
        left.join(right, keys)
        .where(F.col("a") < F.col("b"))
        .select("a", "b",
                *[f"{p}_a" for p in payload_cols],
                *[f"{p}_b" for p in payload_cols])
        .dropDuplicates(["a", "b"])
    )


def shingle_band_rows(
    entities: DataFrame,
    id_col: str = "entity_id",
    name_col: str = "name",
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    hash_family: str = "xxhash64",
    scheme: str = "kmin",
) -> tuple:
    """Shared signature/banding front half of every MinHash consumer
    (lsh_candidate_pairs here, the written incremental index in
    dedup.py). Returns two LAZY frames; nothing is persisted:

    * ``sh`` (id, shingles): ``shingles`` is the document's sorted
      DISTINCT full-width shingle-hash set (array<long>; set identity
      by hash, ~2^-60 per-pair collision odds) — ONE groupBy(id) over
      the codegen'd shingle_hash_rows, so the text is scanned and
      hashed once per plan;
    * ``banded`` (id, band, band_hash): the _signatures kernel over
      ``sh``, exploded to one SLIM row per band. The sets stay out of
      the banding rows: a document's set is ~|text| longs, and the
      self-join shuffles every band row, so consumers attach ``sh``
      to their (few) candidate pairs instead.

    ``sh``'s plan is a prefix of ``banded``'s: within one query Spark
    reuses its exchange when both branches read the identical plan. A
    caller that runs more than one job over them persists ``sh`` first
    (and owns that cache). band_hash = xxhash64 over the band's slice
    of the signature — a single transform lambda, so the expression
    tree is O(1) in (bands, r).
    """
    if k % bands != 0:
        raise ValueError(
            f"k={k} not divisible by bands={bands}: the banding would "
            f"silently ignore the last {k - bands * (k // bands)} minhash "
            f"slots and the effective S-curve would differ from the "
            f"requested (k, bands) tuning")
    r = k // bands
    sh = (
        shingle_hash_rows(entities, id_col, name_col, n=n,
                          hash_family=hash_family)
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("_sh")).alias("shingles"))
    )
    banded = _signatures(sh, k, scheme).select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> xxhash64(slice(minhash, b * {r} + 1, {r}), b))"
            )
        ).alias("band", "band_hash"),
    )
    return sh, banded


def lsh_candidate_pairs(
    entities: DataFrame,
    id_col: str = "entity_id",
    name_col: str = "name",
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    jaccard_threshold: float = 0.6,
    max_bucket: int | None = 64,
    metrics: dict | None = None,
    hash_family: str = "xxhash64",
    scheme: str = "kmin",
) -> DataFrame:
    """(id, name) -> verified near-duplicate pairs (a < b, jaccard >= t).

    LSH blocking with b=bands, r=k/bands, then EXACT Jaccard verification on
    the blocked candidates (so precision is exact; only recall depends on
    the S-curve of (b, r)).

    Pass ``metrics`` (a dict) to receive {"capped_buckets", "capped_rows"}:
    the recall loss from the ``max_bucket`` hot-bucket cap, at the cost of
    one extra aggregate job, which runs the signature pass again. Without
    it the cap is silent.

    ``hash_family``: 'xxhash64' (fast path, the production default) or
    'md5' (cross-engine path whose signatures a DuckDB oracle recomputes
    exactly — see _raw_shingle_hash; backs the q20/q31 DuckDB oracles).

    Returns ONE lazy plan and persists nothing: signature kernel ->
    slim band rows -> capped self-join -> dedup -> the two ids' shingle
    sets joined onto the pairs -> Jaccard filter. The caller's action
    runs it; a caller acting on the pairs more than once checkpoints
    them first (connected_components does).
    """
    # a NULL id never pairs (a < b), so it is dropped up front and does
    # not count toward a bucket's occupancy; the banding and verify
    # branches then read one plan for ``sh``, whose exchange Spark
    # reuses, so the text is hashed once per job
    sh, banded = shingle_band_rows(entities.where(F.col(id_col).isNotNull()),
                                   id_col, name_col, k=k, bands=bands, n=n,
                                   hash_family=hash_family, scheme=scheme)
    pairs = _capped_pairs(banded, ("band", "band_hash"), "id", max_bucket,
                          metrics)

    def sets(side):
        return sh.select(F.col("id").alias(side),
                         F.col("shingles").alias(f"shingles_{side}"))

    return (
        pairs.join(sets("a"), "a").join(sets("b"), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("shingles_a", "shingles_b"))
            / F.size(F.array_union("shingles_a", "shingles_b")),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("a", "b", "jaccard")
    )


def _large_star(e_sym: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., SoCC'14, Algorithm 2).

    Input: symmetric edge list (u, v), u != v. For each node u let
    m = min(Γ(u) ∪ {u}); emit (v, m) for every neighbor v > u. Output is
    directed (l, s) with l > s by construction (s = m <= u < v = l).
    """
    mins = e_sym.groupBy("u").agg(F.min("v").alias("mv")).select(
        "u", F.least("u", "mv").alias("m")
    )
    # NO .distinct() here (r6): different u's can emit the same (l, s),
    # but the only consumer is _small_star, whose min-aggregate ignores
    # duplicates and whose own output IS deduplicated — the r5 distinct
    # was a full extra exchange of the round's largest frame per round.
    return (
        e_sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("l"), F.col("m").alias("s"))
        .where(F.col("l") != F.col("s"))
    )


def _small_star(e_dir: DataFrame) -> DataFrame:
    """Small-star round (Kiveris et al., Algorithm 3).

    Input: directed (l, s) with l > s. For each l let m = min of its (all
    smaller) neighbors; re-point every neighbor s (and l itself) at m.
    Output stays in (l, s) l > s form.
    """
    mins = e_dir.groupBy("l").agg(F.min("s").alias("m"))
    moved = (
        e_dir.join(mins, "l")
        .select(F.col("s").alias("l"), F.col("m").alias("s"))
        .where(F.col("l") != F.col("s"))
    )
    pointed = mins.select(F.col("l"), F.col("m").alias("s"))
    return moved.union(pointed).distinct()


def connected_components(
    edges: DataFrame, max_iter: int = 20, driver_threshold: int = 2_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Undirected edges (a, b) -> (id, component) with component = min member.

    Two regimes:
    * edge count <= ``driver_threshold``: collect + union-find on the driver
      (milliseconds, zero extra jobs). Near-dup edge sets are SPARSE — even a
      10^9-entity catalog typically yields << 10^8 verified near-dup pairs,
      and 2M pairs is a few tens of MB on the driver. This collapses ~15
      tiny-task Spark jobs of loop overhead that dominated wall-clock.
    * larger: alternating large-star/small-star rounds (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14) with
      ``localCheckpoint`` per round to truncate lineage. Converges in
      O(log n) rounds even on pathological long chains (pinned by the
      10^4-node path-graph test) — the r1 min-label propagation needed
      O(diameter) rounds there. At the fixed point every edge points
      directly at its component's minimum node.

    Edges are read as a multiset and are not deduplicated: a duplicate
    counts toward ``driver_threshold`` and rides the round-1 large-star
    join. A caller whose edge list is heavily duplicated should call
    ``distinct()`` first.

    ``stats`` (optional dict) receives {"rounds": int, "converged": bool,
    "regime": "driver"|"distributed"}.
    """
    spark = edges.sparkSession
    # materialize ONCE up front: the regime-selecting count plus either
    # regime's consumption (driver collect / distributed symmetrize) would
    # otherwise execute the caller's whole upstream plan twice — for a
    # generic caller that can be an entire LSH blocking pass; the count
    # rides the checkpoint's own jobs
    edges, seen = checkpoint_observed(edges)
    if seen["n"] <= driver_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        # Arrow collect (toPandas + tolist -> python natives), NOT
        # .collect(): row-at-a-time pickle deserialization of 1.5M edge
        # Rows cost ~30s of pure driver serial time in the 1M-doc scale
        # profile; the Arrow path moves the same edges in ~1s and the
        # union-find loop itself is the only remaining serial work
        pdf = edges.select("a", "b").toPandas()
        col_a, col_b = pdf["a"].tolist(), pdf["b"].tolist()
        for ea, eb in zip(col_a, col_b):
            ra, rb = find(ea), find(eb)
            if ra != rb:
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
        nodes = set(col_a)
        nodes.update(col_b)
        out = [(x, find(x)) for x in sorted(nodes)]
        if stats is not None:
            stats.update(rounds=0, converged=True, regime="driver")
        # schema DERIVED from the input id type: a hardcoded string schema
        # silently coerced long ids to strings here while the distributed
        # regime preserved them — the output type would flip with edge
        # count, and downstream joins would lean on implicit casts
        id_t = edges.schema["a"].dataType.simpleString()
        return spark.createDataFrame(out, f"id {id_t}, component {id_t}")

    cur = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .where(F.col("u") != F.col("v"))
        # NO .distinct() (r6c): it cost a full exchange of the 2E-row
        # symmetrized set before round 1, and no round needs it — both
        # stars' min-aggregates ignore duplicates, _small_star ends in
        # its own .distinct(), and from round 2 on ``cur`` is rebuilt
        # from the already-deduplicated star output. Duplicate INPUT
        # edges (a generic caller's) only add round-1 join rows, never
        # change the fixpoint.
        .localCheckpoint()  # cut the upstream (LSH) DAG once, or every
        # round re-runs the whole blocking plan
    )
    prev = None
    prev_sig = None
    stars = None
    converged = False
    rounds = 0
    for rounds in range(1, max_iter + 1):
        # convergence signature (r6): (count, order-independent xxhash64
        # fingerprint), observed by the round's own checkpoint jobs. The
        # r5 check ran count() PLUS a full exceptAll anti-join job per
        # round; two scalar aggregates compare the same sets with
        # collision odds ~2^-64 per round (the star rounds are monotone
        # label-lowering, so a collision would merely stop one round
        # early on an astronomically unlikely fingerprint tie — and both
        # stars' output is already deduplicated, making
        # count+multiset-hash equality set equality)
        ss, seen = checkpoint_observed(
            _small_star(_large_star(cur)),
            F.expr("bit_xor(xxhash64(l, s))").alias("h"))
        sig = (seen["n"], seen["h"])
        if prev_sig is not None and sig == prev_sig:
            stars, converged = ss, True
            break
        prev, prev_sig = ss, sig
        # no distinct (r6): ss is deduplicated and strictly l > s, so the
        # two directed copies cannot collide — the r5 distinct re-shuffled
        # 2x the round's edges for nothing. And no localCheckpoint (r6b):
        # ss IS checkpointed above, so this union is two shallow scans of
        # that RDD — materializing it again copied 2x the round's edges
        # to disk per round for a frame the next round's single action
        # reads once per star.
        cur = (
            ss.select(F.col("l").alias("u"), F.col("s").alias("v"))
            .union(ss.select(F.col("s").alias("u"), F.col("l").alias("v")))
        )
    if stars is None:
        stars = prev  # best effort at max_iter (same contract as before)
    if stats is not None:
        stats.update(rounds=rounds, converged=converged, regime="distributed")
    out = (
        stars.select(F.col("l").alias("id"), F.col("s").alias("component"))
        .union(stars.select(F.col("s").alias("id"), F.col("s").alias("component")))
        .distinct()
    )
    # regime parity: the u != v filter above drops nodes that appear ONLY
    # in self-loop edges (a, a); the driver regime emits them as their own
    # singleton component — do the same here (LSH pairs are strictly a < b,
    # so this branch is empty on the canonicalization path)
    self_only = (
        edges.where(F.col("a") == F.col("b"))
        .select(F.col("a").alias("id"))
        .distinct()
        .join(out.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    return out.unionByName(self_only)


def canonical_map(
    entities: DataFrame,
    id_col: str = "entity_id",
    name_col: str = "name",
    **lsh_kwargs,
) -> DataFrame:
    """entities -> (entity_id, canonical_id); singletons map to themselves."""
    pairs = lsh_candidate_pairs(entities, id_col, name_col, **lsh_kwargs)
    comp = connected_components(pairs.select("a", "b"))
    # comp only contains ids that appear in a near-dup pair — a small
    # fraction of the catalog — so broadcast it explicitly (without the hint
    # the pre-AQE plan is a SortMergeJoin that shuffles the whole catalog)
    return (
        entities.select(F.col(id_col).alias("entity_id"))
        .join(F.broadcast(comp), F.col("entity_id") == comp.id, "left")
        .select(
            "entity_id",
            F.coalesce("component", F.col("entity_id")).alias("canonical_id"),
        )
    )


def catalog_fingerprint(
    entities: DataFrame,
    cols: tuple[str, ...] = ("entity_id", "name", "entity_type"),
) -> str:
    """Order-independent fingerprint of an entity catalog, as a decimal
    string. A committed canonical map is only valid for the catalog it was
    computed from (jobs/kg_construct.py gates reuse on this).

    bit_xor, NOT sum: under Spark 4 ANSI mode a long sum over full-range
    signed xxhash64 values throws ARITHMETIC_OVERFLOW for any catalog
    beyond a few hundred rows; XOR is overflow-free, order-independent,
    and rows are unique by entity_id so pairwise cancellation cannot
    collapse two different catalogs onto each other in practice.
    """
    return str(
        entities.agg(
            F.expr(f"bit_xor(xxhash64({', '.join(cols)}))")
        ).first()[0]
    )
