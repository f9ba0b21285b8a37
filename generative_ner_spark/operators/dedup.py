"""Deduplication operators over a document corpus — the training-data staples.

Four families, each with the 100 TB rationale spelled out:

* exact        — groupBy(md5(normalized text)): one shuffle on a uniformly
                 distributed hash key; no skew possible, map-side combine.
* MinHash-LSH  — shingle -> k minhashes -> b bands -> groupBy(band) ->
                 in-bucket pairs -> exact-Jaccard verify. O(n·k + candidate
                 pairs), never O(n^2). Shared machinery with
                 canonicalize.lsh_candidate_pairs.
* SimHash      — 64-bit signature via sign-aggregated token hashes; near-dup
                 = small Hamming distance. Signature build is one narrow
                 projection; banding on 4x16-bit chunks finds candidates.
* n-gram Jaccard — exact verification metric (used by LSH verify); also
                 exposed standalone for small candidate sets.

Embedding-cosine near-dup lives in similarity.py (same LSH-bucket shape).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from generative_ner_spark.operators.canonicalize import lsh_candidate_pairs
from generative_ner_spark.operators.quality import fingerprint_col


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (post-normalization) documents.

    Returns (fingerprint, n_docs, keep_id) with keep_id = min id — the
    canonical survivor. Single hash-key shuffle.
    """
    return (
        df.select(F.col(id_col).alias("id"), fingerprint_col(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_id"))
    )


def near_duplicate_pairs_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.8,
    max_bucket: int | None = 64,
    hash_family: str = "xxhash64",
    scheme: str = "kmin",
) -> DataFrame:
    """MinHash-LSH near-dup pairs (a < b, exact jaccard >= threshold).

    bands=8 (r=8) by default: at the 0.8 dedup threshold the S-curve gives
    per-band collision J^8 (0.8 -> 0.17/band, ~77% recall at 8 bands and
    ~100% for the J>0.95 copies dedup targets) while documents that merely
    share vocabulary (J~0.5-0.6) collide rarely — r=4 flooded the candidate
    stage with same-vocabulary false candidates on realistic corpora.
    """
    # NULL text -> '' so degenerate docs behave like exact dedup (which
    # groups NULL fingerprints together); unguarded, a NULL name yields
    # NULL shingles and the row silently vanishes from pair generation
    return lsh_candidate_pairs(
        df.select(F.col(id_col).alias("entity_id"),
                  F.coalesce(F.col(text_col), F.lit("")).alias("name")),
        k=k, bands=bands, n=shingle_n, jaccard_threshold=jaccard_threshold,
        max_bucket=max_bucket, hash_family=hash_family, scheme=scheme,
    )


def simhash_width(hash_family: str) -> int:
    """Signature width per hash family: 64 bits for the xxhash64 fast path,
    60 for the cross-engine md5 path (15 hex chars -> long, so both Spark's
    conv() and DuckDB's hex cast stay inside a signed 64-bit integer)."""
    if hash_family == "xxhash64":
        return 64
    if hash_family == "md5":
        return 60
    raise ValueError(f"unknown hash_family: {hash_family}")


def near_dedup_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.8,
    max_bucket: int | None = 64,
    hash_family: str = "xxhash64",
    scheme: str = "kmin",
) -> DataFrame:
    """Fuzzy deduplication: df minus near-duplicates, keeping the min-id
    document of every near-dup CLUSTER (the RefinedWeb/Dolma-style fuzzy
    dedup staple: MinHash-LSH pairs -> connected components -> one survivor
    per component).

    Pairwise keep-min is NOT enough: with docs A<B<C where A~B and B~C but
    A!~C, dropping per-pair losers keeps {A, C} or {A} depending on pair
    order — components make it deterministic ({A} survives, the whole
    chain collapses to its min). Scale shape: the pair stage is the
    LSH-blocked near_duplicate_pairs_minhash (never O(n^2)); CC is the
    alternating large/small-star loop (driver union-find under 2M edges);
    the final filter is one left_anti join on doc ids.
    """
    from generative_ner_spark.operators.canonicalize import (
        connected_components,
    )

    pairs = near_duplicate_pairs_minhash(
        df, id_col, text_col, k=k, bands=bands, shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold, max_bucket=max_bucket,
        hash_family=hash_family, scheme=scheme,
    )
    comp = connected_components(pairs.select("a", "b"))
    drop = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def with_simhash(df: DataFrame, text_col: str = "text",
                 out: str = "simhash",
                 hash_family: str = "xxhash64") -> DataFrame:
    """SimHash over whitespace tokens, fully JVM-side.

    For each bit i: sum over tokens of (+1 if bit i of hash(token) else
    -1); signature bit = sign. Token hashes are computed ONCE into an array;
    the per-bit sums are arithmetic aggregates over that array (hashing per
    bit — 64 string-hash passes — dominated the sf0.1 benchmark).
    No explode, no shuffle.

    ``hash_family``: 'xxhash64' (fast path, 64-bit signature) or 'md5'
    (cross-engine path, 60-bit signature from the first 15 hex chars — a
    DuckDB oracle computes the identical value, same split as
    quality.minhash_signature_col's md5 variant).
    """
    width = simhash_width(hash_family)
    if hash_family == "xxhash64":
        token_hash = "t -> xxhash64(t)"
    else:
        token_hash = "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as long)"
    hashes = (
        f"transform(filter(split({text_col}, '\\\\s+'), t -> t != ''), "
        f"{token_hash})"
    )
    # r6b fold (guide §4.2 "do the heavy lifting in native code"): the
    # per-bit sign sums used to be `width` interpreted aggregate() HOFs
    # (CodegenFallback — ~width passes over every token hash per row,
    # the measured bulk of the q19 signature stage). Token hashes are
    # still computed ONCE in the JVM (one codegen transform); the dense
    # 64-bit fold crosses to numpy as an Arrow list<long> column — still
    # zero-shuffle — where bit i's count-of-ones per doc is one cumsum
    # over the flattened batch. Exact-integer parity with the SQL fold:
    # sum(+/-1) > 0  <=>  2 * ones > n_tokens; numpy's >> on int64 is
    # the same arithmetic shift; packing ORs uint64 lanes and
    # reinterprets — identical two's-complement result for bit 63.
    return (
        df.withColumn("_sh_hs", F.expr(hashes))
        .withColumn(out, _simhash_fold_udf(width)(F.col("_sh_hs")))
        .drop("_sh_hs")
    )


def _simhash_fold_udf(width: int):
    """Closure factory (PySpark udf arity gotcha): pandas_udf folding a
    list<long> token-hash column into the ``width``-bit SimHash long.
    NULL arrays stay NULL (the JVM fold's behavior); empty arrays fold
    to 0 (every sign sum is 0, 0 > 0 is false)."""
    import numpy as np

    @F.pandas_udf("long")
    def fold(hs: pd.Series) -> pd.Series:
        n_rows = len(hs)
        null_mask = np.array([v is None for v in hs], dtype=bool)
        lens = np.array(
            [0 if v is None else len(v) for v in hs], dtype=np.int64)
        ends = np.cumsum(lens)
        starts = ends - lens
        total = int(ends[-1]) if n_rows else 0
        if total:
            flat = np.concatenate(
                [np.asarray(v, dtype=np.int64) for v in hs
                 if v is not None and len(v)])
        else:
            flat = np.empty(0, dtype=np.int64)
        sig = np.zeros(n_rows, dtype=np.uint64)
        csum = np.empty(total + 1, dtype=np.int64)
        csum[0] = 0
        for i in range(width):
            np.cumsum((flat >> i) & 1, out=csum[1:])
            ones = csum[ends] - csum[starts]
            bit = (2 * ones > lens).astype(np.uint64)
            sig |= bit << np.uint64(i)
        out = pd.array(sig.view(np.int64), dtype="Int64")
        out[null_mask] = pd.NA
        return pd.Series(out)

    return fold


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
    max_bucket: int | None = 256,
    metrics: dict | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash banding (4 equal-width chunks): docs within
    Hamming distance <= max_hamming share at least one identical chunk when
    max_hamming <= 3 (pigeonhole), so candidate recall is exact — the
    banding output EQUALS the brute-force hamming<=3 pair set, which is
    what the md5-family DuckDB oracle replays (with the cap lifted).

    ``max_bucket`` bounds the self-join blowup on pathological buckets:
    a degenerate corpus (boilerplate chunks, near-identical token mixes)
    can put millions of docs into ONE 16-bit chunk bucket, making the
    in-bucket pair generation quadratic. Buckets above the cap are skipped
    (bounded recall loss on exactly the buckets whose pairs would be
    mostly-duplicate anyway); pass ``metrics`` (a dict) to receive
    {"capped_buckets", "capped_rows"} — the same contract as
    canonicalize.lsh_candidate_pairs."""
    width = simhash_width(hash_family)
    chunk_bits = width // 4
    chunk_mask = (1 << chunk_bits) - 1
    # signatures feed the optional metrics job and the pair plan: persist
    # so the signature pass runs ONCE, and let capped_self_join_pairs
    # materialize the pair set before unpersisting
    # NULL text -> '' (same contract as the minhash path and exact dedup):
    # a NULL simhash would be silently dropped by the NULL-key joins below,
    # so two NULL-text docs would never pair while ''-text docs all do
    sh = with_simhash(
        df.select(F.col(id_col).alias("id"),
                  F.coalesce(F.col(text_col), F.lit("")).alias(text_col)),
        text_col, hash_family=hash_family,
    ).select("id", "simhash").persist()
    chunks = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), chunk_bits * j)
                .bitwiseAND(F.lit(chunk_mask))
                .alias(f"c{j}")
                for j in range(4)
            ])
        ).alias("chunk_idx", "chunk"),
    )
    from generative_ner_spark.operators.canonicalize import (
        capped_self_join_pairs,
    )

    cand = capped_self_join_pairs(
        chunks, ("chunk_idx", "chunk"), "id", max_bucket, metrics,
        payload_cols=("simhash",),
    )
    sh.unpersist()  # candidates are materialized; signature cache done
    return (
        cand
        .withColumn("hamming", F.bit_count(
            F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def dedup_paragraphs(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", sep: str = "\n") -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the CCNet/Dolma boilerplate
    remover): every distinct paragraph keeps only its FIRST occurrence —
    min (doc, position) over the md5 of the paragraph — and documents are
    rebuilt from their surviving paragraphs in original order. Documents
    whose every paragraph was seen earlier disappear entirely (they were
    pure boilerplate).

    Scale shape — paragraph text crosses exactly ONE exchange (pinned by
    test + PLANS.md): the winner election runs on a TEXT-FREE projection
    (ph, id, idx) — explode, hash, ONE map-side-combined groupBy on the
    uniform paragraph hash (boilerplate hot keys absorbed by partial
    aggregation), then a second slim groupBy folds the winners into one
    per-doc survivor-index set. That (id, _keep idx-array) frame joins the
    text side on id ALONE: at corpus scale winners ~= all distinct
    paragraphs (never broadcastable), but the survivor-set frame is one
    slim row per surviving DOC, and a join keyed on id leaves the joined
    output co-partitioned with the per-doc rebuild groupBy — so the text
    ships through that single id-exchange and never moves again. (The
    r4 shape joined text on ph and re-shuffled survivors on id: two full-
    text exchanges.) Rebuild is sort_array over collected (idx, para)
    structs — no window, no global sort. Fully SQL-expressible => full
    q41 oracle.
    """
    # \Q...\E-quote the separator: F.split treats its pattern as a regex
    # while the concat_ws rebuild uses the literal — an unquoted sep='.'
    # (sentence dedup) would split on ANY character, explode every doc
    # into empty strings, and silently drop the whole corpus
    sep_pat = "\\Q" + sep + "\\E"
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep_pat)).alias("idx", "para"),
    ).where(F.col("para") != "")
    # winner election never touches text: Catalyst prunes para out of the
    # groupBy input (only ph/id/idx cross these two slim exchanges)
    hashed = paras.select("id", "idx", F.md5("para").alias("ph"))
    keep = (
        hashed.groupBy("ph")
        .agg(F.min(F.struct("id", "idx")).alias("w"))
        .groupBy(F.col("w.id").alias("id"))
        .agg(F.collect_set("w.idx").alias("_keep"))
    )
    kept = (
        paras.join(keep, "id")
        .where(F.array_contains("_keep", F.col("idx")))
        .select("id", "idx", "para")
    )
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.sort_array(F.collect_list(F.struct("idx", "para"))),
                lambda s: s["para"],
            ),
        ).alias(text_col)
    )
    return rebuilt.select(F.col("id").alias(id_col), text_col)


def remove_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Line-level boilerplate removal, the CCNet/RefinedWeb line-filter
    pass that dedup_paragraphs does NOT express: a line occurring in at
    least ``min_docs`` DISTINCT documents (cookie banners, nav menus,
    copyright footers) is boilerplate and is removed from EVERY document
    — including its first occurrence, unlike dedup_paragraphs'
    first-wins policy — and repeated lines WITHIN one document keep only
    their first occurrence. Documents are rebuilt from surviving lines
    in original order; documents made of pure boilerplate disappear.

    Scale shape — line text crosses exactly ONE exchange (the
    dedup_paragraphs shape): line election runs on a TEXT-FREE (id,
    idx, lh) projection — the doc-frequency groupBy keys on the line
    hash with map-side combine (the boilerplate hot keys are exactly
    the ones partial aggregation absorbs), the within-doc first-
    occurrence window keys on (id, lh), and the surviving line indexes
    fold into ONE slim array row per doc. That (id, _keep) frame joins
    the text side on id alone, leaving the joined output co-partitioned
    with the per-doc rebuild groupBy. Fully SQL-expressible => full
    q77 oracle.
    """
    sep_pat = "\\Q" + sep + "\\E"  # same literal-separator quoting as
    # dedup_paragraphs: an unquoted regex metachar would shred the corpus
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep_pat)).alias("idx", "line"),
    ).where(F.col("line") != "")
    hashed = lines.select("id", "idx", F.md5("line").alias("lh"))
    boiler = (
        hashed.groupBy("lh")
        .agg(F.countDistinct("id").alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("lh")
    )
    w = Window.partitionBy("id", "lh").orderBy("idx")
    keep = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .join(boiler, "lh", "left_anti")
        .groupBy("id")
        .agg(F.collect_set("idx").alias("_keep"))
    )
    kept = (
        lines.join(keep, "id")
        .where(F.array_contains("_keep", F.col("idx")))
        .select("id", "idx", "line")
    )
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.sort_array(F.collect_list(F.struct("idx", "line"))),
                lambda s: s["line"],
            ),
        ).alias(text_col)
    )
    return rebuilt.select(F.col("id").alias(id_col), text_col)


# ---------------------------------------------------------------------------
# Incremental dedup: written MinHash index + batch probe
# ---------------------------------------------------------------------------

def write_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.8,
    hash_family: str = "xxhash64",
    scheme: str = "oph",
    n_buckets: int = 64,
    max_bucket: int | None = 256,
) -> dict:
    """Persist the corpus's MinHash banding table + shingle sets for
    INCREMENTAL dedup (continuous-crawl staple: dedup each new batch
    against everything already accepted WITHOUT recomputing or even
    re-reading the historical corpus text).

    ``max_bucket`` caps each (band, band_hash) posting list at write
    time — the same hot-bucket guard every other banding family carries
    (shared-boilerplate corpora can put millions of docs in one bucket;
    an uncapped probe colliding with it would materialize millions of
    candidates per batch row). Capping at WRITE keeps every probe
    map-side; the recall cost (hot-bucket members beyond the cap can't
    be matched through that bucket) is recorded in the manifest as
    ``n_capped_rows`` (rows = posting entries, not docs — a doc capped
    in one band usually survives in another). ``max_bucket=None``
    disables the cap.

    Layout under ``path``:
    - ``banding/`` — (id, band, band_hash) partitioned by ``_bkt`` =
      pmod(band_hash, n_buckets): a small-batch probe prunes to the
      buckets its own band hashes touch (FILE-level, like the written
      LSH/IVF/BM25 indexes); a large batch degrades gracefully to a
      full scan of the banding table — which is ids+hashes only, a few
      dozen bytes/doc, never the corpus text.
    - ``shingles/`` — (id, shingles) partitioned by ``_sbkt`` =
      pmod(xxhash64(id), n_buckets): read back ONLY for the (few)
      candidate ids that collide with the batch, pruned by their id
      buckets.
    - ``_minhash_manifest.json`` — every signature parameter, so probes
      can never drift from the index's (k, bands, shingle_n, family,
      scheme) tuning, and both tables' schemas (an empty corpus writes
      no parquet file to infer one from).

    Returns the manifest dict.
    """
    import json
    import os

    from generative_ner_spark.operators.canonicalize import (
        shingle_band_rows,
    )

    spark = df.sparkSession
    sh, banded = shingle_band_rows(
        df, id_col, text_col, k=k, bands=bands, n=shingle_n,
        hash_family=hash_family, scheme=scheme,
    )
    sh.persist()  # both writes below read it: hash the text once
    if max_bucket is not None:
        # deterministic keep set (smallest ids); one slim window shuffle
        # at build time buys map-side probes forever
        w = Window.partitionBy("band", "band_hash").orderBy("id")
        banded = (banded
                  .withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") <= max_bucket).drop("_rn"))
    banding = banded.withColumn(
        "_bkt", F.pmod(F.col("band_hash"), F.lit(n_buckets)))
    shingles = sh.withColumn(
        "_sbkt", F.pmod(F.xxhash64(F.col("id").cast("string")),
                        F.lit(n_buckets)))
    schemas = {"banding_schema": banding.schema.toDDL(),
               "shingles_schema": shingles.schema.toDDL()}
    # repartition by the layout key before the partitioned write (guide
    # §6 file sizing): without it every upstream task writes a sliver
    # into every bucket directory — tasks x n_buckets tiny files whose
    # open/commit overhead dominates the write locally and poisons every
    # later probe's listing at scale; with it each bucket is one file
    (banding.repartition(F.col("_bkt"))
     .write.partitionBy("_bkt").mode("overwrite")
     .parquet(os.path.join(path, "banding")))
    (shingles.repartition(F.col("_sbkt"))
     .write.partitionBy("_sbkt").mode("overwrite")
     .parquet(os.path.join(path, "shingles")))
    sh.unpersist()
    n_capped = 0
    if max_bucket is not None:
        # both counts are parquet-metadata reads over the just-written
        # index (no data scan): shingles has one row per doc, so the
        # uncapped banding total is n_docs * bands
        written = _read_index(spark, path, "banding", schemas).count()
        n_docs = _read_index(spark, path, "shingles", schemas).count()
        n_capped = n_docs * bands - written
    manifest = {
        "id_col": id_col, "text_col": text_col, "k": k, "bands": bands,
        "shingle_n": shingle_n, "jaccard_threshold": jaccard_threshold,
        "hash_family": hash_family, "scheme": scheme,
        "n_buckets": n_buckets, "max_bucket": max_bucket,
        "n_capped_rows": int(n_capped),
        # shingle sets are stored as full-width hash longs (r6); probes
        # refuse an index written under a different representation
        "shingle_repr": "hash64",
        **schemas,
    }
    with open(os.path.join(path, "_minhash_manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def _read_index(spark, path: str, table: str, manifest: dict) -> DataFrame:
    """One table of a written MinHash index, read with the schema it was
    written with."""
    import os

    return spark.read.schema(manifest[f"{table}_schema"]).parquet(
        os.path.join(path, table))


def dedup_against_index(
    new_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    metrics: dict | None = None,
    max_broadcast_batch_rows: int = 100_000,
) -> DataFrame:
    """New-batch fuzzy dedup against a written corpus index: returns the
    rows of ``new_df`` that have NO near-duplicate (banding collision +
    exact shingle Jaccard >= the index's threshold) in the indexed
    corpus. Corpus and batch ids must be disjoint. Within-batch dups are
    deliberately out of scope — compose with ``near_dedup_documents`` on
    the survivors (corpus-vs-batch and batch-vs-batch are different
    policies: the former always drops the batch side).

    Scale shape, two regimes by batch size (counted with a cheap
    ``limit(max+1)`` probe, never an unbounded action — the r4 lesson
    from the ANN query-collect guards):
    - batch <= ``max_broadcast_batch_rows`` (the common incremental
      case): the batch's banding rows and shingles are BROADCAST, so
      the corpus banding table is scanned map-side once and never
      shuffles, and the partition filter on ``_bkt`` prunes that scan
      to the touched bucket directories (FILE-level).
    - larger batches: the broadcast hints and bucket pruning are
      dropped (a big batch touches every bucket anyway) and the joins
      fall back to ordinary shuffles — graceful degradation instead of
      an executor OOM from a forced oversized broadcast.
    In both regimes corpus shingles are fetched ONLY for collided
    candidate ids (pruned by ``_sbkt``), the exact-Jaccard verify runs
    on candidates (never the cross product), and the corpus TEXT is
    never read.

    ``metrics`` receives {"n_candidates", "n_dup_new_ids",
    "broadcast_regime"}.
    """
    import json
    import os

    from generative_ner_spark.operators.canonicalize import (
        shingle_band_rows,
    )

    spark = new_df.sparkSession
    with open(os.path.join(path, "_minhash_manifest.json")) as f:
        m = json.load(f)
    if m.get("shingle_repr") != "hash64":
        raise ValueError(
            "dedup_against_index: index at " + path + " stores shingles "
            "in representation " + repr(m.get("shingle_repr")) + " but "
            "this build verifies against full-width hash sets "
            "('hash64') — rebuild the index with write_minhash_index")
    n_buckets = m["n_buckets"]
    sh_new, banded_new = shingle_band_rows(
        new_df, id_col, text_col, k=m["k"], bands=m["bands"],
        n=m["shingle_n"], hash_family=m["hash_family"], scheme=m["scheme"],
    )
    sh_new.persist()  # banding and the verify join both read it
    banded_new = banded_new.withColumn(
        "_bkt", F.pmod(F.col("band_hash"), F.lit(n_buckets))).persist()
    small = (
        new_df.select(id_col).limit(max_broadcast_batch_rows + 1).count()
        <= max_broadcast_batch_rows
    )
    if metrics is not None:
        metrics["broadcast_regime"] = small
    corpus_banding = _read_index(spark, path, "banding", m)
    new_slim = banded_new.select(
        F.col("id").alias("b"), "band", "band_hash", "_bkt")
    if small:
        # distinct buckets the batch touches: <= n_buckets values,
        # driver-safe collect; partition filter -> FILE pruning
        bkts = [r["_bkt"]
                for r in banded_new.select("_bkt").distinct().collect()]
        corpus_banding = corpus_banding.where(F.col("_bkt").isin(bkts))
        new_slim = F.broadcast(new_slim)
    cand = (
        corpus_banding.join(new_slim, ["band", "band_hash", "_bkt"])
        .select(F.col("id").alias("a"), "b")
        .dropDuplicates(["a", "b"])
        .localCheckpoint()  # materialize: feeds bucket listing + verify
    )
    if metrics is not None:
        metrics["n_candidates"] = cand.count()
    # candidate CORPUS ids -> their shingle buckets (driver-sized: one
    # int per bucket, <= n_buckets) -> pruned shingle fetch
    sbkts = [
        r["_sb"]
        for r in cand.select(
            F.pmod(F.xxhash64(F.col("a").cast("string")),
                   F.lit(n_buckets)).alias("_sb")).distinct().collect()
    ]
    corpus_sh = (
        _read_index(spark, path, "shingles", m)
        .where(F.col("_sbkt").isin(sbkts))
        .select(F.col("id").alias("a"), F.col("shingles").alias("sh_a"))
    )
    sh_new_slim = sh_new.select(F.col("id").alias("b"),
                                F.col("shingles").alias("sh_b"))
    # no FORCED broadcast here: the row-count `small` gate bounds the
    # partition-pruning collect above, but this frame carries the
    # batch's SHINGLE ARRAYS, whose bytes scale with batch text (a
    # 90k-doc batch of 4 KB pages is multi-GB — past Spark's broadcast
    # hard limit even though the row gate passes). AQE picks broadcast
    # from actual runtime bytes when it genuinely fits.
    dup_new = (
        cand.join(corpus_sh, "a")
        .join(sh_new_slim, "b")
        .where(
            (F.size(F.array_intersect("sh_a", "sh_b"))
             / F.size(F.array_union("sh_a", "sh_b")))
            >= F.lit(m["jaccard_threshold"]))
        .select(F.col("b").alias(id_col))
        .distinct()
        .localCheckpoint()
    )
    if metrics is not None:
        metrics["n_dup_new_ids"] = dup_new.count()
    out = new_df.join(dup_new, id_col, "left_anti")
    out = out.localCheckpoint()  # pin before releasing the caches
    banded_new.unpersist()
    sh_new.unpersist()
    return out


def duplicate_window_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
) -> DataFrame:
    """Exact duplicate-substring detection at token-window granularity —
    the distributed restatement of suffix-array exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): any ``w``-token window whose content occurs MORE
    THAN ONCE in the whole corpus (across documents or repeated inside
    one) is a duplicated region; overlapping/adjacent hits merge into
    maximal spans.

    Output: one row per merged span — (id, ``span_start``,
    ``span_end``) as 0-based inclusive token indices. Feed it to a
    cutter (slice the token array around the spans) for the actual
    removal; emitting spans keeps the operator pure and testable.

    Scale shape (the suffix array itself is the famously non-
    distributable part of Lee et al.; rolling windows + two-phase
    counting give the same >=w-token guarantee):

    1. tokenize once, explode (id, token_index, window_md5) — SLIM
       rows, the text itself never crosses an exchange;
    2. duplicate hashes = groupBy(hash).count > 1 — map-side partial
       agg absorbs the overwhelmingly-unique mass before the shuffle;
    3. positions of duplicated windows = semi-join grams against the
       dup-hash set (a shuffle semi-join: safe at any dup rate);
    4. merge per doc: windows are width-``w`` intervals, so after
       sorting by start, a hit starts a new span iff its start exceeds
       the previous start + ``w`` (lag + cumsum island trick), then
       min/max per island — the (id, island) groupBy reuses the
       window's hash-partitioning on id: no extra exchange.

    DuckDB replays every step as plain SQL (same md5 over the same
    space-joined token slice) — the q54 oracle.
    """
    toks = F.split(F.trim(F.col(text_col)), "[ \t\n\x0b\f\r]+")
    # persisted: grams feeds BOTH the dup-hash count and the position
    # semi-join — recomputing would tokenize + hash the corpus twice
    grams = (
        df.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("id"), toks.alias("_tk"))
        .where(F.size("_tk") >= w)
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_tk") - F.lit(w)),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("_tk", i + 1, w))),
                )
            ).alias("i", "h"),
        )
    ).persist()
    dups = grams.groupBy("h").count().where(F.col("count") > 1).select("h")
    hits = grams.join(dups, "h", "left_semi").select("id", "i")
    wd = Window.partitionBy("id").orderBy("i")
    islands = (
        hits.withColumn("_prev", F.lag("i").over(wd))
        .withColumn(
            "_new",
            F.when(F.col("_prev").isNull()
                   | (F.col("i") > F.col("_prev") + w), 1).otherwise(0),
        )
        .withColumn(
            "_isl",
            F.sum("_new").over(
                wd.rowsBetween(Window.unboundedPreceding,
                               Window.currentRow)),
        )
    )
    out = (
        islands.groupBy("id", "_isl")
        .agg(F.min("i").cast("long").alias("span_start"),
             (F.max("i") + F.lit(w - 1)).cast("long").alias("span_end"))
        .select(F.col("id").alias(id_col), "span_start", "span_end")
    )
    # pin the (small) span result, then release the corpus-sized grams
    # cache — without this the exploded gram frame stayed pinned for the
    # session lifetime (same release discipline as jaccard_set_join)
    out = out.localCheckpoint()
    grams.unpersist()
    return out


def jaccard_set_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """EXACT set-similarity self-join: all document pairs whose
    ``shingle_n``-token shingle SETS have Jaccard >= ``threshold`` ->
    ``(a, b, n_common, jaccard)`` with a < b. The exact counterpart of
    the MinHash families — use it when the pair list must be provably
    complete (legal/compliance dedup, oracle labels for tuning the
    probabilistic path).

    Never all-pairs: PPJoin-style prefix filtering (Xiao et al. WWW'08).
    Shingles are globally ordered by (document frequency, shingle) —
    rarest first — and a document of set-size n exposes only its first
    ``n - ceil(t*n) + 1`` shingles as join keys: two sets with Jaccard
    >= t MUST share a prefix shingle (if A∩B avoided A's prefix it
    would fit inside the last ceil(t*n)-1 positions < t*n <= |A∩B|).
    Candidate generation therefore joins on mostly-rare shingles (the
    df-order puts 'the'-like shingles LAST, out of every prefix),
    then exact verification joins the deduped candidate pairs back to
    per-doc sorted shingle arrays and filters on true Jaccard. The
    DuckDB oracle replays the UNFILTERED quadratic definition, so a
    hash-green q64 also certifies the prefix filter lossless.
    """
    t = float(threshold)
    # pattern stays a Python string through F.split — routing it through an
    # F.expr SQL literal mangles the escapes (\x0b -> literal x,0,b in the
    # class), the CLAUDE.md SQL-lexer gotcha.
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \t\n\x0b\f\r]+"),
        lambda x: x != F.lit(""))
    # shingles are REPRESENTED by their xxhash64 from here on (guide §2.3
    # "narrower types"): every downstream exchange — the distinct, the
    # df-count, the prefix self-join, the verify arrays — carries an
    # 8-byte long instead of a ~25-byte string. Set semantics are
    # preserved modulo 64-bit collisions WITHIN one document pair's union
    # (~500-shingle docs: P < 1e-14 per pair); the prefix filter stays
    # lossless under ANY consistent global order, so ordering by
    # (df, hash) instead of (df, string) only changes WHICH candidates
    # are generated, never which pairs verify.
    sh = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_tk"))
        .where(F.size("_tk") >= shingle_n)
        .select(
            "_id",
            F.explode(F.expr(
                f"transform(sequence(0, size(_tk) - {shingle_n}),"
                f" i -> xxhash64(array_join(slice(_tk, i + 1, {shingle_n}),"
                f" ' ')))"
            )).alias("tok"),
        )
        .distinct()
        .persist()  # feeds df-rank, sizes, verification arrays
    )
    # r6b: the document frequency is a COUNT OVER a tok-partitioned
    # window instead of a separate groupBy + join-back — one exchange of
    # the shingle rows (by tok) replaces two passes (the dfreq aggregate
    # AND re-shuffling sh against it); values are identical (count of
    # distinct (_id, tok) rows per tok IS the df).
    wdoc = Window.partitionBy("_id")
    ranked = (
        sh.withColumn("_df", F.count("*").over(Window.partitionBy("tok")))
        .withColumn("_pos", F.row_number().over(
            wdoc.orderBy("_df", "tok")))
        .withColumn("_n", F.count("*").over(wdoc))
    )
    # ceil over double t*n can land one too HIGH when the double rep of
    # t exceeds its decimal (ceil(0.55*100) = 56), shortening the prefix
    # below what losslessness requires; nudging down by 1e-9 restores the
    # exact-integer case and can only LENGTHEN the prefix otherwise
    # (more candidates — never fewer, so never lossy)
    # materialized ONCE (slim: 4 longs/row) before feeding BOTH sides of
    # the candidate self-join — the two join sides are separately
    # re-analyzed plans, so without the checkpoint each side re-ran the
    # whole df-rank window pass (r6b; the persist on sh bounds that
    # recompute at the shingle cache, not at the ranked rows)
    prefix = ranked.where(
        F.col("_pos")
        <= F.col("_n") - F.ceil(F.lit(t) * F.col("_n") - F.lit(1e-9)) + 1
    ).select("tok", "_id", "_n", "_pos").localCheckpoint()
    # PPJoin POSITIONAL filter (Xiao et al. §3.2, the r6 addition): a pair
    # matching on shingle w at sorted positions (pa, pb) can share at most
    # min(pa-1, pb-1) shingles before w, w itself, and min(na-pa, nb-pb)
    # after it — so bound = min(pa,pb) + min(na-pa, nb-pb); Jaccard >= t
    # needs overlap >= t/(1+t)*(na+nb). Filtering each joined ROW on the
    # bound is lossless: a truly-passing pair has EVERY bound >= its true
    # overlap >= the requirement, so at least one (in fact each) of its
    # matching rows survives to generate it. On the sf1.0 corpus this
    # prunes the candidate set from 52M pairs to the near-dup core before
    # the array-verify joins ever see it (it also subsumes the length
    # filter: bound <= min(na, nb)).
    req = F.lit(t / (1.0 + t)) * (F.col("na") + F.col("nb")) - F.lit(1e-9)
    cand = (
        prefix.select("tok", F.col("_id").alias("a"),
                      F.col("_n").alias("na"), F.col("_pos").alias("pa"))
        .join(prefix.select("tok", F.col("_id").alias("b"),
                            F.col("_n").alias("nb"),
                            F.col("_pos").alias("pb")), "tok")
        .where(F.col("a") < F.col("b"))
        .where(
            (F.least("pa", "pb")
             + F.least(F.col("na") - F.col("pa"),
                       F.col("nb") - F.col("pb"))) >= req)
        .select("a", "b", "na", "nb")
        .distinct()
    )
    sets = sh.groupBy("_id").agg(
        F.sort_array(F.collect_list("tok")).alias("_set"))
    verified = (
        cand.join(sets.select(F.col("_id").alias("a"),
                              F.col("_set").alias("_sa")), "a")
        .join(sets.select(F.col("_id").alias("b"),
                          F.col("_set").alias("_sb")), "b")
        .withColumn("n_common",
                    F.size(F.array_intersect("_sa", "_sb")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")))
        .where(F.col("jaccard") >= t)
        .select("a", "b", "n_common",
                F.round("jaccard", round_to).alias("jaccard"))
    )
    out = verified.localCheckpoint()
    sh.unpersist()
    return out


def fuzzy_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.8,
    max_bucket: int | None = 64,
    hash_family: str = "xxhash64",
    scheme: str = "kmin",
) -> DataFrame:
    """The audit/report twin of ``near_dedup_documents``: instead of
    silently dropping near-duplicates, return ``(id_col, component,
    cluster_size)`` for every document that sits in a near-dup cluster
    (cluster = connected component of the MinHash-LSH pair graph,
    component id = min member, size >= 2 by construction — singletons
    produce no pair and no row). This is what a curation run logs and a
    human reviews before committing to a survivor policy; the survivor
    set of ``near_dedup_documents`` is exactly "drop every row here
    with id != component".

    Same scale shape as the dedup path (shared pair machinery: LSH
    banding, hot-bucket cap, exact-Jaccard verify; CC alternating-star
    with driver short-circuit); the size join is component-keyed and
    component counts are map-side combined.
    """
    from generative_ner_spark.operators.canonicalize import (
        connected_components,
    )

    pairs = near_duplicate_pairs_minhash(
        df, id_col, text_col, k=k, bands=bands, shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold, max_bucket=max_bucket,
        hash_family=hash_family, scheme=scheme,
    )
    comp = connected_components(pairs.select("a", "b"))
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("id").alias(id_col), "component", "cluster_size")
