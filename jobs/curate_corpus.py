"""spark-submit entry point: end-to-end training-corpus curation.

Chains the repo's curation operators over a parquet documents table
(doc_id, text, ...) in the order a production pretraining-data pipeline
runs them — cheap narrow filters first, shuffling stages last, every
stage's row count recorded as metrics:

  0. canonical-URL snapshot dedup (opt-in)       (urls.dedup_by_canonical_url)
  1. quality + language gates + exact dedup      (quality.curate)
  1b. hashed-feature quality gate (opt-in)       (quality.hashed_quality_score)
  1c. line-level boilerplate removal (opt-in)    (dedup.remove_boilerplate_lines)
  2. PII redaction                               (pii.redact_pii)
  3. fuzzy near-dedup (MinHash-LSH -> CC)        (dedup.near_dedup_documents)
  4. eval-set decontamination                    (decontam.decontaminate)
  5. stratified hash sampling (rebalancing)      (quality.stratified_hash_sample)
  6. write curated parquet (+ before/after corpus health, packing
     report, _metrics.json)

    ./scripts/make_pyfiles.sh
    spark-submit --master local[8] --py-files dist/generative_ner_spark.zip \
        jobs/curate_corpus.py --input /data/documents --output /tmp/curated \
        --lang en --redact-pii --near-dedup --pack-budget 2048

Stage ordering is the scale argument: the quality/lang/PII passes are
narrow projections that shrink the corpus BEFORE the dedup shuffles, and
decontamination joins a broadcast eval set, so the only corpus-wide
shuffles are the two dedup stages — each keyed on uniform hashes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def parse_rates(spec: str) -> dict[str, float]:
    """'en=0.5,de=1.0' -> {'en': 0.5, 'de': 1.0}"""
    out = {}
    for part in spec.split(","):
        k, v = part.split("=", 1)
        out[k.strip()] = float(v)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="corpus curation, Spark-first")
    ap.add_argument("--input", required=True,
                    help="parquet dir with (doc_id, text, ...)")
    ap.add_argument("--output", "-o", required=True)
    ap.add_argument("--lang", default=None,
                    help="keep only this lang_id prediction (e.g. en)")
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--max-tokens", type=int, default=100_000)
    ap.add_argument("--url-dedup", action="store_true",
                    help="keep one doc per canonical URL (needs --url-col)")
    ap.add_argument("--url-col", default="url")
    ap.add_argument("--quality-threshold", type=float, default=None,
                    help="hashed-feature linear quality gate: keep docs "
                         "with mean token weight >= this")
    ap.add_argument("--strip-boilerplate-lines", type=int, default=None,
                    metavar="MIN_DOCS",
                    help="remove lines occurring in >= MIN_DOCS docs and "
                         "within-doc repeats (CCNet line filter)")
    ap.add_argument("--health-report", action="store_true",
                    help="record corpus_health_report before and after")
    ap.add_argument("--redact-pii", action="store_true")
    ap.add_argument("--near-dedup", action="store_true",
                    help="MinHash-LSH fuzzy dedup (connected components)")
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--eval-parquet", default=None,
                    help="decontaminate against this eval documents table")
    ap.add_argument("--decontam-n", type=int, default=8)
    ap.add_argument("--sample-rates", default=None,
                    help="per-lang keep rates, e.g. en=0.5,de=1.0")
    ap.add_argument("--default-rate", type=float, default=1.0)
    ap.add_argument("--pack-budget", type=int, default=None,
                    help="also write a sequence-packing report at this "
                         "token budget")
    ap.add_argument("--pack-shards", type=int, default=16)
    ap.add_argument("--stage-dir", default=None,
                    help="persist every stage's output parquet here and "
                         "RESUME: a stage already written (with _SUCCESS) "
                         "is read back instead of recomputed — mid-chain "
                         "restartability for long curation runs. Guarded "
                         "by an input+flags fingerprint (a changed chain "
                         "refuses stale stage outputs).")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("curate-corpus").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from generative_ner_spark.operators import (
        decontam, dedup, packing, pii, urls,
    )
    from generative_ner_spark.operators import quality as Q
    from generative_ner_spark.plans.session import committed

    metrics: dict = {}
    prev_cached = None

    if args.stage_dir:
        # a stage output is only valid for the chain that produced it:
        # resuming a DIFFERENT input or flag set against old stage
        # parquet would silently curate the wrong corpus (same gate as
        # kg_construct's catalog fingerprint)
        import hashlib

        chain_fp = hashlib.md5(json.dumps(
            {k: v for k, v in sorted(vars(args).items())
             if k not in ("output", "stage_dir")},
            sort_keys=True).encode()).hexdigest()
        os.makedirs(args.stage_dir, exist_ok=True)
        fp_path = os.path.join(args.stage_dir, "_chain.json")
        if os.path.exists(fp_path):
            with open(fp_path) as f:
                prev_fp = json.load(f).get("fingerprint")
            if prev_fp != chain_fp:
                raise SystemExit(
                    f"--stage-dir {args.stage_dir} holds outputs from a "
                    "DIFFERENT input/flag chain — point at a fresh dir "
                    "or delete it")
        else:
            with open(fp_path, "w") as f:
                json.dump({"fingerprint": chain_fp}, f)

    def checkpointed(df, stage: str):
        """Materialize a stage ONCE and record its row count. Without
        this every downstream metrics count (and the final write) would
        re-execute the whole upstream chain — the quality regex passes
        and the dedup shuffles — up to 5x (CLAUDE.md: materialize between
        chained stages). The previous stage's cache is released as soon
        as its successor is materialized.

        With --stage-dir the stage output is PERSISTED as parquet and a
        re-run reads it back instead of recomputing (mid-chain resume);
        the gate is _SUCCESS, never bare directory existence — a crashed
        prior write must recompute, not read a partial stage."""
        nonlocal prev_cached
        if args.stage_dir:
            path = os.path.join(args.stage_dir, stage)
            if committed(path):
                df = spark.read.parquet(path)
                metrics.setdefault("resumed_stages", []).append(stage)
            else:
                df.write.mode("overwrite").parquet(path)
                df = spark.read.parquet(path)  # fresh file index
            metrics[stage] = df.count()
            prev_cached = None
            return df
        df = df.persist()
        metrics[stage] = df.count()
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = df
        return df

    df = spark.read.parquet(args.input)
    metrics["input_docs"] = df.count()

    def health(df, tag):
        r = Q.corpus_health_report(df).first()
        metrics[f"health_{tag}"] = {
            k: (v if v is None or isinstance(v, (int, float)) else str(v))
            for k, v in r.asDict().items()}

    if args.health_report:
        health(df, "input")

    # 0. canonical-URL snapshot dedup (slim key election before anything
    # touches the text; best snapshot = longest text)
    if args.url_dedup:
        if args.url_col not in df.columns:
            raise SystemExit(
                f"--url-dedup needs column {args.url_col!r} in the input")
        df = checkpointed(
            urls.dedup_by_canonical_url(
                df.withColumn("_len", F.length("text")),
                url_col=args.url_col, quality_col="_len",
            ).drop("_len", "canonical_url"),
            "after_url_dedup")

    # 1. quality/lang gates + exact dedup (filters run before the dedup
    # shuffle inside curate())
    df = Q.curate(df, lang=args.lang, min_tokens=args.min_tokens,
                  max_tokens=args.max_tokens)
    # keep the pipeline schema lean: drop curate's feature columns after
    # the gates fire (they are recomputable; the sink should carry text)
    df = checkpointed(df.select("doc_id", "text", "lang_pred"),
                      "after_quality_exact_dedup")

    # 1b. hashed-feature linear quality gate (pure codegen filter — runs
    # before any shuffle so rejects never cross the wire)
    if args.quality_threshold is not None:
        df = checkpointed(
            Q.hashed_quality_score(df, threshold=args.quality_threshold)
            .where(F.col("keep")).drop("quality_score", "keep"),
            "after_quality_classifier")

    # 1c. line-level boilerplate removal (CCNet line filter; text
    # crosses exactly one exchange — see remove_boilerplate_lines).
    # lang_pred is re-attached via a slim id join (the rebuild returns
    # only (doc_id, text))
    if args.strip_boilerplate_lines is not None:
        langs = df.select("doc_id", "lang_pred")
        rebuilt = dedup.remove_boilerplate_lines(
            df, min_docs=args.strip_boilerplate_lines)
        df = checkpointed(rebuilt.join(langs, "doc_id"),
                          "after_boilerplate_lines")

    # 2. PII redaction (narrow projection; text REPLACED by redacted)
    if args.redact_pii:
        df = pii.redact_pii(df).drop("text").withColumnRenamed(
            "redacted", "text")
        metrics["after_pii_redaction"] = metrics["after_quality_exact_dedup"]

    # 3. fuzzy near-dedup (the heavy stage — runs on the shrunken corpus)
    if args.near_dedup:
        df = checkpointed(
            dedup.near_dedup_documents(df, jaccard_threshold=args.jaccard),
            "after_near_dedup")

    # 4. decontamination vs a broadcast eval set
    if args.eval_parquet:
        eval_df = spark.read.parquet(args.eval_parquet)
        df = checkpointed(
            decontam.decontaminate(df, eval_df, n=args.decontam_n),
            "after_decontamination")

    # 5. deterministic language rebalancing
    if args.sample_rates:
        df = checkpointed(
            Q.stratified_hash_sample(
                df, parse_rates(args.sample_rates), "lang_pred",
                default_rate=args.default_rate),
            "after_sampling")

    curated = os.path.join(args.output, "curated")
    df.write.mode("overwrite").parquet(curated)
    if prev_cached is not None:
        prev_cached.unpersist()
    metrics["output_docs"] = spark.read.parquet(curated).count()
    if args.health_report:
        health(spark.read.parquet(curated), "output")

    # 6. packing layout for the training job
    if args.pack_budget:
        report = packing.packing_report(
            spark.read.parquet(curated),
            token_budget=args.pack_budget, shards=args.pack_shards)
        report.write.mode("overwrite").parquet(
            os.path.join(args.output, "packing_report"))
        metrics["packing_bins"] = report.count()

    with open(os.path.join(args.output, "_metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1)
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
