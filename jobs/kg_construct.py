"""spark-submit entry point for the KG-construction pipeline.

Packaging per the north rule ("run via spark-submit --py-files on a
multi-executor cluster"):

    ./scripts/make_pyfiles.sh          # -> dist/generative_ner_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/generative_ner_spark.zip \\
        jobs/kg_construct.py \\
        --input  <interleaved docs: parquet dir or synth:<n_docs>> \\
        --golds  <gold entities parquet, optional for synth> \\
        --sink   <output dir (parquet, partitionBy pred)> \\
        --checkpoint <resume dir, optional> \\
        --metrics    # collect per-partition lineage/metrics tables

On a real cluster --master/--num-executors come from spark-submit; this main
never hardcodes a master (the session is taken from the spark-submit-built
context). For the sandbox smoke test use --master local[8].
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="KG-construction pipeline")
    ap.add_argument("--input", required=True,
                    help="parquet dir of interleaved docs, or synth:<n_docs>")
    ap.add_argument("--golds", default=None,
                    help="gold entities parquet (omit with synth:)")
    ap.add_argument("--alias", default=None,
                    help="alias dictionary parquet (omit with synth:)")
    ap.add_argument("--entities", default=None,
                    help="entity catalog parquet (omit with synth:)")
    ap.add_argument("--sink", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--metrics", action="store_true")
    ap.add_argument("--canonical", default=None,
                    help="canonical-map parquet: read if it exists, else "
                         "compute from --entities and write there (the map "
                         "depends only on the entity catalog — compute once "
                         "per catalog version, reuse across runs)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("kg-construct").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from generative_ner_spark.plans.pipeline import run_pipeline
    from generative_ner_spark.sources import corpus
    from generative_ner_spark.sources.synth import SynthConfig

    if args.input.startswith("synth:"):
        cfg = SynthConfig(n_docs=int(args.input.split(":", 1)[1]))
        docs, golds = corpus.synth_documents(spark, cfg)
        alias_df = corpus.alias_df(spark, cfg)
        entities_df = corpus.entities_df(spark, cfg)
    else:
        cfg = SynthConfig()
        docs = spark.read.parquet(args.input)
        if not (args.golds and args.alias and args.entities):
            raise SystemExit("--golds/--alias/--entities required for parquet input")
        golds = spark.read.parquet(args.golds)
        alias_df = spark.read.parquet(args.alias)
        entities_df = spark.read.parquet(args.entities)

    canonical_df = None
    if args.canonical:
        import os

        from generative_ner_spark.operators import canonicalize
        from generative_ner_spark.plans.session import committed

        # order-independent fingerprint of the CURRENT entity catalog: a
        # canonical map is only valid for the catalog it was computed
        # from — reusing a committed map against a changed catalog would
        # silently leave new entities uncanonicalized and merged ones
        # split (triples wrong with rc=0)
        fp = canonicalize.catalog_fingerprint(entities_df)
        fp_path = os.path.join(args.canonical, "_catalog_fingerprint")

        def _read_fp():
            try:
                with open(fp_path) as f:
                    return f.read().strip()
            except OSError:
                return None

        # a directory left by a crashed prior write must be recomputed,
        # not silently read as a (partial) canonical map. Local-FS path
        # semantics — on an object store route this through the
        # catalog/table API instead.
        if committed(args.canonical) and _read_fp() == fp:
            canonical_df = spark.read.parquet(args.canonical)
        else:
            if committed(args.canonical):
                print(f"canonical map at {args.canonical} was computed "
                      f"from a DIFFERENT entity catalog — recomputing",
                      file=sys.stderr)
            canonicalize.canonical_map(entities_df).write.mode(
                "overwrite").parquet(args.canonical)
            with open(fp_path, "w") as f:
                f.write(fp)
            canonical_df = spark.read.parquet(args.canonical)

    res = run_pipeline(
        spark, docs, golds, alias_df, entities_df, cfg,
        checkpoint_dir=args.checkpoint,
        sink_path=args.sink,
        collect_metrics=args.metrics,
        canonical_df=canonical_df,
    )
    print(json.dumps({
        "sink": args.sink,
        "n_triples": res.metrics.get("n_triples"),
        "wall_sec": round(res.metrics.get("wall_sec") or 0, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
