"""spark-submit entry point mirroring the reference's run_gpt.py modes.

Reference (src/cli/run_gpt.py): per-example eager loop with modes
  generate — cache-aware API calls -> parse/ground -> micro P/R/F1 + dump
  debug    — one example, print instruction/gold/generated, no cache write
  estimate — no calls; token/cost totals for the whole dataset
  batch    — accumulate Batch-API task bodies -> 50k-chunk JSONL files

Spark restatement (everything data-parallel; the only driver-side pieces are
the k-demo sample, metric totals, and debug printing):

    ./scripts/make_pyfiles.sh
    spark-submit --master local[8] --py-files dist/generative_ner_spark.zip \
        jobs/run_gpt_spark.py --mode generate --input synth:200 \
        --format collective --k 2 --output /tmp/gptout

``--input`` takes ``synth:<n_docs>`` (deterministic corpus) or a JSONL dir of
interleaved documents plus ``--golds`` parquet. The generation backend is the
``responder`` seam of operators/syncgen.py — the deterministic local stub by
default (no network in this sandbox), ``--responder module:function`` for a
real OpenAI-client-backed one in production; the finish-reason guard and the
md5-of-messages response cache behave identically either way.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys


def build_examples(spark, args):
    """(examples_with_golds, golds_df) from synth:<n> or JSONL+golds —
    thin wrapper over the PACKAGE implementation (sources/examples.py)
    so sibling jobs never import from jobs/ (not shipped in the
    --py-files zip)."""
    from generative_ner_spark.sources.examples import build_examples as be

    return be(spark, args.input, args.golds)


def generate_with_budget(spark, fused_prompts, responder, args, cache_dir,
                         n_chunks: int = 8):
    """Incremental cost enforcement (CostChecker parity, src/gpt/cost.py:
    197-223): the reference charges each response as it arrives and aborts
    the moment the running total crosses total_cost_limit, bounding
    overspend to ~one response. The Spark analogue dispatches the prompt
    set in ``n_chunks`` deterministic hash chunks, charges each chunk at
    its stage boundary, and stops DISPATCHING once the running total
    crosses the budget — overspend is bounded by one chunk (~1/n_chunks of
    the corpus), not the whole run.

    Returns (gens, spent_usd, n_dispatched, n_skipped). Skipped prompts
    were never sent to the responder (no spend); their examples simply
    carry no generation rows, exactly like the reference's mid-run abort.

    Charging matches what the reference CostChecker charges — REAL API
    responses: only prompts that were FRESH this chunk (one per distinct
    prompt_hash, not already in the response cache) count against the
    budget. Cache hits cost nothing, so a budget-aborted run RESUMES past
    its abort point on rerun (each rerun's early chunks are served free
    from cache and dispatch advances) instead of stalling at the same
    chunk forever; shared prompts are charged once, mirroring the
    dedup-by-hash dispatch.
    """
    from pyspark.sql import functions as F

    from generative_ner_spark.operators import cost, syncgen
    from generative_ner_spark.plans.session import committed

    bucketed = (
        syncgen.with_sync_prompt_hash(fused_prompts)
        .withColumn("_chunk", F.pmod(F.xxhash64("prompt_hash"), F.lit(n_chunks)))
        .select("example_id", "prompt", "prompt_hash", "_chunk")
        .persist()
    )
    # snapshot the distinct prompts this run will actually PAY for (not
    # yet cached) BEFORE generate_sync appends to the cache: one snapshot
    # serves every chunk, because chunks split on prompt_hash and no
    # chunk's appends can reach another chunk's prompts
    fresh = bucketed.dropDuplicates(["prompt_hash"])
    if committed(cache_dir):
        cached = spark.read.parquet(cache_dir).select(
            "prompt_hash").distinct()
        fresh = fresh.join(cached, "prompt_hash", "left_anti")
    fresh = fresh.select(
        "prompt_hash", "_chunk",
        F.concat_ws(
            "\n", F.transform("prompt", lambda m: m["content"])
        ).alias("_p"),
    ).persist()
    fresh.count()
    # every chunk's size from one job over the persisted frame
    sizes = dict(bucketed.groupBy("_chunk").count().collect())
    spent = 0.0
    parts = []
    n_dispatched = n_skipped = 0
    for c in sorted(sizes):
        if spent >= args.budget_usd:
            n_skipped += sizes[c]
            continue
        g = syncgen.generate_sync(
            bucketed.where(F.col("_chunk") == c).select("example_id", "prompt"),
            responder, model=args.model, temperature=args.temperature,
            max_tokens=args.max_tokens, top_p=args.top_p, seed=args.seed,
            n=args.n, cache_dir=cache_dir,
        )
        gt = g.select(
            "prompt_hash",
            F.coalesce("generated_text", F.lit("")).alias("_g"),
        ).dropDuplicates(["prompt_hash"])
        spent += cost.total_cost(cost.with_cost_estimate(
            fresh.where(F.col("_chunk") == c).join(gt, "prompt_hash"),
            "_p", "_g", model=args.model))
        parts.append(g)
        n_dispatched += sizes[c]
    fresh.unpersist()
    bucketed.unpersist()
    if parts:
        gens = parts[0]
        for p in parts[1:]:
            gens = gens.unionByName(p)
    else:
        gens = spark.createDataFrame([], syncgen._SYNC_SCHEMA)
    return gens, spent, n_dispatched, n_skipped


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="run_gpt.py, Spark-first")
    ap.add_argument("--config-file", "--config_file", "-c", default=None,
                    help="reference-shaped config_gpt.yaml (argparser.py:"
                         "74-102): gpt_model + dataset sections supply "
                         "defaults; explicit CLI flags override")
    ap.add_argument("--mode", "-m", default=None,
                    choices=["generate", "debug", "estimate", "batch"])
    ap.add_argument("--input", required=True,
                    help="synth:<n_docs> or JSONL dir of interleaved docs")
    ap.add_argument("--golds", default=None, help="gold entities parquet")
    ap.add_argument("--format", default=None,
                    choices=["collective", "universal", "individual"])
    ap.add_argument("--language", default=None, choices=["en", "ja"])
    ap.add_argument("--k", type=int, default=None,
                    help="few-shot demonstrations spliced into every prompt")
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--temperature", type=float, default=None)
    ap.add_argument("--top-p", type=float, default=None)
    ap.add_argument("--n", type=int, default=None)
    ap.add_argument("--max-tokens", type=int, default=None)
    ap.add_argument("--model", default=None)
    ap.add_argument("--system-prompt", default=None,
                    help="optional leading system turn (dataset.system_prompt)")
    ap.add_argument("--output", "--output_dir", "-o", required=True,
                    help="output dir (predictions / batch files / cache)")
    ap.add_argument("--responder", default=None,
                    help="module:function responder override (production)")
    ap.add_argument("--budget-usd", type=float, default=None,
                    help="cost limit (S30): estimate mode aborts up front; "
                         "generate mode dispatches in hash chunks and STOPS "
                         "dispatching once the running chars/4-estimate "
                         "spend crosses the limit (overspend bounded by one "
                         "chunk), then exits rc=2")
    args = ap.parse_args(argv)

    # config supplies defaults (reference parse_args_gpt semantics: YAML is
    # the source of model/data params, CLI carries mode/output); explicit
    # CLI flags win. Without a config the r2 CLI defaults apply unchanged.
    from generative_ner_spark.sources.config import (
        DatasetArgs, GptModelArgs, load_gpt_config,
    )

    if args.config_file:
        data_cfg, model_cfg = load_gpt_config(args.config_file)
    else:
        data_cfg, model_cfg = DatasetArgs(), GptModelArgs(
            top_p=0.0, k=0, total_cost_limit=None)
    args.mode = args.mode or model_cfg.mode
    args.format = args.format or data_cfg.format
    args.language = args.language or data_cfg.language
    args.system_prompt = args.system_prompt or data_cfg.system_prompt
    args.labels2names = data_cfg.labels2names
    if args.k is None:
        args.k = model_cfg.k
    if args.seed is None:
        args.seed = model_cfg.seed
    if args.temperature is None:
        args.temperature = model_cfg.temperature
    if args.top_p is None:
        args.top_p = model_cfg.top_p
    if args.n is None:
        args.n = model_cfg.n
    if args.max_tokens is None:
        args.max_tokens = model_cfg.max_token_length
    args.model = args.model or model_cfg.model_name
    if args.budget_usd is None and args.config_file:
        args.budget_usd = model_cfg.total_cost_limit  # gpt_model.total_cost_limit

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName(f"run-gpt-{args.mode}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from generative_ner_spark.operators import (
        batchapi, cost, demos, detect, evaluate, syncgen,
    )

    examples, golds, _ = build_examples(spark, args)
    demo_list = (
        demos.sample_demonstrations(examples, k=args.k, seed=args.seed)
        if args.k > 0 else []
    )
    prompts = detect.render_prompts(
        examples, args.format, args.language, demos=demo_list,
        labels2names=args.labels2names, system_prompt=args.system_prompt,
    ).persist()  # feeds two plan branches (generate + rejoin / est + tasks):
    # without this each branch re-runs the Python render pass
    if args.mode == "debug":
        # reference run_gpt.py:230: debug = first example only, no cache
        first = prompts.orderBy("example_id", "label").limit(
            1 if args.format != "individual" else 4)
        prompts = first

    if args.mode in ("estimate", "batch"):
        # estimate parity: prompt tokens from the submitted messages, output
        # tokens from the gold turn (openai_api.estimate(messages, gold)),
        # priced for --model; batch mode writes Batch-API tasks, so it is
        # priced at the Batch-API discount
        flat = prompts.select(
            "example_id",
            F.concat_ws(
                "\n", F.transform("prompt", lambda m: m["content"])
            ).alias("_p"),
            F.col("gold_output").alias("_g"),
        )
        est = cost.with_cost_estimate(flat, "_p", "_g", model=args.model,
                                      batch_api=args.mode == "batch")
        total = cost.total_cost(est)
        n = est.count()
        print(json.dumps({"mode": args.mode, "prompts": n,
                          "estimated_usd": round(total, 6)}))
        if args.budget_usd is not None and total > args.budget_usd:
            print(f"estimated cost {total:.4f} exceeds budget "
                  f"{args.budget_usd:.4f}; aborting", file=sys.stderr)
            return 2  # reference: cost limit terminates the process (S30)
        if args.mode == "batch":
            # individual format fans out per label: the task key must be
            # (example, label) so the retrieval join is unambiguous — the
            # same '#' encoding generate mode uses
            tasks = batchapi.build_batch_tasks(
                prompts.select(
                    F.concat_ws("#", "example_id", "label").alias("example_id"),
                    "prompt",
                ),
                model=args.model,
                temperature=args.temperature, top_p=args.top_p,
                seed=args.seed, max_tokens=args.max_tokens,
            )
            batchapi.save_batch_files(tasks, os.path.join(args.output, "batch"))
            print(json.dumps({"batch_files": os.path.join(args.output, "batch"),
                              "tasks": tasks.count()}))
        return 0

    # ---- generate / debug ------------------------------------------------
    responder = syncgen.heuristic_ner_responder
    if args.responder:
        mod, fn = args.responder.split(":", 1)
        responder = getattr(importlib.import_module(mod), fn)
    cache_dir = None if args.mode == "debug" else os.path.join(
        args.output, "response_cache")  # debug never caches (run_gpt.py:258)
    fused = prompts.select(
        F.concat_ws("#", "example_id", "label").alias("example_id"), "prompt"
    )
    spent = None
    n_skipped = 0
    if args.budget_usd is not None and args.mode == "generate":
        # incremental enforcement: stop dispatching once the running total
        # crosses the budget (overspend bounded by one chunk, not the run)
        gens, spent, n_dispatched, n_skipped = generate_with_budget(
            spark, fused, responder, args, cache_dir)
    else:
        gens = syncgen.generate_sync(
            fused, responder, model=args.model, temperature=args.temperature,
            max_tokens=args.max_tokens, top_p=args.top_p, seed=args.seed,
            n=args.n, cache_dir=cache_dir,
        )
    gens = gens.withColumn("label", F.get(F.split("example_id", "#"), 1)) \
               .withColumn("example_id", F.get(F.split("example_id", "#"), 0))
    keyed = prompts.select(
        "example_id", "doc_id", "span_offset", "text",
        F.coalesce("label", F.lit("")).alias("label"),
    ).join(
        gens.withColumn("label", F.coalesce("label", F.lit(""))),
        ["example_id", "label"],
    )
    ok = keyed.where(F.col("finish_reason") == "stop")
    if args.format == "individual":
        mentions = detect.ground_individual(ok)
    else:
        mentions = detect.ground(ok)

    if args.mode == "debug":
        for r in keyed.collect():  # one example (run_gpt.py debug print)
            print("Instruction example_id:", r.example_id, "label:", r.label)
            print("Generated:", r.generated_text)
        return 0

    frame = evaluate.mention_eval_frame(mentions, golds)
    metrics = evaluate.evaluate_predictions(frame)
    preds_path = os.path.join(args.output, "predictions")
    # reference prediction record shape (run_gpt.py:152): id/text/golds/preds
    # + generated_text, as a queryable parquet table instead of one JSON file
    (
        ok.select("example_id", "text", "generated_text")
        .join(
            mentions.groupBy("example_id").agg(
                F.collect_list(F.struct("start", "end", "label")).alias("preds")
            ),
            "example_id", "left",
        )
        .write.mode("overwrite").parquet(preds_path)
    )
    n_err = keyed.where(F.col("finish_reason") != "stop").count()
    if spent is not None:
        # budget path: the per-chunk running total IS the actual spend
        # (generate_with_budget charged each chunk at its stage boundary)
        actual = spent
    else:
        flat = prompts.select(
            "example_id",
            F.coalesce("label", F.lit("")).alias("label"),
            F.concat_ws(
                "\n", F.transform("prompt", lambda m: m["content"])
            ).alias("_p"),
        )
        gen_txt = gens.withColumn(
            "label", F.coalesce("label", F.lit(""))
        ).select(
            "example_id", "label",
            F.coalesce("generated_text", F.lit("")).alias("_g"),
        )
        actual = cost.total_cost(cost.with_cost_estimate(
            flat.join(gen_txt, ["example_id", "label"]), "_p", "_g",
            model=args.model,
        ))
    out = {"mode": "generate", "metrics": metrics, "predictions": preds_path,
           "generation_errors": n_err, "actual_usd": round(actual, 6)}
    if n_skipped:
        out["skipped_prompts"] = n_skipped  # never dispatched: no spend
    if args.budget_usd is not None and actual >= args.budget_usd:
        out["budget_exceeded"] = True
        print(json.dumps(out))
        print(f"generation cost {actual:.4f} reached budget "
              f"{args.budget_usd:.4f}; aborting", file=sys.stderr)
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
