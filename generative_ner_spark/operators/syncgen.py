"""Sync generation wrapper (S16) — the reference's OpenAI.generate path.

Reference flow (src/gpt/openai_api.py:173-266, driven by run_gpt.py:123-152
generate/debug modes): per prompt, check the md5-of-joined-contents response
cache; on miss call chat.completions.create with (model, temperature, top_p,
seed, n, max_tokens[, json_format]); raise RuntimeError if
``finish_reason != 'stop'`` (openai_api.py:225-226); cache successful
responses only.

Spark restatement:
  * the prompt hash is computed JVM-side (md5 over '\\n'-joined message
    contents — byte-identical to src/gpt/utils.py:64-101, verified in
    tests), so cache anti-joins never touch Python;
  * the HTTP call becomes an injectable ``responder(messages, params) ->
    (text, finish_reason)`` invoked inside ``mapInPandas`` Arrow batches —
    a deterministic local stub here (no network in the sandbox), the real
    OpenAI client in production (a per-worker client singleton);
  * the finish-reason guard becomes a per-row ``error`` column instead of a
    process-killing raise — on a 1000-executor run one truncated response
    must not abort the stage; rows with errors are NOT cached, so a re-run
    retries exactly those (the reference's crash-and-rerun semantics,
    minus the crash);
  * the cache is a parquet table keyed on prompt_hash (same table the
    checkpoint-resume path uses conceptually; successful rows only).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# A responder returns ONE (text, finish_reason) tuple, or — for n>1
# completions — a LIST of such tuples (the choices array). Selection follows
# the reference exactly: choices[0] wins (run_gpt.py:132 takes
# results['choices'][0], its own TODO notes the rest are unused).
Responder = Callable[
    [list[dict[str, str]], dict],
    "tuple[str, str] | list[tuple[str, str]]",
]

_SYNC_SCHEMA = (
    "example_id string, prompt_hash string, generated_text string, "
    "finish_reason string, error string"
)


def with_sync_prompt_hash(prompts: DataFrame, prompt_col: str = "prompt",
                          out: str = "prompt_hash") -> DataFrame:
    """md5 over '\\n'.join(message contents), computed in the JVM.

    Byte-parity with the reference cache key (src/gpt/utils.py:64-101 /
    openai_api.py:258: ``'\\n'.join(m['content'] for m in messages)``).
    """
    return prompts.withColumn(
        out,
        F.md5(F.concat_ws("\n", F.transform(prompt_col, lambda m: m["content"]))),
    )


def stub_sync_responder(messages: list[dict[str, str]], params: dict
                        ) -> tuple[str, str]:
    """Deterministic local stand-in for chat.completions.create.

    Echoes the prompt hash; prompts whose md5 starts with '0' finish with
    'length' (~1/16 of rows) so the finish-reason guard demonstrably fires.
    SQL-expressible on purpose — q28's DuckDB oracle replays it exactly.
    """
    import hashlib

    joined = "\n".join(m["content"] for m in messages)
    h = hashlib.md5(joined.encode()).hexdigest()
    if h[0] == "0":
        return "", "length"
    return f"echo:{h}", "stop"


def heuristic_ner_responder(messages: list[dict[str, str]], params: dict
                            ) -> tuple[str, str]:
    """Deterministic model stand-in that SPEAKS THE OUTPUT CONTRACT.

    Unlike stub_sync_responder (an opaque echo, right for cache/guard
    plumbing tests), this emits the reference's bracket-list format so the
    full generate -> parse -> ground -> evaluate chain runs end-to-end with
    honest, non-degenerate P/R: it tags every maximal capitalized-word run
    in the prompt's text as ("run", "person") — collective/universal — or
    returns the bare-string list for individual prompts (detected by their
    question turn). No gold access: precision/recall land strictly between
    0 and 1 on the synthetic corpus.
    """
    import re as _re

    text = ""
    for m in messages:
        if m["role"] != "user":
            continue
        for marker in ("Text: ", "Passage: ", "テキスト: "):
            if marker in m["content"]:
                text = m["content"].rsplit(marker, 1)[1]
    runs = sorted(set(
        _re.findall(r"\b[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*\b", text)
    ))
    last_user = [m for m in messages if m["role"] == "user"][-1]["content"]
    individual = ("What describes" in last_user) or ("何の" in last_user)
    if individual:
        out = "[" + ", ".join(f'"{r}"' for r in runs) + "]"
    else:
        out = "[" + ", ".join(f'("{r}", "person")' for r in runs) + "]"
    return out, "stop"


def generate_sync(
    prompts: DataFrame,
    responder: Responder = stub_sync_responder,
    model: str = "gpt-4o-mini-2024-07-18",
    temperature: float = 0.2,
    max_tokens: int = 4096,
    top_p: float = 0.0,
    seed: int = 0,
    n: int = 1,
    json_format: bool = False,
    cache_dir: str | None = None,
) -> DataFrame:
    """prompts (example_id, prompt: array<struct<role,content>>) -> responses.

    Output columns: (example_id, prompt_hash, generated_text, finish_reason,
    error). ``generated_text`` is null and ``error`` set when the responder
    finishes with anything but 'stop' (openai_api.py:225-226 parity as a
    column, not a raise). Parameter defaults mirror _generate's signature
    (openai_api.py:174-181) and configs/config_gpt.yaml.

    With ``cache_dir``: successful responses are cached by prompt_hash;
    subsequent calls anti-join the cache and only call the responder for
    misses and previously-failed prompts (= the reference's retry-on-rerun).
    """
    params = {
        "model": model, "temperature": temperature, "max_tokens": max_tokens,
        "top_p": top_p, "seed": seed, "n": n, "json_format": json_format,
    }
    hashed = with_sync_prompt_hash(prompts).select(
        "example_id", "prompt_hash", "prompt"
    )
    out_cols = ["example_id", "prompt_hash", "generated_text",
                "finish_reason", "error"]

    def fan_out(per_hash: DataFrame) -> DataFrame:
        """One responder result per DISTINCT prompt_hash -> one output row
        per EXAMPLE (cache-hash semantics: examples sharing a prompt share
        its single response — src/gpt/utils.py:64-101; calling the
        responder per example row would be duplicate paid API spend, and a
        nondeterministic responder could race two different texts for one
        hash)."""
        return hashed.select("example_id", "prompt_hash").join(
            per_hash, "prompt_hash"
        ).select(*out_cols)

    def respond(pdf_stream: DataFrame) -> DataFrame:
        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = {k: [] for k in ("example_id", "prompt_hash",
                                       "generated_text", "finish_reason",
                                       "error")}
                for eid, ph, prompt in zip(
                    pdf["example_id"], pdf["prompt_hash"], pdf["prompt"]
                ):
                    messages = [
                        {"role": m["role"], "content": m["content"]}
                        for m in prompt
                    ]
                    res = responder(messages, params)
                    if isinstance(res, list):  # n>1 choices: first wins
                        text, finish = res[0]
                    else:
                        text, finish = res
                    out["example_id"].append(eid)
                    out["prompt_hash"].append(ph)
                    if finish == "stop":
                        out["generated_text"].append(text)
                        out["error"].append(None)
                    else:
                        out["generated_text"].append(None)
                        out["error"].append(f"finish_reason={finish}")
                    out["finish_reason"].append(finish)
                yield pd.DataFrame(out)

        return pdf_stream.mapInPandas(fn, _SYNC_SCHEMA)

    if cache_dir is None:
        return fan_out(
            respond(hashed.dropDuplicates(["prompt_hash"]))
            .drop("example_id")
        )

    from generative_ner_spark.plans.session import committed

    spark = prompts.sparkSession
    resume = committed(cache_dir)
    if resume:
        cached_hashes = spark.read.parquet(cache_dir).select("prompt_hash").distinct()
        pending = hashed.join(cached_hashes, "prompt_hash", "left_anti")
    else:
        pending = hashed
    # One responder call per DISTINCT pending prompt, total (reference
    # semantics: openai_api.py:258-266 calls once per cache miss, keyed on
    # the prompt hash — two examples sharing one prompt pay once).
    # localCheckpoint materializes the mapInPandas output eagerly so
    # neither the cache write nor any downstream action (metrics, sinks,
    # error counts) re-invokes the responder — against a paid API a lazy
    # plan here would mean duplicate spend, and a flaky responder could
    # return different text per action within one run.
    fresh = respond(pending.dropDuplicates(["prompt_hash"])).localCheckpoint()
    (
        fresh.where(F.col("finish_reason") == "stop")
        .select("prompt_hash", "generated_text")
        .dropDuplicates(["prompt_hash"])
        # overwrite clears what a crashed first write left (_temporary/)
        .write.mode("append" if resume else "overwrite").parquet(cache_dir)
    )
    cache = spark.read.parquet(cache_dir).dropDuplicates(["prompt_hash"])
    served = hashed.join(cache, "prompt_hash").select(
        "example_id", "prompt_hash", "generated_text",
        F.lit("stop").alias("finish_reason"),
        F.lit(None).cast("string").alias("error"),
    )
    # failures surface from the SAME materialization — no second call.
    # Anti-join vs the refreshed cache guards the edge where a hash both
    # failed here and (e.g. via a concurrent writer) appears cached: the
    # cache join above already serves those examples. fan_out then maps the
    # per-hash failure rows back onto every example sharing the hash.
    failed = fan_out(
        fresh.where(F.col("finish_reason") != "stop")
        .join(cache.select("prompt_hash"), "prompt_hash", "left_anti")
        .drop("example_id")
    )
    return served.unionByName(failed)
