"""Cost estimation + budget abort (S29/S30).

Reference: src/gpt/cost.py — per-model $/1k-token tables, tiktoken counting,
Batch-API halving, running-total budget abort (CostError at
total >= limit, cost.py:219-221). Re-expressed as:

* token counting as a COLUMN: the public ~4-chars/token heuristic — one
  narrow projection (tiktoken is not a dependency);
* cost as arithmetic columns from a driver-side price table (model prices
  are the PUBLIC OpenAI list prices the reference also hardcodes);
* the budget abort lives with the job that spends:
  jobs/run_gpt_spark.py ``generate_with_budget`` charges each dispatched
  chunk with these columns and stops dispatching at the limit
  (cost.py:197-223 semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# public list prices (USD per 1k tokens) — the reference's full supported
# table (src/gpt/cost.py:36-40, 65-70, 125-128), plus gpt-4.1-mini as a
# repo extension for newer deployments
MODEL_COSTS = {
    "gpt-4o-mini": {"prompt": 0.00015, "completion": 0.0006},
    "gpt-4o-mini-2024-07-18": {"prompt": 0.00015, "completion": 0.0006},
    "gpt-4o-2024-08-06": {"prompt": 0.0025, "completion": 0.01},
    "gpt-4o-2024-11-20": {"prompt": 0.0025, "completion": 0.01},
    "gpt-3.5-turbo-0125": {"prompt": 0.0005, "completion": 0.0015},
    "gpt-4.1-mini": {"prompt": 0.0004, "completion": 0.0016},
}
# models the reference REJECTS with a cheaper-equivalent recommendation
# (src/gpt/cost.py:62-67, 118-126): {rejected: (its price, recommended)}
SUPERSEDED_MODELS = {
    "gpt-4o": ({"prompt": 0.005, "completion": 0.015}, "gpt-4o-2024-08-06"),
    "gpt-4o-2024-05-13": (
        {"prompt": 0.005, "completion": 0.015}, "gpt-4o-2024-08-06"),
    "gpt-3.5-turbo-instruct": (
        {"prompt": 0.0015, "completion": 0.002}, "gpt-3.5-turbo-0125"),
    "gpt-3.5-turbo-0613": (
        {"prompt": 0.0015, "completion": 0.002}, "gpt-3.5-turbo-0125"),
    "gpt-3.5-turbo-0301": (
        {"prompt": 0.0015, "completion": 0.002}, "gpt-3.5-turbo-0125"),
    "gpt-3.5-turbo-1106": (
        {"prompt": 0.001, "completion": 0.002}, "gpt-3.5-turbo-0125"),
    "gpt-3.5-turbo-16k-0613": (
        {"prompt": 0.003, "completion": 0.004}, "gpt-3.5-turbo-0125"),
}
BATCH_API_DISCOUNT = 0.5  # cost.py:165-168
FX_RATE_JPY = 150.0  # cost.py:4


class CostError(RuntimeError):
    """Unknown or superseded model (parity with src/gpt/cost.py's
    RuntimeError raises)."""


def resolve_model_prices(model: str) -> dict:
    """Model name -> {prompt, completion} USD/1k prices.

    Reference semantics (src/gpt/cost.py count_fee + per-family helpers):
    a model with a strictly cheaper equivalent RAISES with the
    recommendation (the 'cheaper model exists' guard), and an unknown
    model raises rather than silently pricing at zero."""
    if model in MODEL_COSTS:
        return MODEL_COSTS[model]
    if model in SUPERSEDED_MODELS:
        prices, best = SUPERSEDED_MODELS[model]
        raise CostError(
            f"There is a cheaper model than your specified ({model}). "
            f"I recommend to use '{best}'."
        )
    raise CostError(
        "Your specified model is unknown. Search the price of the model "
        "and add its pricing to MODEL_COSTS."
    )


def token_count_col(text_col: str) -> Column:
    """Estimated token count column: the documented ~4-chars-per-token
    heuristic (ceil(len/4), floor 1 for non-empty). The reference counts
    with tiktoken, which is not a dependency here.
    """
    c = F.length(F.col(text_col))
    # NULL text (a failed generation) is 0 tokens, like empty: the old
    # greatest(NULL, 1) form billed every null-text row 1 phantom token
    # (greatest skips nulls). The greatest() itself was dead weight —
    # ceil(c/4) >= 1 for any non-empty string.
    return F.when(c.isNull() | (c == 0), F.lit(0)).otherwise(
        F.ceil(c / 4.0).cast("long")
    )


def with_cost_estimate(
    df: DataFrame,
    prompt_col: str,
    completion_col: str | None = None,
    model: str = "gpt-4o-mini-2024-07-18",
    batch_api: bool = False,
) -> DataFrame:
    """Add prompt/completion token counts + usd_cost + jpy_cost columns."""
    prices = resolve_model_prices(model)
    disc = BATCH_API_DISCOUNT if batch_api else 1.0
    out = df.withColumn("prompt_tokens", token_count_col(prompt_col))
    if completion_col is not None:
        out = out.withColumn("completion_tokens", token_count_col(completion_col))
    else:
        out = out.withColumn("completion_tokens", F.lit(0).cast("long"))
    usd = (
        F.col("prompt_tokens") / 1000.0 * F.lit(prices["prompt"] * disc)
        + F.col("completion_tokens") / 1000.0 * F.lit(prices["completion"] * disc)
    )
    return out.withColumn("usd_cost", F.round(usd, 8)).withColumn(
        "jpy_cost", F.round(F.col("usd_cost") * F.lit(FX_RATE_JPY), 8)
    )


def total_cost(df_with_cost: DataFrame) -> float:
    row = df_with_cost.agg(F.sum("usd_cost").alias("usd")).collect()[0]
    return float(row["usd"] or 0.0)
