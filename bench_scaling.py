"""Throughput-scaling evidence: one family's job on the same input at two
parallelism levels.

The north rule asks for >= 0.8 throughput-scaling efficiency between N and
4N executors. Without a multi-executor cluster the proxy (BASELINE.md) is
the same job on the same input at ``local[lo]`` and ``local[hi]``, with
``lo = max(1, nproc // 4)`` and ``hi = 4 * lo``. Each level runs in a fresh
JVM, in a spawned copy of this module, with 2g of heap and two shuffle
partitions per core: on a cluster every executor brings its own heap, and a
fixed heap shared by more task threads turns GC into the serial bottleneck.

Every family in ``FAMILIES`` gives
  build    (spark, size) -> inputs, persisted and counted before the clock;
  run      the timed call, inputs -> output DataFrame;
  project  output -> the columns the fingerprint covers;
  check    (output, size) -> bool, the family's analytic check, or None.
A level runs one warm-up trial and ``TRIALS`` timed trials. Each trial
persists the output, fingerprints the projection (row count, bit_xor and
bounded sum of xxhash64; independent of row order and partitioning) and
runs the check. All trials of a level, and the two levels, must give the
same fingerprint. Efficiency is ``speedup / (hi / lo)``.

    python bench_scaling.py --family {kg,fuzzy,graph,walks,lines,temporal} [--size N]

Prints one JSON line and writes BENCH/SCALING_<FAMILY>.md; BENCH/SCALING.md
is the hand-written index and measurement history.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import sys
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from generative_ner_spark.operators import dedup, graph, temporal
from generative_ner_spark.operators.canonicalize import canonical_map
from generative_ner_spark.plans.pipeline import run_pipeline
from generative_ner_spark.plans.session import build_session
from generative_ner_spark.sources import corpus
from generative_ner_spark.sources.synth import SynthConfig

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.append(os.path.join(REPO, "perfbench"))  # workloads' own imports
from perfbench.run import _cpu_jiffies  # noqa: E402
from perfbench.workloads import fingerprint  # noqa: E402

TRIALS = 2  # timed trials per level, after one warm-up trial
TIMEOUT_S = 3600  # per level
WALK_LEN = 4


@dataclass(frozen=True)
class Family:
    unit: str  # what --size counts
    size: int  # default --size: local[1] runs a level in a few minutes
    build: Callable[[SparkSession, int], tuple]
    run: Callable[[tuple], DataFrame]
    project: Callable[[DataFrame], DataFrame]
    check: Callable[[DataFrame, int], bool] | None = None


def _materialize(spark: SparkSession, *dfs: DataFrame) -> tuple:
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = tuple(df.repartition(n).persist() for df in dfs)
    for df in out:
        df.count()
    return out


# -- kg: the pipeline on the calibrated compute stand-in -------------------

def _kg_build(spark: SparkSession, size: int) -> tuple:
    # stub_compute_iters: ~0.9 us/iter of model-compute stand-in, so the
    # parallel fraction is that of a generative-NER workload
    cfg = SynthConfig(n_docs=size, stub_compute_iters=2000)
    entities = corpus.entities_df(spark, cfg)
    # the canonical map depends only on the entity catalog: a dimension
    # job computed once per catalog version, outside the clock
    examples, canon = _materialize(
        spark, corpus.synth_examples_with_golds(spark, cfg),
        canonical_map(entities))
    return examples, canon, corpus.alias_df(spark, cfg), entities, cfg


def _kg_run(inp: tuple) -> DataFrame:
    examples, canon, alias, entities, cfg = inp
    return run_pipeline(examples.sparkSession, None, None, alias, entities,
                        cfg, examples_with_golds=examples,
                        canonical_df=canon).triples


# -- fuzzy: near_dedup_documents over planted clusters ---------------------

N_REP = 4


def _fuzzy_build(spark: SparkSession, size: int) -> tuple:
    # n_base clusters x N_REP replicas that share 40 md5-derived tokens
    # and differ in one tail token (5-gram Jaccard ~0.947); clusters share
    # no tokens, so the survivors are exactly {0..n_base-1}
    n_base = size // N_REP
    tokens = F.expr(
        "transform(sequence(0, 39), i -> substring(md5(concat("
        f"cast(id % {n_base} as string), '-', cast(i as string))), 1, 8))")
    tail = F.concat(F.lit("tail"),
                    (F.col("id") / n_base).cast("int").cast("string"))
    return _materialize(spark, spark.range(size).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.concat_ws(" ", tokens), tail).alias("text")))


def _fuzzy_run(inp: tuple) -> DataFrame:
    return dedup.near_dedup_documents(inp[0], scheme="oph")


def _fuzzy_check(out: DataFrame, size: int) -> bool:
    n_base = size // N_REP
    n, s = out.agg(F.count(F.lit(1)), F.sum("doc_id")).first()
    return n == n_base and s == n_base * (n_base - 1) // 2


# -- graph, walks: a cubed-uniform (hub-skewed) undirected edge list -------

def _edges(spark: SparkSession, size: int) -> tuple:
    # endpoint a uniform over n nodes, b = floor(n * u^3) so low ids become
    # hubs; self-loops dropped, canonical src < dst, distinct
    n = max(size // 5, 2)
    u = F.pmod(F.xxhash64("id", F.lit("b")), F.lit(1 << 31)) / float(1 << 31)
    raw = spark.range(size).select(
        F.pmod(F.xxhash64("id", F.lit("a")), F.lit(n)).alias("x"),
        F.floor(F.lit(float(n)) * F.pow(u, 3.0)).cast("long").alias("y"),
    ).where(F.col("x") != F.col("y"))
    return _materialize(spark, raw.select(
        F.least("x", "y").alias("src"),
        F.greatest("x", "y").alias("dst")).distinct())


def _pagerank(inp: tuple) -> DataFrame:
    # round_to=None: per-node rounding would put ~1e-4 of error on the
    # mass sum; the projection rounds instead
    return graph.pagerank(inp[0], n_iter=5, round_to=None)


def _pagerank_check(out: DataFrame, size: int) -> bool:
    return abs(out.agg(F.sum("pr")).first()[0] - 1.0) < 1e-9


def _walks(inp: tuple) -> DataFrame:
    return graph.random_walks(inp[0], walk_len=WALK_LEN)


def _walks_check(out: DataFrame, size: int) -> bool:
    # every node of an undirected edge list has a neighbour, so no walk
    # stops early: each step has as many rows as step 0
    per_step = out.groupBy("step").count().collect()
    return (len(per_step) == WALK_LEN + 1
            and len({r["count"] for r in per_step}) == 1)


# -- lines: remove_boilerplate_lines, one surviving line per doc -----------

def _lines_build(spark: SparkSession, size: int) -> tuple:
    # 4 lines a doc: a banner in every doc, a line shared by ~1000 docs, a
    # unique 40-token line and its repeat; only the unique line survives
    uniq = F.concat_ws(" ", F.expr(
        "transform(sequence(0, 39), i -> substring(md5(concat("
        "cast(id as string), ':', cast(i as string))), 1, 8))"))
    group = F.concat(F.lit("group boilerplate notice "),
                     (F.col("id") % max(size // 1000, 1)).cast("string"))
    return _materialize(spark, spark.range(size).select(
        F.col("id").alias("doc_id"),
        F.concat_ws("\n", F.lit("subscribe to the global banner"), group,
                    uniq, uniq).alias("text")))


def _lines_run(inp: tuple) -> DataFrame:
    return dedup.remove_boilerplate_lines(inp[0], min_docs=10)


def _lines_check(out: DataFrame, size: int) -> bool:
    n, multi = out.agg(F.count(F.lit(1)), F.count(
        F.when(F.col("text").contains("\n"), 1))).first()
    return n == size and multi == 0


# -- temporal: sessionize + merge_changelog --------------------------------

def _temporal_build(spark: SparkSession, size: int) -> tuple:
    # events: 100 per user, event k at k*600 s plus 4000 s before every
    # 7th, so each user has several 1800 s-gap sessions. changelog: size
    # changes over size/5 snapshot keys, ~1/10 of them deletes
    n_users, n_keys = max(size // 100, 1), max(size // 5, 1)
    k = (F.col("id") / n_users).cast("long")
    events = spark.range(size).select(
        (F.col("id") % n_users).alias("user_id"),
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + k * 600
                            + F.floor(k / 7) * 4000).alias("ts"),
        (F.col("id") % 997).cast("double").alias("value"))
    snapshot = spark.range(n_keys).select(
        F.col("id").alias("k"),
        F.concat(F.lit("base:"), F.col("id").cast("string")).alias("val"))
    changes = spark.range(size).select(
        F.pmod(F.xxhash64("id"), F.lit(n_keys)).alias("k"),
        F.concat(F.lit("chg:"), F.col("id").cast("string")).alias("val"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") % 86_400)
        .alias("ts"),
        F.when(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(10)) == 0,
               F.lit("delete")).otherwise(F.lit("upsert")).alias("op"),
        F.col("id").alias("seq"))
    return _materialize(spark, events, snapshot, changes)


def _temporal_run(inp: tuple) -> DataFrame:
    events, snapshot, changes = inp
    sessions = temporal.sessionize(
        events, key_col="user_id", ts_col="ts", gap_seconds=1800,
        seq_col="event_id", value_aggs={"v_sum": ("value", "sum")})
    merged = temporal.merge_changelog(snapshot, changes, key_cols="k",
                                      ts_col="ts", op_col="op", seq_col="seq")
    # one frame of (operator, row hash) carries both outputs
    return sessions.select(F.lit("sessionize").alias("op"), F.xxhash64(
        *sessions.columns).alias("row")).unionByName(merged.select(
            F.lit("merge_changelog").alias("op"),
            F.xxhash64(*merged.columns).alias("row")))


FAMILIES = {
    "kg": Family("docs", 20_000, _kg_build, _kg_run, lambda out: out.select(
        "subj_id", "pred", "obj_id", "doc_id", "span_offset")),
    "fuzzy": Family("docs", 20_000, _fuzzy_build, _fuzzy_run,
                    lambda out: out.select("doc_id"), _fuzzy_check),
    "graph": Family("edges", 2_000_000, _edges, _pagerank, lambda out: out.select(
        "node", "degree", F.round("pr", 4).alias("pr")), _pagerank_check),
    "walks": Family("edges", 5_000_000, _edges, _walks, lambda out: out.select(
        "walk_id", "step", "node"), _walks_check),
    "lines": Family("docs", 500_000, _lines_build, _lines_run,
                    lambda out: out.select("doc_id", "text"), _lines_check),
    "temporal": Family("events", 5_000_000, _temporal_build, _temporal_run,
                       lambda out: out),
}


def trial(fam: Family, inp: tuple, size: int) -> tuple[float, str]:
    """One timed run -> (wall seconds, fingerprint); raises when the
    family's analytic check fails."""
    t0 = time.perf_counter()
    out = fam.run(inp).persist()
    try:
        view = fam.project(out)
        fp = fingerprint(view, view.columns)
        wall = time.perf_counter() - t0
        ok = fam.check is None or fam.check(out, size)
    finally:
        out.unpersist()
    if not ok:
        raise RuntimeError(f"analytic check failed (fingerprint {fp})")
    return wall, fp


def measure(family: str, size: int, cores: int) -> dict:
    """One level in this process: a fresh session at local[cores]."""
    fam = FAMILIES[family]
    spark = build_session(
        app_name=f"scale-{family}-{cores}", master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={"spark.driver.memory": f"{2 * cores}g"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        inp = fam.build(spark, size)
        runs = [trial(fam, inp, size) for _ in range(1 + TRIALS)]
    finally:
        spark.stop()
    walls = [round(w, 2) for w, _ in runs[1:]]
    return {"cores": cores, "wall_s": min(walls), "trial_walls_s": walls,
            "rate": round(size / min(walls), 1),
            "fingerprints": sorted({fp for _, fp in runs})}


def _level(family: str, size: int, cores: int) -> dict:
    with multiprocessing.get_context("spawn").Pool(1) as pool:
        return pool.apply_async(measure, (family, size, cores)).get(TIMEOUT_S)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--family", required=True, choices=sorted(FAMILIES))
    ap.add_argument("--size", type=int, help="input size in the family's "
                    "unit (default: the size of the committed evidence)")
    args = ap.parse_args()
    fam = FAMILIES[args.family]
    size = args.size or fam.size
    os.chdir(REPO)  # Python workers import the package from the cwd
    nproc = len(os.sched_getaffinity(0))
    lo_cores = max(1, nproc // 4)
    load0, (steal0, total0) = os.getloadavg()[0], _cpu_jiffies()
    lo = _level(args.family, size, lo_cores)
    hi = _level(args.family, size, 4 * lo_cores)
    steal1, total1 = _cpu_jiffies()
    speedup = lo["wall_s"] / hi["wall_s"]
    summary = {
        "family": args.family, "size": size, "unit": fam.unit,
        "trials": TRIALS, "lo": lo, "hi": hi,
        "speedup": round(speedup, 3),
        "efficiency": round(speedup / (hi["cores"] / lo["cores"]), 3),
        "trials_agree": len(lo["fingerprints"]) == len(hi["fingerprints"]) == 1,
        "levels_agree": lo["fingerprints"] == hi["fingerprints"],
        "nproc": nproc,
        "load_1min": [round(load0, 2), round(os.getloadavg()[0], 2)],
        "cpu_steal": round((steal1 - steal0) / max(total1 - total0, 1), 4),
        "date": time.strftime("%Y-%m-%d"),
    }
    with open(os.path.join(REPO, "BENCH",
                           f"SCALING_{args.family.upper()}.md"), "w") as f:
        f.write(_markdown(summary))
    print(json.dumps(summary))
    if not (summary["trials_agree"] and summary["levels_agree"]):
        raise SystemExit("fingerprints disagree")


def _markdown(s: dict) -> str:
    rows = "".join(
        f"| local[{r['cores']}] | {r['wall_s']} | {r['rate']:,} | "
        f"{', '.join(map(str, r['trial_walls_s']))} | "
        f"`{', '.join(r['fingerprints'])}` |\n" for r in (s["lo"], s["hi"]))
    return (
        f"# Scaling evidence: `{s['family']}`\n\n"
        f"Written by `python bench_scaling.py --family {s['family']} "
        f"--size {s['size']}` on {s['date']}. See BENCH/SCALING.md for what "
        "each family runs and for the measurement history.\n\n"
        f"{s['size']:,} {s['unit']}; one warm-up and {s['trials']} timed "
        "trials per level, each level in a fresh JVM with 2g of heap and "
        "two shuffle partitions per core.\n"
        f"Host: nproc {s['nproc']}, 1-min load {s['load_1min'][0]} before "
        f"and {s['load_1min'][1]} after, cpu_steal {s['cpu_steal']}.\n\n"
        f"| level | best wall (s) | {s['unit']}/s | timed trials (s) "
        "| fingerprints (count:bit_xor:sum) |\n|---|---|---|---|---|\n"
        f"{rows}\n"
        f"Speedup **{s['speedup']}x**, efficiency **{s['efficiency']}** "
        "(north-rule target 0.8; reported, not gated, on a shared host).\n\n"
        f"All trials within each level agree: **{s['trials_agree']}**. "
        f"The two levels agree: **{s['levels_agree']}**.\n")


if __name__ == "__main__":
    main()
