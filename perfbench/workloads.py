"""The benchmark's three workloads.

Each workload drives only the entry points a user calls: ``run_pipeline``
(what ``jobs/kg_construct.py`` wraps), ``canonicalize.canonical_map`` and
``catalog_fingerprint``, and the ``operators.graph`` functions that
``jobs/graph_analytics.py`` calls. A workload has

* ``setup``   program-side state preparation, timed as part of setup_s;
* ``reset``   restores that state before each run, outside the clock;
* ``run``     one untraced run, the unit cold_s times;
* ``traced``  the same work with a span around each layer call, each
              layer's output forced before the next starts;
* ``check``   verifies the outputs of the last run and returns their
              order-independent fingerprint.

``traced`` forces a layer's output with ``Tracer.force`` (persist +
count); every other query it issues is one the untraced run issues too,
in the same order, which the benchmark checks on every traced run.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from generative_ner_spark.operators import (
    canonicalize, detect, graph, linking, triples)
from generative_ner_spark.plans import pipeline
from generative_ner_spark.plans.pipeline import run_pipeline
from generative_ner_spark.sources.synth import SynthConfig

import inputs

_TRIPLE_COLS = ["subj_id", "pred", "obj_id", "doc_id", "span_offset"]
MIN_PR = 0.95


class CheckFailed(Exception):
    pass


def fingerprint(df: DataFrame, cols: list[str]) -> str:
    """Row count, XOR and bounded sum of per-row xxhash64: independent of
    row order and partitioning."""
    h = F.xxhash64(*[F.col(c) for c in cols])
    r = df.agg(F.count(F.lit(1)), F.bit_xor(h),
               F.sum(F.pmod(h, F.lit(2**31 - 1)))).first()
    return f"{r[0]}:{r[1]}:{r[2]}"


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class _Kg:
    """State shared by the two kg workloads."""

    def __init__(self, data: str, work: str, seed: int):
        self.data, self.work = data, work
        self.meta = inputs.load_meta(data)
        self.cfg = SynthConfig(n_docs=self.meta["n_docs"], seed=seed)
        self.sink = os.path.join(work, "sink")

    def _read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.data, f"{name}.parquet"))

    def setup(self, spark: SparkSession) -> None:
        self.spark = spark
        self.docs, self.golds = self._read("docs"), self._read("golds")
        self.alias, self.entities = self._read("alias"), self._read("entities")

    def reset(self) -> None:
        # run_pipeline(collect_metrics=True) leaves its mentions cached;
        # a later run would read them instead of detecting again
        self.spark.catalog.clearCache()
        shutil.rmtree(self.sink, ignore_errors=True)

    def rows(self) -> int:
        return self.spark.read.parquet(self.sink).count()

    def _sink_fingerprint(self) -> str:
        return fingerprint(self.spark.read.parquet(self.sink), _TRIPLE_COLS)

    def _tail(self, tr, mentions: DataFrame, canon: DataFrame) -> DataFrame:
        """link -> canonical join -> triples -> sink -> metrics, issuing
        the queries ``pipeline._finish`` issues (only its two JSON files
        are left out), one span per layer. Returns the linked mentions."""
        with tr.span("linking"):
            linked, _ = tr.force(linking.link_mentions(
                mentions, self.alias, dict_broadcast=True))
        with tr.span("triples"):
            trip, _ = tr.force(triples.materialize_triples(
                linked.join(F.broadcast(canon), "entity_id", "left")
                .withColumn("canonical_id",
                            F.coalesce("canonical_id", "entity_id"))))
        with tr.span("pipeline.sink"):
            triples.write_triples(trip, self.sink)
            trip = self.spark.read.parquet(self.sink)
            trip.count()
        with tr.span("pipeline.metrics"):
            # _finish persists mentions only here, so its first partition
            # metrics job computes detect again; so must this one
            mentions.unpersist()
            mentions = mentions.persist()
            per_part = (pipeline._partition_metrics(mentions, "mentions")
                        + pipeline._partition_metrics(trip, "triples"))
            self.spark.createDataFrame(
                per_part, "stage string, partition_id int, rows long"
            ).write.mode("overwrite").parquet(
                os.path.join(self.sink, "_stage_metrics"))
        return linked

    def _tail_counts(self, linked: DataFrame, mentions: DataFrame) -> dict:
        return {
            "detect.mentions": mentions.count(),
            "linking.linked_ratio": linked.agg(
                F.avg(F.col("linked").cast("double"))).first()[0],
            "triples.rows": self.rows(),
            "pipeline.sink_bytes": dir_bytes(self.sink),
        }


class KgBuild(_Kg):
    """Fused path: canonical map computed in the run, explode ->
    attach_golds -> fused detect -> link -> canon -> triples ->
    partitionBy(pred) sink with collect_metrics."""

    name = "kg_build"
    _scored = False

    def run(self) -> None:
        run_pipeline(self.spark, self.docs, self.golds, self.alias,
                     self.entities, self.cfg, sink_path=self.sink,
                     collect_metrics=True)

    def traced(self, tr) -> dict:
        with tr.span("run"):
            with tr.span("canonicalize"):
                canon, _ = tr.force(canonicalize.canonical_map(self.entities))
            with tr.span("detect"):
                examples = detect.attach_golds(
                    detect.explode_text_spans(self.docs), self.golds)
                mentions, _ = tr.force(
                    detect.detect_mentions_fused(examples, self.cfg))
            linked = self._tail(tr, mentions, canon)
        n_examples = examples.count()
        return {
            **self._tail_counts(linked, mentions),
            "detect.examples": n_examples,
            "detect.generated": n_examples,
            "canonicalize.candidate_pairs":
                canonicalize.lsh_candidate_pairs(self.entities).count(),
            "canonicalize.merged":
                canon.where(F.col("entity_id") != F.col("canonical_id")).count(),
        }

    def check(self) -> str:
        """Triples meet P/R >= MIN_PR against the pure-Python oracle (once
        per process; later runs must reproduce the same fingerprint)."""
        if not self._scored:
            got = self.spark.read.parquet(self.sink).select(
                *_TRIPLE_COLS).distinct()
            hit = got.join(self._read("oracle_triples"), _TRIPLE_COLS,
                           "left_semi").count()
            p = hit / max(got.count(), 1)
            r = hit / self.meta["n_oracle_triples"]
            if p < MIN_PR or r < MIN_PR:
                raise CheckFailed(f"triples P={p:.4f} R={r:.4f} < {MIN_PR}")
            self._scored = True
        return self._sink_fingerprint()


class KgResume(_Kg):
    """Checkpoint path: RESUME_CACHED of the prompts are already in the
    generation checkpoint and the canonical map is read from a committed
    parquet, as ``kg_construct --checkpoint --canonical`` does once the
    map is committed."""

    name = "kg_resume"

    def __init__(self, data: str, work: str, seed: int):
        super().__init__(data, work, seed)
        self.ckpt = os.path.join(work, "ckpt")
        self.pristine = os.path.join(work, "ckpt-pristine")
        self.committed_fp = os.path.join(work, "canonical_fingerprint")
        self.reference_sink = os.path.join(work, "reference-sink")
        self._reference: str | None = None

    def setup(self, spark: SparkSession) -> None:
        super().setup(spark)
        # the committed canonical map is an input, made with the exact
        # oracle (kg_build times canonical_map); commit its catalog's
        # fingerprint, which every run checks as kg_construct does
        with open(self.committed_fp, "w") as f:
            f.write(canonicalize.catalog_fingerprint(self.entities))
        # an uninterrupted run from an empty checkpoint: its triples are
        # what every resumed run must emit, and its checkpoint cut down to
        # the cached prompts' examples is the pristine checkpoint, the one
        # a run over those examples alone writes
        ref_ckpt = os.path.join(self.work, "reference-ckpt")
        for d in (ref_ckpt, self.reference_sink, self.pristine):
            shutil.rmtree(d, ignore_errors=True)
        self.run(checkpoint=ref_ckpt, sink=self.reference_sink)
        spark.read.parquet(os.path.join(ref_ckpt, "generations")).join(
            F.broadcast(self._read("resume_cached_examples")), "example_id",
            "left_semi").write.parquet(os.path.join(self.pristine, "generations"))
        shutil.rmtree(ref_ckpt)
        self.pristine_bytes = dir_bytes(self.pristine)

    def reset(self) -> None:
        super().reset()
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.copytree(self.pristine, self.ckpt)

    def _canonical(self) -> DataFrame:
        with open(self.committed_fp) as f:
            committed_fp = f.read()
        if canonicalize.catalog_fingerprint(self.entities) != committed_fp:
            raise CheckFailed("entity catalog differs from the committed map")
        return self._read("canonical")

    def run(self, checkpoint: str | None = None, sink: str | None = None) -> None:
        run_pipeline(self.spark, self.docs, self.golds, self.alias,
                     self.entities, self.cfg,
                     checkpoint_dir=checkpoint or self.ckpt,
                     sink_path=sink or self.sink, collect_metrics=True,
                     canonical_df=self._canonical())

    def traced(self, tr) -> dict:
        gen_ckpt = os.path.join(self.ckpt, "generations")
        with tr.span("run"):
            canon = self._canonical()
            with tr.span("detect"):
                examples = detect.attach_golds(
                    detect.explode_text_spans(self.docs), self.golds)
                # run_pipeline persists and counts this frame itself
                hashed = detect.with_prompt_hash(examples).persist()
                n_examples = hashed.count()
                cached = self.spark.read.parquet(gen_ckpt).select(
                    "prompt_hash").distinct()
                fresh, n_generated = tr.force(detect.generate_stub(
                    hashed.join(cached, "prompt_hash", "left_anti"), self.cfg))
                with tr.span("pipeline.ckpt"):
                    fresh.write.mode("append").parquet(gen_ckpt)
                    # one response per distinct prompt, as run_pipeline
                    # serves them: the smallest example_id's generation
                    responses, _ = tr.force(
                        self.spark.read.parquet(gen_ckpt).groupBy("prompt_hash")
                        .agg(F.min(F.struct(
                            F.col("example_id").alias("eid"),
                            F.col("generated_text").alias("g"))
                        ).getField("g").alias("generated_text")))
                mentions, _ = tr.force(
                    detect.ground(hashed.join(responses, "prompt_hash")))
            linked = self._tail(tr, mentions, canon)
        prompts = hashed.select("prompt_hash").distinct()
        n_hit = prompts.join(self.spark.read.parquet(
            os.path.join(self.pristine, "generations")), "prompt_hash",
            "left_semi").count()
        return {
            **self._tail_counts(linked, mentions),
            "detect.examples": n_examples,
            "detect.generated": n_generated,
            "detect.ckpt_hit_ratio": n_hit / prompts.count(),
            "pipeline.ckpt_bytes": dir_bytes(self.ckpt) - self.pristine_bytes,
        }

    def check(self) -> str:
        """The resumed triples equal those of the uninterrupted run, exactly
        RESUME_CACHED of the distinct prompts were in the checkpoint, and
        only the examples of the other prompts were generated."""
        def rows_and_prompts(ckpt: str) -> tuple[int, int]:
            gens = self.spark.read.parquet(os.path.join(ckpt, "generations"))
            r = gens.agg(F.count(F.lit(1)),
                         F.countDistinct("prompt_hash")).first()
            return r[0], r[1]

        rows, n_prompts = rows_and_prompts(self.ckpt)
        pristine_rows, n_cached = rows_and_prompts(self.pristine)
        got = (n_prompts, n_cached, rows - pristine_rows)
        want = (self.meta["n_prompts"], self.meta["n_cached_prompts"],
                self.meta["n_generated"])
        if got != want or n_cached != n_prompts * inputs.RESUME_CACHED:
            raise CheckFailed(f"(prompts, cached prompts, generated) {got}, "
                              f"expected {want}")
        if self._reference is None:
            self._reference = fingerprint(
                self.spark.read.parquet(self.reference_sink), _TRIPLE_COLS)
            shutil.rmtree(self.reference_sink)
        fp = self._sink_fingerprint()
        if fp != self._reference:
            raise CheckFailed(f"resumed triples {fp} != uninterrupted "
                              f"{self._reference}")
        return fp


class GraphAnalytics:
    """Part co-occurrence graph: cooccurrence_edges, then pagerank,
    components, label_propagation, triangle_counts and khop_neighbors,
    each written to parquet as ``jobs/graph_analytics.py`` does."""

    name = "graph_analytics"
    OPS = ("pagerank", "components", "label_propagation", "triangle_counts",
           "khop_neighbors")
    _FP_COLS = {"pagerank": ["node", "degree", "pr"],
                "components": ["node", "component"],
                "label_propagation": ["node", "label"],
                "triangle_counts": ["node", "n_triangles"],
                "khop_neighbors": ["node", "hop"]}

    def __init__(self, data: str, work: str, seed: int):
        self.data = data
        self.meta = inputs.load_meta(data)
        self.out = os.path.join(work, "graph")
        self._verified = False

    def setup(self, spark: SparkSession) -> None:
        self.spark = spark
        self.baskets = spark.read.parquet(os.path.join(self.data, "baskets.parquet"))
        self.seeds = spark.read.parquet(os.path.join(self.data, "seeds.parquet"))

    def reset(self) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(self.out, ignore_errors=True)

    def _op(self, name: str, edges: DataFrame) -> DataFrame:
        if name == "pagerank":
            return graph.pagerank(edges)
        if name == "components":
            return graph.components(edges)
        if name == "label_propagation":
            return graph.label_propagation(edges)
        if name == "triangle_counts":
            return graph.triangle_counts(edges)
        return graph.khop_neighbors(edges, self.seeds, k=self.meta["khop_k"])

    def _edges(self) -> DataFrame:
        edges = graph.cooccurrence_edges(
            self.baskets, "orderkey", "partkey", max_basket=1024,
            metrics={}).persist()
        edges.count()
        return edges

    def run(self) -> None:
        edges = self._edges()
        for op in self.OPS:
            self._write(op, edges)
        edges.unpersist()

    def _write(self, op: str, edges: DataFrame) -> None:
        self._op(op, edges).write.mode("overwrite").parquet(
            os.path.join(self.out, op))

    def traced(self, tr) -> dict:
        with tr.span("run"):
            with tr.span("graph.cooccurrence_edges"):
                edges = self._edges()
            for op in self.OPS:
                with tr.span(f"graph.{op}"):
                    self._write(op, edges)
            edges.unpersist()
        return {}

    def rows(self) -> int:
        return sum(self._read(op).count() for op in self.OPS)

    def _read(self, op: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out, op))

    def check(self) -> str:
        """Semantic checks once per process; later runs must reproduce the
        same fingerprint."""
        if not self._verified:
            self._verify()
            self._verified = True
        return "|".join(fingerprint(self._read(op), self._FP_COLS[op])
                        for op in self.OPS)

    def _verify(self) -> None:
        n_nodes = self.meta["n_nodes"]
        pr = self._read("pagerank").agg(F.count(F.lit(1)), F.sum("pr")).first()
        # pagerank rounds each score to 6 decimals: allow that per node
        if pr[0] != n_nodes or abs(pr[1] - 1) > 1e-6 + n_nodes * 5e-7:
            raise CheckFailed(f"pagerank: {pr[0]} nodes, mass {pr[1]}")
        for op, col in (("components", "component"),
                        ("label_propagation", "label")):
            r = self._read(op).agg(F.count(F.lit(1)), F.countDistinct("node"),
                                   F.count(col)).first()
            if tuple(r) != (n_nodes,) * 3:
                raise CheckFailed(f"{op}: {tuple(r)} rows/nodes/labels, "
                                  f"expected {n_nodes} of each")
        tri = self._read("triangle_counts").agg(F.sum("n_triangles")).first()[0]
        if tri % 3 or tri != 3 * self.meta["n_triangles"]:
            raise CheckFailed(f"triangle sum {tri}, expected "
                              f"{3 * self.meta['n_triangles']}")
        with open(os.path.join(self.data, "oracle.json")) as f:
            oracle = json.load(f)
        for op in ("components", "khop_neighbors"):
            got = sorted(tuple(r) for r in self._read(op).select(
                *self._FP_COLS[op]).collect())
            if got != [tuple(x) for x in oracle[op]]:
                raise CheckFailed(f"{op} differs from the oracle")


WORKLOADS = {w.name: w for w in (KgBuild, KgResume, GraphAnalytics)}


def input_dir(name: str, cache: str, seed: int) -> str:
    if name == GraphAnalytics.name:
        return inputs.graph_inputs(cache, seed)
    return inputs.kg_inputs(cache, seed)
