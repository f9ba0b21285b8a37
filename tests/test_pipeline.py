"""End-to-end gate: Spark pipeline vs the straight-line reference-loop oracle.

BASELINE.json: P >= 0.95 AND R >= 0.95 of emitted triples vs reference
semantics; per-row span-sequence invariant (kind, text, media_ref, order);
checkpoint resume.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from generative_ner_spark.functions.textops import calculate_metrics
from generative_ner_spark.operators import detect, evaluate, linking, sink
from generative_ner_spark.plans.pipeline import run_pipeline
from generative_ner_spark.sources import corpus
from generative_ner_spark.sources.synth import SynthConfig
from tests import reference_loop

CFG = SynthConfig(n_docs=120)


@pytest.fixture(scope="module")
def pipeline_result(spark):
    docs, golds = corpus.synth_documents(spark, CFG, num_partitions=4)
    res = run_pipeline(
        spark, docs, golds,
        corpus.alias_df(spark, CFG), corpus.entities_df(spark, CFG), CFG,
    )
    return docs, golds, res


def test_mentions_match_reference_loop_exactly(spark, pipeline_result):
    """Mention stage shares deterministic generation with the oracle, so the
    span sets must be IDENTICAL (P=R=1.0), not merely >= 0.95 — any gap is a
    plumbing bug (explode/join/batching), exactly what this pins."""
    _, _, res = pipeline_result
    got = {
        (r.doc_id, r.span_offset, r.start, r.end, r.label)
        for r in res.mentions.collect()
    }
    want = {
        (m["doc_id"], m["span_offset"], m["start"], m["end"], m["label"])
        for m in reference_loop.oracle_mentions(CFG)
    }
    assert got == want


def test_triples_pr_gate(spark, pipeline_result):
    """North rule: P >= 0.95 and R >= 0.95 vs the exact oracle. The only
    permitted divergence is MinHash-LSH blocking recall in canonicalization."""
    _, _, res = pipeline_result
    got = {
        (r.subj_id, r.pred, r.obj_id, r.doc_id, r.span_offset)
        for r in res.triples.select(
            "subj_id", "pred", "obj_id", "doc_id", "span_offset"
        ).collect()
    }
    want = reference_loop.oracle_triples(CFG)
    n_correct = len(got & want)
    precision, recall, f1 = calculate_metrics(n_correct, len(got), len(want))
    assert precision >= 0.95, f"precision {precision:.4f} < 0.95 ({len(got)} vs {len(want)})"
    assert recall >= 0.95, f"recall {recall:.4f} < 0.95 ({len(got)} vs {len(want)})"


def test_span_sequence_invariant(spark, pipeline_result):
    """Output documents carry the input span sequence byte-identically:
    (kind, text, media_ref) in offset order, per doc."""
    docs, _, res = pipeline_result
    out = sink.attach_predictions(docs, res.mentions)

    def canon(df):
        return {
            r.doc_id: r.seq
            for r in df.select(
                "doc_id",
                F.transform(
                    F.array_sort(
                        F.col("spans"),
                    ),
                    lambda s: F.struct(s.kind, s.text, s.media_ref, s.offset),
                ).alias("seq"),
            ).collect()
        }

    before = canon(docs)
    after = canon(out.select("doc_id", "spans"))
    assert before == after
    # and every doc survived (media-only docs included)
    assert out.count() == docs.count()


def test_media_spans_carried_not_processed(spark, pipeline_result):
    docs, _, res = pipeline_result
    n_media_docs = docs.where(
        F.exists("spans", lambda s: s.kind != "text")
    ).count()
    assert n_media_docs > 0, "corpus must contain interleaved media spans"
    # no mention ever points at a media span (text spans only)
    text_offsets = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).where("s.kind = 'text'").select(
        "doc_id", F.col("s.offset").alias("span_offset")
    )
    orphans = res.mentions.join(
        text_offsets, ["doc_id", "span_offset"], "left_anti"
    )
    assert orphans.count() == 0


def test_session_has_no_console_progress_bar(spark):
    """build_session turns Spark's console progress bar off: its
    [Stage N:>] redraws would bury every log line of a script run."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"


def test_spark_eval_operator_matches_reference_math(spark, pipeline_result):
    docs, golds, res = pipeline_result
    frame = evaluate.mention_eval_frame(res.mentions, golds)
    m = evaluate.evaluate_predictions(frame)
    # stub noise drops ~3% of golds, adds KeyError-path labels: recall < 1
    assert 0.8 < m["precision"] <= 1.0
    assert 0.8 < m["recall"] <= 1.0
    # cross-check against pure-python eval on collected rows
    rows = frame.collect()
    from tests.reference_loop import evaluate_span_sets

    pure = evaluate_span_sets(
        (
            [(g.start, g.end, g.label) for g in r.golds],
            [(p.start, p.end, p.label) for p in r.preds],
        )
        for r in rows
    )
    assert abs(pure["precision"] - m["precision"]) < 1e-12
    assert abs(pure["recall"] - m["recall"]) < 1e-12


def test_checkpoint_resume(spark, tmp_path):
    cfg = SynthConfig(n_docs=30)
    docs, golds = corpus.synth_documents(spark, cfg, num_partitions=2)
    adf, edf = corpus.alias_df(spark, cfg), corpus.entities_df(spark, cfg)
    ckpt = str(tmp_path / "ckpt")
    r1 = run_pipeline(spark, docs, golds, adf, edf, cfg, checkpoint_dir=ckpt)
    t1 = {tuple(r) for r in r1.triples.select(
        "subj_id", "pred", "obj_id", "doc_id", "span_offset").collect()}
    n_gen = spark.read.parquet(os.path.join(ckpt, "generations")).count()
    r2 = run_pipeline(spark, docs, golds, adf, edf, cfg, checkpoint_dir=ckpt)
    t2 = {tuple(r) for r in r2.triples.select(
        "subj_id", "pred", "obj_id", "doc_id", "span_offset").collect()}
    assert t1 == t2
    assert spark.read.parquet(os.path.join(ckpt, "generations")).count() == n_gen


def test_resume_invalidates_on_prompt_format_change(spark, tmp_path):
    """The checkpoint is keyed on prompt_hash (reference cache semantics,
    src/gpt/utils.py:64-101): changing the prompt format MUST miss the cache
    and regenerate — an example_id-keyed cache would silently serve stale
    generations."""
    cfg = SynthConfig(n_docs=20)
    docs, golds = corpus.synth_documents(spark, cfg, num_partitions=2)
    adf, edf = corpus.alias_df(spark, cfg), corpus.entities_df(spark, cfg)
    ckpt = str(tmp_path / "ckpt")
    gen_path = os.path.join(ckpt, "generations")
    r1 = run_pipeline(spark, docs, golds, adf, edf, cfg, checkpoint_dir=ckpt,
                      prompt_format="collective")
    r1.triples.count()
    n1 = spark.read.parquet(gen_path).count()
    # same format resumes with zero new generations
    run_pipeline(spark, docs, golds, adf, edf, cfg, checkpoint_dir=ckpt,
                 prompt_format="collective").triples.count()
    assert spark.read.parquet(gen_path).count() == n1
    # different format invalidates: every prompt regenerates
    r3 = run_pipeline(spark, docs, golds, adf, edf, cfg, checkpoint_dir=ckpt,
                      prompt_format="universal")
    t3 = {tuple(r) for r in r3.triples.select(
        "subj_id", "pred", "obj_id", "doc_id", "span_offset").collect()}
    assert spark.read.parquet(gen_path).count() == 2 * n1
    # ...and so does a language change (ja prompts, same mention semantics)
    r4 = run_pipeline(spark, docs, golds, adf, edf, cfg, checkpoint_dir=ckpt,
                      prompt_format="universal", language="ja")
    t4 = {tuple(r) for r in r4.triples.select(
        "subj_id", "pred", "obj_id", "doc_id", "span_offset").collect()}
    assert spark.read.parquet(gen_path).count() == 3 * n1
    # generation output is format/language-blind: identical triples
    t1 = {tuple(r) for r in r1.triples.select(
        "subj_id", "pred", "obj_id", "doc_id", "span_offset").collect()}
    assert t1 == t3 == t4


def test_resume_shrunken_input_serves_only_current_examples(spark, tmp_path):
    """Resuming with a subset of the input must emit mentions ONLY for the
    current examples — the checkpoint is a response cache, not an output."""
    cfg = SynthConfig(n_docs=24)
    docs, golds = corpus.synth_documents(spark, cfg, num_partitions=2)
    adf, edf = corpus.alias_df(spark, cfg), corpus.entities_df(spark, cfg)
    ckpt = str(tmp_path / "ckpt")
    run_pipeline(spark, docs, golds, adf, edf, cfg,
                 checkpoint_dir=ckpt).triples.count()
    kept = docs.where(F.col("doc_id").substr(-1, 1).isin("0", "2", "4"))
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 0 < len(kept_ids) < 24
    r2 = run_pipeline(spark, kept, golds, adf, edf, cfg, checkpoint_dir=ckpt)
    got_docs = {r.doc_id for r in r2.mentions.select("doc_id").distinct().collect()}
    assert got_docs <= kept_ids, f"stale docs served: {got_docs - kept_ids}"


def test_salted_link_equals_broadcast_link(spark, pipeline_result):
    """The shuffle+salt fallback join must be semantically identical to the
    broadcast path (same top-1 rule)."""
    _, _, res = pipeline_result
    adf = corpus.alias_df(spark, CFG)
    a = linking.link_mentions(res.mentions, adf, dict_broadcast=True)
    b = linking.link_mentions(res.mentions, adf, dict_broadcast=False)
    key = ["doc_id", "span_offset", "start", "end", "entity_id"]
    assert {tuple(r) for r in a.select(*key).collect()} == {
        tuple(r) for r in b.select(*key).collect()
    }


def test_resume_recovers_from_crashed_first_checkpoint_write(spark, tmp_path):
    """A crash during the FIRST checkpoint write leaves the generations
    dir without _SUCCESS (e.g. only _temporary/): the next run must
    detect the uncommitted state and regenerate (mode overwrite) instead
    of failing forever on an unreadable parquet dir — crash recovery is
    the whole point of the checkpoint."""
    cfg = SynthConfig(n_docs=12)
    docs, golds = corpus.synth_documents(spark, cfg, num_partitions=2)
    adf, edf = corpus.alias_df(spark, cfg), corpus.entities_df(spark, cfg)
    ckpt = str(tmp_path / "ckpt")
    gen = os.path.join(ckpt, "generations")
    os.makedirs(os.path.join(gen, "_temporary"))  # simulated crashed write
    r = run_pipeline(spark, docs, golds, adf, edf, cfg, checkpoint_dir=ckpt)
    assert r.triples.count() > 0
    assert os.path.exists(os.path.join(gen, "_SUCCESS"))  # now committed
    # and the committed checkpoint resumes cleanly
    n_gen = spark.read.parquet(gen).count()
    run_pipeline(spark, docs, golds, adf, edf, cfg, checkpoint_dir=ckpt)
    assert spark.read.parquet(gen).count() == n_gen


def test_ground_skips_null_generations(spark):
    """A failed-generation row (null generated_text — what an OpenAI batch
    error line reads back as) is SKIPPED by detect.ground, same contract
    as ground_individual, instead of raising inside the Arrow pass and
    killing the job."""
    from generative_ner_spark.operators import detect

    df = spark.createDataFrame(
        [("e1", "d1", 0, "Alice went home", '[("Alice", "person")]'),
         ("e2", "d2", 0, "Bob stayed", None)],
        "example_id string, doc_id string, span_offset int, text string, "
        "generated_text string",
    )
    rows = detect.ground(df).collect()
    assert {r.example_id for r in rows} == {"e1"}


def test_evaluate_null_arrays_count_as_misses(spark):
    """A NULL preds/golds array counts as EMPTY (gold side becomes
    misses) instead of silently dropping the row from the denominators."""
    from generative_ner_spark.operators import evaluate

    df = spark.createDataFrame(
        [([(0, 5, "PER")], [(0, 5, "PER")]),
         ([(0, 3, "ORG")], None)],  # NULL preds: gold must count as a miss
        "golds array<struct<start:bigint,end:bigint,label:string>>, "
        "preds array<struct<start:bigint,end:bigint,label:string>>",
    )
    m = evaluate.evaluate_predictions(df)
    assert (m["n_gold"], m["n_pred"], m["n_correct"]) == (2, 1, 1)
    assert m["recall"] == 0.5 and m["precision"] == 1.0
