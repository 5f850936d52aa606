"""Spark NER stage parity: the distributed mapInPandas kernel must agree
exactly with the local single-process port (which is itself the faithful
re-derivation of the reference inference chain, SURVEY.md §3.2)."""

import pytest

from golden_horse_spark.model.evaluation import bio_spans, span_eval
from golden_horse_spark.model.segment import REF_DATA
from golden_horse_spark.model.weights import NerWeights
from golden_horse_spark.operators.ner import classify_batch, extract_mentions
from golden_horse_spark.sources.conll import read_conll

DEV = REF_DATA / "weiboNER.conll.dev"
needs_dev = pytest.mark.skipif(
    not DEV.exists(), reason=f"needs the reference corpus file {DEV}"
)


@pytest.fixture(scope="module")
def model(weights_path):
    return NerWeights.load(weights_path)


@pytest.fixture(scope="module")
def dev_corpus():
    return read_conll(DEV)


@needs_dev
def test_classify_batch_matches_single(model, dev_corpus):
    texts = ["".join(chars) for chars, _ in dev_corpus[:80]]
    batched = classify_batch(model, texts)
    for text, labs in zip(texts, batched):
        assert labs == model.classify(list(text))


@needs_dev
def test_fixture_quality_on_dev(model, dev_corpus):
    """Sanity floor: frozen fixture achieves a non-trivial span F1 on dev
    (best published CRF-style baseline ≈ 0.42-0.57 F1; we require ≥ 0.40)."""
    pred = [model.classify(chars) for chars, _ in dev_corpus]
    res = span_eval(pred, [labels for _, labels in dev_corpus])
    assert res["f1"] >= 0.40, res


@needs_dev
@pytest.mark.spark
def test_global_dedup_variant_identical(spark, weights_path, dev_corpus):
    """extract_mentions_global_dedup (compute once per distinct sentence,
    join back) must produce EXACTLY the per-row results."""
    from golden_horse_spark.operators.ner import (
        extract_mentions,
        extract_mentions_global_dedup,
    )
    from golden_horse_spark.operators.sentence_seg import documents_to_sentences
    from golden_horse_spark.sources.documents import synthesize_documents

    docs = synthesize_documents(spark, 100, seed=21, partitions=5)
    sentences = documents_to_sentences(docs)
    base = {tuple(r) for r in extract_mentions(sentences, weights_path).collect()}
    dedup = {
        tuple(r)
        for r in extract_mentions_global_dedup(sentences, weights_path).collect()
    }
    assert dedup == base and len(base) > 0


@pytest.mark.spark
def test_global_dedup_equals_per_row_and_spreads_kernel(
    spark, weights_path, tmp_path
):
    """Corpus-free: on synthetic document sentences the dedup variant
    equals ``extract_mentions`` row for row (as a multiset), and its
    kernel stage runs ``spark.sql.shuffle.partitions`` tasks — AQE must
    not coalesce the few hundred KB of distinct text into one task."""
    from collections import Counter

    from golden_horse_spark.operators.ner import extract_mentions_global_dedup
    from golden_horse_spark.operators.sentence_seg import documents_to_sentences
    from golden_horse_spark.sources.documents import synthesize_documents

    # stored first, as the pipeline's sentences stage is, so the only
    # MapInPandas in the measured jobs is the NER kernel
    documents_to_sentences(
        synthesize_documents(spark, 100, seed=21, partitions=5)
    ).write.parquet(str(tmp_path / "sentences"))
    sentences = spark.read.parquet(str(tmp_path / "sentences"))
    base = Counter(
        tuple(r) for r in extract_mentions(sentences, weights_path).collect()
    )

    sc = spark.sparkContext
    group = "ner-global-dedup-kernel"
    sc.setJobGroup(group, group, False)
    try:
        dedup = Counter(
            tuple(r)
            for r in extract_mentions_global_dedup(
                sentences, weights_path
            ).collect()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert dedup == base and len(base) > 0

    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    kernel_tasks = []
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(sid)
            ran = info is not None and info.numCompletedTasks > 0
            if ran and "MapInPandas" in dot(store.operationGraphForStage(sid)):
                kernel_tasks.append(info.numTasks)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert kernel_tasks == [n]


@needs_dev
@pytest.mark.spark
def test_spark_mentions_match_local_port(spark, weights_path, model, dev_corpus):
    """End-to-end agreement metric (BASELINE.md target P/R ≥ 0.95): the
    Spark pipeline must reproduce the local port's spans EXACTLY (=1.0),
    at any partitioning."""
    from golden_horse_spark.operators.sentence_seg import documents_to_sentences
    from golden_horse_spark.sources.documents import documents_from_sentences

    subset = dev_corpus[:150]
    texts = ["".join(chars) for chars, _ in subset]
    docs = documents_from_sentences(spark, texts, sentences_per_doc=3, media_every=2)
    sentences = documents_to_sentences(docs).repartition(7)

    got = extract_mentions(sentences, weights_path)
    spark_spans = set()
    sent_rows = {r["text"] for r in sentences.collect()}
    for r in got.collect():
        spark_spans.add((r["doc_id"], r["span_idx"], r["sent_idx"], r["start"],
                         r["end"], r["surface"], r["etype"], r["ntype"]))

    # local oracle over the SAME segmented sentences
    local_spans = set()
    for r in sentences.collect():
        labs = model.classify(list(r["text"]))
        for s, e, etype, ntype in bio_spans(labs):
            local_spans.add((r["doc_id"], r["span_idx"], r["sent_idx"], s, e,
                             r["text"][s:e], etype, ntype))
    assert sent_rows  # non-degenerate
    assert spark_spans == local_spans
    assert len(spark_spans) > 0
