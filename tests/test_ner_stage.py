"""Spark NER stage parity: the distributed mapInPandas kernel must agree
exactly with the local single-process port (which is itself the faithful
re-derivation of the reference inference chain, SURVEY.md §3.2)."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

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


def _driver_mentions(model, sentences):
    """The reference: ``NerWeights.classify`` + ``bio_spans`` over every
    collected sentence row, as a multiset of mention rows."""
    out = Counter()
    for r in sentences.collect():
        for s, e, etype, ntype in bio_spans(model.classify(list(r["text"]))):
            out[(r["doc_id"], r["span_idx"], r["sent_idx"], s, e,
                 r["text"][s:e], etype, ntype)] += 1
    return out


def _synthetic_sentences(spark, path):
    """Sentences of 100 synthetic docs, stored first as the pipeline's
    sentences stage is, so the only MapInPandas in a job over them is the
    NER kernel. The docs draw from a small pool, so texts repeat."""
    from golden_horse_spark.operators.sentence_seg import documents_to_sentences
    from golden_horse_spark.sources.documents import synthesize_documents

    documents_to_sentences(
        synthesize_documents(spark, 100, seed=21, partitions=5)
    ).write.parquet(str(path))
    return spark.read.parquet(str(path))


@pytest.mark.spark
def test_global_dedup_equals_per_row_and_spreads_kernel(
    spark, weights_path, model, tmp_path
):
    """Corpus-free: on synthetic document sentences, whose texts repeat,
    ``extract_mentions`` equals a per-row driver-side classify row for
    row (as a multiset), and its kernel stage runs
    ``spark.sql.shuffle.partitions`` tasks — AQE must not coalesce the
    few hundred KB of distinct text into one task."""
    sentences = _synthetic_sentences(spark, tmp_path / "sentences")
    texts = [r["text"] for r in sentences.select("text").collect()]
    assert len(set(texts)) < len(texts)  # the fan-out join has work to do

    sc = spark.sparkContext
    group = "ner-global-dedup-kernel"
    sc.setJobGroup(group, group, False)
    try:
        got = Counter(
            tuple(r) for r in extract_mentions(sentences, weights_path).collect()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ref = _driver_mentions(model, sentences)
    assert got == ref and len(ref) > 0

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


@pytest.mark.spark
def test_mentions_exact_under_hash_collisions(
    spark, weights_path, model, tmp_path, monkeypatch
):
    """The fan-out join is keyed on the text itself: with every 64-bit
    text hash forced to one value, each sentence still gets the spans of
    its own text, not those of another text with the same hash."""
    sentences = _synthetic_sentences(spark, tmp_path / "sentences")
    monkeypatch.setattr(F, "xxhash64", lambda *cols: F.lit(0).cast("bigint"))
    got = Counter(
        tuple(r) for r in extract_mentions(sentences, weights_path).collect()
    )
    ref = _driver_mentions(model, sentences)
    assert got == ref and len(ref) > 0


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
