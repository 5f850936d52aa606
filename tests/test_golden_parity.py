"""Golden parity (BASELINE.md targets): the Spark pipeline must reproduce
the single-process reference-port's spans with P/R ≥ 0.95 (measured: 1.0)
on the weiboNER EMNLP-2015 splits wrapped in the interleaved `documents`
schema, scored with the exact `eval_ner` re-derivation.

The local port IS the reference semantics (featurizer golden-tested
token-for-token vs the reference's own dumps; decode recursion tested
against brute force) — running Python 2 + Theano is impossible here, so
agreement with the port is the strongest available proxy, and it is
exact (set equality), not just ≥0.95.
"""

import pytest
from pyspark.sql import functions as F

from golden_horse_spark.model.evaluation import bio_spans, span_eval
from golden_horse_spark.model.segment import REF_DATA
from golden_horse_spark.model.weights import NerWeights
from golden_horse_spark.sources.conll import read_conll, sanitize_for_arrow

pytestmark = pytest.mark.spark

SPLITS = {
    "dev": REF_DATA / "weiboNER.conll.dev",
    "test": REF_DATA / "weiboNER.conll.test",
}
TEST_2ND = REF_DATA / "weiboNER_2nd_conll.test"


def needs(path):
    return pytest.mark.skipif(
        not path.exists(), reason=f"needs the reference corpus file {path}"
    )


@pytest.fixture(scope="module")
def model(weights_path):
    return NerWeights.load(weights_path)


@pytest.mark.parametrize(
    "split", [pytest.param(s, marks=needs(p)) for s, p in SPLITS.items()]
)
def test_spark_vs_port_span_parity(spark, weights_path, model, split):
    from golden_horse_spark.operators.ner import extract_mentions, tag_sentences
    from golden_horse_spark.operators.sentence_seg import documents_to_sentences
    from golden_horse_spark.sources.documents import documents_from_sentences

    corpus = read_conll(SPLITS[split])
    # one sentence per document, Arrow-safe text (surrogate pairs re-paired)
    texts = [sanitize_for_arrow("".join(chars)) for chars, _ in corpus]
    docs = documents_from_sentences(spark, texts, sentences_per_doc=1)
    sentences = documents_to_sentences(docs).repartition(6)

    # Spark-side label sequences per segmented sentence
    import json

    spark_rows = tag_sentences(sentences, weights_path).collect()
    local_rows = sentences.collect()

    key = lambda r: (r["doc_id"], r["span_idx"], r["sent_idx"])
    spark_labels = {key(r): json.loads(r["labels_json"]) for r in spark_rows}
    pred_pairs = []
    for r in local_rows:
        local = model.classify(list(r["text"]))
        pred_pairs.append((spark_labels[key(r)], local))

    res = span_eval([p for p, _ in pred_pairs], [g for _, g in pred_pairs])
    assert res["p"] >= 0.95 and res["r"] >= 0.95, res
    assert res["p"] == 1.0 and res["r"] == 1.0  # exact agreement

    # mention rows agree with chunker over the same labels
    men = extract_mentions(sentences, weights_path)
    got = {
        (r["doc_id"], r["span_idx"], r["sent_idx"], r["start"], r["end"],
         r["etype"], r["ntype"])
        for r in men.collect()
    }
    want = set()
    for r in local_rows:
        for s, e, et, nt in bio_spans(spark_labels[key(r)]):
            want.add((r["doc_id"], r["span_idx"], r["sent_idx"], s, e, et, nt))
    assert got == want


@needs(SPLITS["dev"])
def test_gold_f1_floor_on_dev(model):
    """Span-F1 vs GOLD labels (quality floor, not parity): the fixture is
    a feature CRF + random-init fine-tuned embeddings; the paper's best
    uses pretrained embeddings we don't have. Floor set at 0.40 micro F1
    (best published comparable CRF baseline ≈ 0.42-0.57)."""
    corpus = read_conll(SPLITS["dev"])
    pred = [model.classify(chars) for chars, _ in corpus]
    res = span_eval(pred, [labels for _, labels in corpus])
    assert res["f1"] >= 0.40, res


@needs(SPLITS["dev"])
def test_documents_media_interleave_preserved(spark, weights_path):
    """Span-sequence equality invariant on the golden corpus wrapped WITH
    media spans interleaved (input_hint)."""
    from golden_horse_spark.sources.documents import documents_from_sentences

    corpus = read_conll(SPLITS["dev"])[:60]
    texts = [sanitize_for_arrow("".join(chars)) for chars, _ in corpus]
    docs = documents_from_sentences(spark, texts, sentences_per_doc=4, media_every=2)
    collected = docs.collect()
    assert any(
        s["kind"] != "text" for r in collected for s in r["spans"]
    )
    rt = spark.createDataFrame(collected, docs.schema).collect()
    norm = lambda rows: {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in rows
    }
    assert norm(collected) == norm(rt)


@needs(TEST_2ND)
def test_2nd_revision_fixture_matches_published_f1():
    """fixtures/ner_weights_2nd.npz on the REVISED test split (the split
    the paper reports): overall micro-F1 must stay at/above the published
    EMNLP'15 best-model 0.5605 (golden_horse_supplement Table 1).
    Measured at training time: 0.5673 overall (named 0.5029 / nominal
    0.6316 vs published 0.5196 / 0.6105)."""
    from pathlib import Path

    from golden_horse_spark.model.evaluation import span_eval
    from golden_horse_spark.model.weights import NerWeights
    from golden_horse_spark.sources.conll import read_conll

    m = NerWeights.load(Path(__file__).resolve().parents[1] / "fixtures/ner_weights_2nd.npz")
    test = read_conll(TEST_2ND)
    r = span_eval([m.classify(c) for c, _ in test], [l for _, l in test])
    assert r["f1"] >= 0.56, r


@needs(TEST_2ND)
def test_joint_fixture_beats_emnlp15_published_f1():
    """fixtures/joint_weights.npz (R7 joint CWS+NER training,
    tools/train_joint_fixture.py) on the REVISED test split: overall
    micro-F1 must stay above the published EMNLP'15 best 0.5605 AND
    above the plain-CRF fixture's 0.5673. Measured at training time:
    0.5743 (P 0.7243 / R 0.4758; dev 0.6129; dropout 0.2, seed 3). The ACL'16 published joint
    number 0.5899 used a CWS training corpus and Weibo embeddings the
    reference does not ship."""
    from pathlib import Path

    from golden_horse_spark.model.evaluation import span_eval
    from golden_horse_spark.model.joint import JointWeights
    from golden_horse_spark.sources.conll import read_conll

    path = Path(__file__).resolve().parents[1] / "fixtures/joint_weights.npz"
    m = JointWeights.load(path)
    test = read_conll(TEST_2ND)
    r = span_eval([m.classify_ner(c) for c, _ in test], [l for _, l in test])
    assert r["f1"] >= 0.568, r
