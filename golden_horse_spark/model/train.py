"""Offline NumPy trainer for the log-bilinear CRF — produces the frozen
weights fixture the Spark pipeline broadcasts.

Objective and schedule follow the reference (crf_ner.py:46-90,191-233,
train_util.py:267-286): per-sentence SGD on ``-(gold score - logZ)``,
lr 0.05 default, sentences shorter than 2 tokens skipped, seeded shuffle
per epoch, best-on-dev checkpointing, lr halving after ``decay_epochs``
epochs without dev improvement, stop at ``minimum_lr``. Gradients here are
the exact forward-backward marginals (identical math to the reference's
Theano autodiff of the same loss). Training is NOT part of the scaling
criteria (SURVEY.md §7 Phase 2) — it runs once, offline, to create
``fixtures/ner_weights.npz``.
"""

from __future__ import annotations

import time
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from .crf import forward_backward, pad_features
from .dicts import build_dicts
from .evaluation import span_eval
from .features import encode_sentence
from .weights import NerWeights

Sentence = Tuple[Sequence[str], Sequence[str]]


def _encode_corpus(sentences, features2idx, words2idx, labels2idx, mode):
    enc = []
    for chars, labels in sentences:
        feat_ids, word_ids = encode_sentence(chars, features2idx, words2idx, mode)
        y = np.array([labels2idx[lb] for lb in labels], dtype=np.int32)
        enc.append((feat_ids, np.array(word_ids, dtype=np.int32), y))
    return enc


def sentence_grad(
    feat_ids, word_ids, y, w_feat, a, w_emb, lin_n, lin_b, use_emb: bool
):
    """Exact gradient of -(gold score - logZ) for ONE sentence.

    Returns (loss, fp, d_em, d_a) where ``fp`` is the (T, Fmax) padded
    feature-id matrix — the caller scatter-adds ``d_em`` rows at ``fp``
    into the w_feat gradient — plus the dense transition gradient.
    """
    n_feat = w_feat.shape[0] - 1
    t_len = len(y)
    fp = pad_features(feat_ids, n_feat)
    em = w_feat[fp].sum(axis=1)
    if use_emb:
        x = w_emb[word_ids]
        em = em + x @ lin_n + lin_b
    log_z, unary, pair = forward_backward(em, a)
    gold_un = np.zeros_like(unary)
    gold_un[np.arange(t_len), y] = 1.0
    loss = log_z - float(em[np.arange(t_len), y].sum()) - float(
        a[y[:-1], y[1:]].sum()
    )
    d_em = unary - gold_un  # (T, K) dL/d emission
    d_a = pair.sum(axis=0)
    np.subtract.at(d_a, (y[:-1], y[1:]), 1.0)
    return loss, fp, d_em, d_a


def sgd_pass(
    w_feat, a, w_emb, lin_n, lin_b, enc, order, lr: float, l2: float,
    use_emb: bool,
) -> float:
    """One in-place SGD sweep over ``enc`` in ``order`` (the reference's
    per-sentence update, crf_ner.py:54-90 / train_util.py:267-286).
    Mutates the weight arrays; returns total loss."""
    n_feat = w_feat.shape[0] - 1
    total_loss = 0.0
    for si in order:
        feat_ids, word_ids, y = enc[si]
        t_len = len(y)
        if t_len < 2:  # crf_ner.py:56-58 skip
            continue
        loss, fp, d_em, d_a = sentence_grad(
            feat_ids, word_ids, y, w_feat, a, w_emb, lin_n, lin_b, use_emb
        )
        total_loss += loss
        # feature weights: scatter-add d_em rows at each feature id
        np.add.at(w_feat, fp.ravel(), -lr * np.repeat(d_em, fp.shape[1], axis=0))
        w_feat[n_feat] = 0.0  # keep pad row zero
        a -= lr * d_a
        if use_emb:
            x = w_emb[word_ids]
            d_lin = x.T @ d_em
            d_b = d_em.sum(axis=0)
            d_x = d_em @ lin_n.T
            np.add.at(w_emb, word_ids, -lr * d_x)
            lin_n -= lr * d_lin
            lin_b -= lr * d_b
        if l2:
            w_feat *= 1.0 - lr * l2
            a *= 1.0 - lr * l2
    return total_loss


def train_ner(
    train: List[Sentence],
    dev: Optional[List[Sentence]] = None,
    extra_dict_corpora: Optional[List[List[Sentence]]] = None,
    feature_thresh: int = 0,
    mode: str = "char",
    use_emb: bool = True,
    emb_dim: int = 100,
    emb_path: Optional[str] = None,
    lr: float = 0.05,
    epochs: int = 40,
    seed: int = 1,
    decay_epochs: int = 10,
    minimum_lr: float = 1e-5,
    l2: float = 0.0,
    verbose: bool = True,
) -> NerWeights:
    # Dictionaries over train + dev + any extra splits (closed vocabulary,
    # sighan_ner.py:45-58).
    dict_corpus = list(train) + list(dev or [])
    for extra in extra_dict_corpora or []:
        dict_corpus += list(extra)
    features2idx, words2idx, labels2idx = build_dicts(
        dict_corpus, feature_thresh, mode
    )
    n_feat, n_lab = len(features2idx), len(labels2idx)
    rng = np.random.RandomState(seed)

    w_feat = np.zeros((n_feat + 1, n_lab))  # last row = pad, stays zero
    a = (rng.rand(n_lab, n_lab) - 0.5) / n_lab
    w_emb = lin_n = lin_b = None
    if use_emb:
        if emb_path:
            # pre-trained init, fine-tuned during training — the
            # reference's jointly-trained-embeddings mode
            # (train_util.py:90-113 load; crf_ner.py:162-177 wiring)
            from .embeddings import read_embeddings

            w_emb, _ = read_embeddings(emb_path, words2idx, seed=seed)
            w_emb = w_emb[: len(words2idx)].astype(np.float64)
            emb_dim = w_emb.shape[1]
        else:
            w_emb = (rng.rand(len(words2idx), emb_dim) - 0.5) / emb_dim
        lin_n = (rng.rand(emb_dim, n_lab) - 0.5) / np.sqrt(emb_dim)
        lin_b = np.zeros(n_lab)

    enc_train = _encode_corpus(train, features2idx, words2idx, labels2idx, mode)
    gold_dev = [list(labels) for _, labels in (dev or [])]

    def snapshot() -> NerWeights:
        return NerWeights(
            features2idx=features2idx,
            words2idx=words2idx,
            labels2idx=labels2idx,
            w_feat=w_feat.astype(np.float32),
            a=a.astype(np.float32),
            w_emb=None if w_emb is None else w_emb.astype(np.float32),
            lin_n=None if lin_n is None else lin_n.astype(np.float32),
            lin_b=None if lin_b is None else lin_b.astype(np.float32),
            use_emb=use_emb,
            viterbi=False,
            mode=mode,
        )

    best: Tuple[float, Optional[NerWeights]] = (-1.0, None)
    stagnant = 0
    cur_lr = lr
    order = np.arange(len(enc_train))
    for epoch in range(epochs):
        t0 = time.time()
        rng.shuffle(order)
        total_loss = sgd_pass(
            w_feat, a, w_emb, lin_n, lin_b, enc_train, order, cur_lr, l2, use_emb
        )
        if dev:
            model = snapshot()
            pred = [model.classify(chars) for chars, _ in dev]
            res = span_eval(pred, gold_dev)
            if verbose:
                print(
                    f"epoch {epoch}: loss={total_loss:.1f} dev f1={res['f1']:.4f} "
                    f"p={res['p']:.4f} r={res['r']:.4f} lr={cur_lr} "
                    f"({time.time()-t0:.1f}s)"
                )
            if res["f1"] > best[0]:
                best = (res["f1"], model)
                stagnant = 0
            else:
                stagnant += 1
                if stagnant >= decay_epochs:
                    cur_lr /= 2.0  # crf_ner.py:228-233
                    stagnant = 0
            if cur_lr < minimum_lr:
                break
        elif verbose:
            print(f"epoch {epoch}: loss={total_loss:.1f} ({time.time()-t0:.1f}s)")
    return best[1] if best[1] is not None else snapshot()
