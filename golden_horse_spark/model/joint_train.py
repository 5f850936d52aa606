"""ACL'16 joint CWS+NER TRAINING (R7) — NumPy BPTT counterpart of the
reference's jointSegmentationNER circuit (reference
neural_architectures.py:214-229 wiring; jointSegNER.py:44-67 'joint'
train mode; cost = Λ·cws_score + ner_score per PAIRED
(cws_sentence, ner_sentence) step, jointSegNER.py:365 cws_joint_weight).

Faithful pieces:
* shared Embedding + shared forward LSTM (m1_lstm_go_backwards=False,
  jointSegNER.py:118; hidden 150, m1_lstm_out_dim default);
* module 1 (CWS): lstm_h → BiasedLinear → order-1 CRF over BIES — NO
  feature emissions (the ComputeFeature chip is commented out of
  module 1, neural_architectures.py:217);
* module 2 (NER): concat(emb, lstm_h) → BiasedLinear → ComputeFeature
  (n-gram feature-weight sums) → order-1 CRF;
* per-pair SGD with the reference's lr/decay schedule; inverted dropout
  on the shared embedding output (m1_wemb1_dropout_rate; README.md:84-86
  best config 0.1);
* exact gradients: CRF forward-backward marginals + LSTM BPTT
  (lstm.py:lstm_backward, numerically gradchecked).

Documented simplifications (the reference's CWS window handling is
internally inconsistent — wemb1_win=3 vs m1_wemb1_win=1 feed the same
shared chip, jointSegNER.py:119-120 — and its SIGHAN training corpus
isn't shipped): both modules consume win=1 embeddings, and the CWS
corpus is data/pku_test_gold.utf8 (the only gold segmentation shipped).
"""

from __future__ import annotations

import time
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from .crf import forward_backward, pad_features
from .dicts import build_dicts
from .evaluation import span_eval
from .features import encode_sentence
from .joint import JointWeights
from .lstm import lstm_backward, lstm_forward_cache
from .train import Sentence

CWS_LABELS = ["B-word", "I-word", "E-word", "S-word"]


def bies_labels(words: Sequence[str]) -> List[str]:
    out: List[str] = []
    for w in words:
        if len(w) == 1:
            out.append("S-word")
        else:
            out.extend(["B-word"] + ["I-word"] * (len(w) - 2) + ["E-word"])
    return out


# ---------------------------------------------------------------- gradients


def _crf_grads(em: np.ndarray, a: np.ndarray, y: np.ndarray):
    log_z, unary, pair = forward_backward(em, a)
    t_len = len(y)
    loss = log_z - float(em[np.arange(t_len), y].sum()) - float(a[y[:-1], y[1:]].sum())
    d_em = unary.astype(np.float64)
    d_em[np.arange(t_len), y] -= 1.0
    d_a = pair.sum(axis=0).astype(np.float64)
    np.subtract.at(d_a, (y[:-1], y[1:]), 1.0)
    return loss, d_em, d_a


def ner_sentence_grads(P: Dict[str, np.ndarray], feat_ids, word_ids, y,
                       drop_mask: Optional[np.ndarray] = None):
    """Loss + dense/sparse grads of the NER module for one sentence.
    Returns (loss, grads) where grads keys mirror P plus sparse entries
    ('w_emb_rows', 'w_feat_rows')."""
    emb = P["w_emb"][word_ids]
    if drop_mask is not None:
        emb = emb * drop_mask
    h, cache = lstm_forward_cache(emb, P["lw"], P["lu"], P["lb"], P["lp"])
    x = np.concatenate([emb, h], axis=1)
    n_feat = P["w_feat"].shape[0] - 1
    fp = pad_features(feat_ids, n_feat)
    em = x @ P["m2_n"] + P["m2_b"] + P["w_feat"][fp].sum(axis=1)
    loss, d_em, d_a = _crf_grads(em, P["m2_a"], y)
    e_dim = emb.shape[1]
    g = {
        "m2_n": x.T @ d_em,
        "m2_b": d_em.sum(axis=0),
        "m2_a": d_a,
        "w_feat_rows": (fp, d_em),  # scatter-add d_em at each fp row
    }
    d_x = d_em @ P["m2_n"].T
    d_emb = d_x[:, :e_dim].copy()
    d_h = d_x[:, e_dim:]
    dx_l, g["lw"], g["lu"], g["lb"], g["lp"] = lstm_backward(d_h, cache)
    d_emb += dx_l
    if drop_mask is not None:
        d_emb = d_emb * drop_mask
    g["w_emb_rows"] = (word_ids, d_emb)
    return loss, g


def cws_sentence_grads(P: Dict[str, np.ndarray], word_ids, y,
                       drop_mask: Optional[np.ndarray] = None):
    """Loss + grads of the CWS module (no feature emissions)."""
    emb = P["w_emb"][word_ids]
    if drop_mask is not None:
        emb = emb * drop_mask
    h, cache = lstm_forward_cache(emb, P["lw"], P["lu"], P["lb"], P["lp"])
    em = h @ P["m1_n"] + P["m1_b"]
    loss, d_em, d_a = _crf_grads(em, P["m1_a"], y)
    g = {
        "m1_n": h.T @ d_em,
        "m1_b": d_em.sum(axis=0),
        "m1_a": d_a,
    }
    d_h = d_em @ P["m1_n"].T
    d_emb, g["lw"], g["lu"], g["lb"], g["lp"] = lstm_backward(d_h, cache)
    if drop_mask is not None:
        d_emb = d_emb * drop_mask
    g["w_emb_rows"] = (word_ids, d_emb)
    return loss, g


def _apply(P: Dict[str, np.ndarray], g: dict, lr: float, scale: float = 1.0):
    for k, v in g.items():
        if k == "w_emb_rows":
            ids, rows = v
            np.add.at(P["w_emb"], ids, -lr * scale * rows)
        elif k == "w_feat_rows":
            fp, d_em = v
            np.add.at(
                P["w_feat"], fp.ravel(),
                -lr * scale * np.repeat(d_em, fp.shape[1], axis=0),
            )
            P["w_feat"][-1] = 0.0  # pad row is not a parameter
        else:
            P[k] -= lr * scale * v


# ------------------------------------------------------------------ trainer


def train_joint(
    ner_train: List[Sentence],
    cws_train: List[Sentence],
    ner_dev: Optional[List[Sentence]] = None,
    extra_dict_corpora: Optional[List[List[Sentence]]] = None,
    mode: str = "char",
    train_mode: str = "joint",
    emb_dim: int = 100,
    hidden: int = 150,
    lr: float = 0.05,
    cws_weight: float = 0.7,
    dropout: float = 0.1,
    epochs: int = 30,
    seed: int = 1,
    decay_epochs: int = 10,
    minimum_lr: float = 1e-5,
    emb_path: Optional[str] = None,
    verbose: bool = True,
) -> JointWeights:
    """R7 training modes (ref jointSegNER.py:45-101, dispatch :132-153):

    * ``train_mode="joint"`` — each step consumes one (cws, ner)
      sentence pair; cost = cws_weight·cws + ner (README.md:84-86 best
      named config uses cws_joint_weight 0.7, dropout 0.1).
    * ``"alternative"`` — per epoch, the CWS corpus is trained in full,
      then the NER corpus, each with its own UNWEIGHTED update
      (ref train_alternative: per-task f_cost/f_update; task order
      segmentation-then-NER as in the reference's task arrays).
    * ``"single"`` — NER task only (cws_train may be empty); the joint
      architecture without the auxiliary signal.
    """
    dict_corpus = list(ner_train) + list(ner_dev or [])
    for extra in extra_dict_corpora or []:
        dict_corpus += list(extra)
    features2idx, words2idx, ner_l2i = build_dicts(dict_corpus, 0, mode)
    # vocab must also cover the CWS corpus chars (shared embedding)
    for chars, _ in cws_train:
        from .features import representations

        for tok in representations(list(chars), mode):
            if tok not in words2idx:
                words2idx[tok] = len(words2idx)
    ner_labels = [None] * len(ner_l2i)
    for lb, i in ner_l2i.items():
        ner_labels[i] = lb
    cws_l2i = {lb: i for i, lb in enumerate(CWS_LABELS)}

    rng = np.random.RandomState(seed)
    if emb_path:
        from .embeddings import read_embeddings

        w_emb, _ = read_embeddings(emb_path, words2idx, seed=seed)
        w_emb = w_emb[: len(words2idx)].astype(np.float64)
        emb_dim = w_emb.shape[1]
    else:
        w_emb = (rng.rand(len(words2idx), emb_dim) - 0.5) / emb_dim
    k1, k2 = len(CWS_LABELS), len(ner_labels)
    P: Dict[str, np.ndarray] = {
        "w_emb": w_emb,
        "lw": (rng.rand(emb_dim, 4 * hidden) - 0.5) / np.sqrt(emb_dim),
        "lu": (rng.rand(hidden, 4 * hidden) - 0.5) / np.sqrt(hidden),
        "lb": np.zeros(4 * hidden),
        "lp": np.zeros(3 * hidden),
        "m1_n": (rng.rand(hidden, k1) - 0.5) / np.sqrt(hidden),
        "m1_b": np.zeros(k1),
        "m1_a": (rng.rand(k1, k1) - 0.5) / k1,
        "m2_n": (rng.rand(emb_dim + hidden, k2) - 0.5) / np.sqrt(emb_dim + hidden),
        "m2_b": np.zeros(k2),
        "m2_a": (rng.rand(k2, k2) - 0.5) / k2,
        "w_feat": np.zeros((len(features2idx) + 1, k2)),
    }

    def enc_ner(sents):
        out = []
        for chars, labels in sents:
            if len(chars) < 2:
                continue
            feat_ids, word_ids = encode_sentence(
                list(chars), features2idx, words2idx, mode
            )
            out.append(
                (feat_ids, np.asarray(word_ids, dtype=np.int32),
                 np.asarray([ner_l2i[lb] for lb in labels], dtype=np.int32))
            )
        return out

    def enc_cws(sents):
        out = []
        for chars, labels in sents:
            if len(chars) < 2:
                continue
            _f, word_ids = encode_sentence(
                list(chars), features2idx, words2idx, mode
            )
            out.append(
                (np.asarray(word_ids, dtype=np.int32),
                 np.asarray([cws_l2i[lb] for lb in labels], dtype=np.int32))
            )
        return out

    ner_enc = enc_ner(ner_train)
    cws_enc = enc_cws(cws_train)
    gold_dev = [list(labels) for _, labels in (ner_dev or [])]

    def snapshot() -> JointWeights:
        return JointWeights(
            words2idx=dict(words2idx),
            features2idx=features2idx,
            cws_labels=list(CWS_LABELS),
            ner_labels=list(ner_labels),
            w_emb=P["w_emb"].astype(np.float32),
            lstm={"w": P["lw"].astype(np.float32), "u": P["lu"].astype(np.float32),
                  "b": P["lb"].astype(np.float32), "p": P["lp"].astype(np.float32)},
            m1_n=P["m1_n"].astype(np.float32), m1_b=P["m1_b"].astype(np.float32),
            m1_a=P["m1_a"].astype(np.float32),
            m2_n=P["m2_n"].astype(np.float32), m2_b=P["m2_b"].astype(np.float32),
            m2_a=P["m2_a"].astype(np.float32),
            w_feat=P["w_feat"].astype(np.float32),
            mode=mode,
        )

    best: Tuple[float, Optional[JointWeights]] = (-1.0, None)
    stagnant = 0
    cur_lr = lr
    n_ord = np.arange(len(ner_enc))
    c_ord = np.arange(len(cws_enc))
    for epoch in range(epochs):
        t0 = time.time()
        rng.shuffle(n_ord)
        rng.shuffle(c_ord)
        tot_ner = tot_cws = 0.0
        def mask(n_rows):
            if not dropout:
                return None
            return (rng.rand(n_rows, emb_dim) >= dropout) / (1.0 - dropout)

        if train_mode == "joint":
            for step, ni in enumerate(n_ord):
                feat_ids, w_ids, y = ner_enc[ni]
                loss_n, g_n = ner_sentence_grads(
                    P, feat_ids, w_ids, y, mask(len(w_ids))
                )
                _apply(P, g_n, cur_lr)
                tot_ner += loss_n
                cw_ids, cy = cws_enc[c_ord[step % len(c_ord)]]
                loss_c, g_c = cws_sentence_grads(P, cw_ids, cy, mask(len(cw_ids)))
                _apply(P, g_c, cur_lr, scale=cws_weight)
                tot_cws += loss_c
        elif train_mode == "alternative":
            # full CWS pass, then full NER pass, unweighted per-task
            # updates (ref train_alternative → train_single per task)
            for ci in c_ord:
                cw_ids, cy = cws_enc[ci]
                loss_c, g_c = cws_sentence_grads(P, cw_ids, cy, mask(len(cw_ids)))
                _apply(P, g_c, cur_lr)
                tot_cws += loss_c
            for ni in n_ord:
                feat_ids, w_ids, y = ner_enc[ni]
                loss_n, g_n = ner_sentence_grads(
                    P, feat_ids, w_ids, y, mask(len(w_ids))
                )
                _apply(P, g_n, cur_lr)
                tot_ner += loss_n
        elif train_mode == "single":
            for ni in n_ord:
                feat_ids, w_ids, y = ner_enc[ni]
                loss_n, g_n = ner_sentence_grads(
                    P, feat_ids, w_ids, y, mask(len(w_ids))
                )
                _apply(P, g_n, cur_lr)
                tot_ner += loss_n
        else:
            raise ValueError(f"unknown train_mode {train_mode!r}")
        if ner_dev:
            model = snapshot()
            pred = [model.classify_ner(chars) for chars, _ in ner_dev]
            res = span_eval(pred, gold_dev)
            if verbose:
                print(
                    f"joint epoch {epoch}: ner_loss={tot_ner:.1f} "
                    f"cws_loss={tot_cws:.1f} dev f1={res['f1']:.4f} "
                    f"p={res['p']:.4f} r={res['r']:.4f} lr={cur_lr} "
                    f"({time.time() - t0:.1f}s)", flush=True,
                )
            if res["f1"] > best[0]:
                best = (res["f1"], model)
                stagnant = 0
            else:
                stagnant += 1
                if stagnant >= decay_epochs:
                    cur_lr /= 2.0
                    stagnant = 0
            if cur_lr < minimum_lr:
                break
        elif verbose:
            print(f"joint epoch {epoch}: ner={tot_ner:.1f} cws={tot_cws:.1f} "
                  f"({time.time() - t0:.1f}s)", flush=True)
    return best[1] if best[1] is not None else snapshot()
