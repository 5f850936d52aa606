"""Pre-train char/charpos embeddings from the reference's own raw text.

The paper's best model fine-tunes embeddings pre-trained on a large
Weibo corpus (golden_horse_supplement Table 1; loader semantics
train_util.py:90-113). That corpus isn't shipped, so we build the best
public substitute from assets in /root/reference: the weiboNER splits
(raw sentences) and data/pku_test_gold.utf8 (1.1 MB of gold-segmented
news text — its segmentation gives charpos tokens directly, no
segmenter needed).

Method (all public): co-occurrence counts with a symmetric ±2 window →
PPMI → rank-``dim`` randomized SVD (Levy & Goldberg 2014, "Neural Word
Embedding as Implicit Matrix Factorization"; Halko et al. 2011 for the
randomized SVD). Output is written in the reference's embedding text
format (``rows dim`` header, then ``token v1..vd``) so
model/embeddings.read_embeddings loads it with reference semantics
(row L2-norm × sqrt(1/3), random init for absent tokens).

Usage: python tools/train_char_embeddings.py [--mode charpos] [--dim 100]
       [--out fixtures/charpos_ppmi_svd.emb]
"""

from __future__ import annotations

import argparse
import sys
import time
from collections import Counter
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

DATA = Path("/root/reference/data")


def corpus_token_sequences(mode: str):
    """Yield token sequences (charpos or char) from the reference text."""
    from golden_horse_spark.model.features import representations
    from golden_horse_spark.sources.conll import read_conll

    for split in ("train", "dev", "test"):
        for chars, _labels in read_conll(DATA / f"weiboNER.conll.{split}"):
            yield representations(chars, mode)
    # PKU gold: segmentation is given, so charpos is exact
    with open(DATA / "pku_test_gold.utf8", encoding="utf-8",
              errors="surrogatepass") as f:
        for line in f:
            words = line.split()
            if not words:
                continue
            if mode == "char":
                yield [c for w in words for c in w]
            elif mode == "word":
                yield [w for w in words for _ in w]
            else:
                yield [c + str(i) for w in words for i, c in enumerate(w)]


def cooccurrence(sequences, window: int = 2, min_count: int = 2):
    counts: Counter = Counter()
    pair_counts: Counter = Counter()
    seqs = list(sequences)
    for seq in seqs:
        counts.update(seq)
    def clean(t: str) -> bool:
        try:  # reference dumps carry CESU-8 lone surrogates — drop them
            t.encode("utf-8")
            return True
        except UnicodeEncodeError:
            return False

    vocab = [t for t, c in counts.items() if c >= min_count and clean(t)]
    v2i = {t: i for i, t in enumerate(vocab)}
    for seq in seqs:
        ids = [v2i.get(t, -1) for t in seq]
        n = len(ids)
        for i, a in enumerate(ids):
            if a < 0:
                continue
            for j in range(max(0, i - window), min(n, i + window + 1)):
                if j == i or ids[j] < 0:
                    continue
                pair_counts[(a, ids[j])] += 1
    return vocab, pair_counts


def ppmi_matrix(n_vocab: int, pair_counts) -> np.ndarray:
    m = np.zeros((n_vocab, n_vocab), dtype=np.float32)
    for (a, b), c in pair_counts.items():
        m[a, b] = c
    row = m.sum(axis=1, keepdims=True)
    col = m.sum(axis=0, keepdims=True)
    total = m.sum()
    with np.errstate(divide="ignore", invalid="ignore"):
        pmi = np.log(m * total / (row * col))
    pmi[~np.isfinite(pmi)] = 0.0
    np.maximum(pmi, 0.0, out=pmi)  # positive PMI
    return pmi


def randomized_svd(m: np.ndarray, dim: int, seed: int = 1,
                   oversample: int = 10, power_iters: int = 2) -> np.ndarray:
    """Rank-``dim`` left singular vectors × sqrt(singular values)
    (the standard PPMI-SVD embedding, Levy & Goldberg 2014 §3)."""
    rng = np.random.RandomState(seed)
    k = dim + oversample
    q = rng.normal(size=(m.shape[1], k)).astype(np.float32)
    y = m @ q
    for _ in range(power_iters):
        y, _ = np.linalg.qr(m @ (m.T @ y))
    q, _ = np.linalg.qr(y)
    b = q.T @ m
    ub, s, _vt = np.linalg.svd(b, full_matrices=False)
    u = (q @ ub)[:, :dim]
    return u * np.sqrt(s[:dim])[None, :]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", default="charpos",
                    choices=["char", "charpos", "word"])
    ap.add_argument("--dim", type=int, default=100)
    ap.add_argument("--window", type=int, default=2)
    ap.add_argument("--min-count", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    out = args.out or str(
        Path(__file__).resolve().parents[1]
        / f"fixtures/{args.mode}_ppmi_svd.emb"
    )

    need = [DATA / f"weiboNER.conll.{s}" for s in ("train", "dev", "test")]
    for path in need + [DATA / "pku_test_gold.utf8"]:
        if not path.exists():
            print(f"missing input: {path}", file=sys.stderr)
            sys.exit(2)

    t0 = time.time()
    vocab, pairs = cooccurrence(
        corpus_token_sequences(args.mode), args.window, args.min_count
    )
    print(f"vocab={len(vocab)} pairs={len(pairs)} ({time.time()-t0:.0f}s)")
    m = ppmi_matrix(len(vocab), pairs)
    emb = randomized_svd(m, args.dim)
    print(f"embeddings {emb.shape} ({time.time()-t0:.0f}s)")

    from golden_horse_spark.model.embeddings import write_embeddings

    # drop ~zero rows (isolated tokens): the reference loader L2-normalizes
    # each row, and a zero row would normalize to NaN and poison training
    norms = np.linalg.norm(emb, axis=1)
    keep = {i: t for i, t in enumerate(vocab) if norms[i] > 1e-6}
    write_embeddings(out, emb, keep)
    print(f"saved {out} ({len(keep)}/{len(vocab)} rows)")


if __name__ == "__main__":
    main()
