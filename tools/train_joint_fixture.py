"""Train the ACL'16 joint CWS+NER fixture (R7) on the reference corpus.

NER task: weiboNER_2nd_conll splits (pre-charpos tokens, consumed in
char mode — the same recipe as fixtures/ner_weights_2nd.npz, README.md:76).
CWS task: data/pku_test_gold.utf8 converted to charpos tokens (positions
come straight from the gold segmentation — no segmenter involved), so
the SHARED embedding sees one vocabulary across both tasks.

Usage: python tools/train_joint_fixture.py [--epochs 40] [--cws-weight 0.7]
       [--dropout 0.1] [--hidden 150] [--out fixtures/joint_weights.npz]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import numpy as np  # noqa: E402

from golden_horse_spark.model.evaluation import span_eval  # noqa: E402
from golden_horse_spark.model.joint_train import (  # noqa: E402
    bies_labels,
    train_joint,
)
from golden_horse_spark.sources.conll import read_conll  # noqa: E402

DATA = Path("/root/reference/data")
ROOT = Path(__file__).resolve().parents[1]


def read_cws_charpos(path, max_len: int = 80):
    """pku gold lines → (charpos tokens, BIES labels)."""
    out = []
    with open(path, encoding="utf-8", errors="surrogatepass") as f:
        for line in f:
            words = line.split()
            if not words:
                continue
            toks = [c + str(i) for w in words for i, c in enumerate(w)]
            if not (2 <= len(toks) <= max_len):
                continue
            out.append((toks, bies_labels(words)))
    return out


def silver_cws_from_ner(ner_sents, max_len: int = 80):
    """SILVER CWS data: the NER corpus's own sentences segmented by the
    calibrated two-stage DAG+HMM segmenter (0.999 jieba agreement).
    The published joint model's edge came from a large CWS corpus the
    reference does not ship; in-domain silver segmentation is the
    public-data substitute — same char inventory as the NER task, so
    the shared embedding gets CWS signal exactly where NER needs it."""
    from golden_horse_spark.model.segment import default_segmenter

    seg = default_segmenter()
    out = []
    for chars, _labels in ner_sents:
        words = [w for w in seg.cut("".join(chars)) if w]
        toks = [c + str(i) for w in words for i, c in enumerate(w)]
        if not (2 <= len(toks) <= max_len):
            continue
        out.append((toks, bies_labels(words)))
    return out


# artifact I/O lives on the class: JointWeights.save / JointWeights.load
# (the lstm_w key marks a joint npz for the Spark stage's auto-detect)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--epochs", type=int, default=40)
    ap.add_argument("--hidden", type=int, default=150)
    ap.add_argument("--cws-weight", type=float, default=0.7)
    ap.add_argument("--dropout", type=float, default=0.1)
    ap.add_argument("--lr", type=float, default=0.05)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cws-max", type=int, default=0,
                    help="cap CWS sentences (0 = all)")
    ap.add_argument("--emb", default=str(ROOT / "fixtures/charpos_ppmi_svd.emb"))
    ap.add_argument("--out", default=str(ROOT / "fixtures/joint_weights.npz"))
    ap.add_argument("--cws-silver", action="store_true",
                    help="augment CWS with silver segmentation of the NER "
                         "train sentences (two-stage segmenter)")
    args = ap.parse_args()

    stem = "weiboNER_2nd_conll"
    need = [DATA / f"{stem}.{s}" for s in ("train", "dev", "test")]
    for path in need + [DATA / "pku_test_gold.utf8"]:
        if not path.exists():
            print(f"missing input: {path}", file=sys.stderr)
            sys.exit(2)
    train = read_conll(DATA / f"{stem}.train")
    dev = read_conll(DATA / f"{stem}.dev")
    test = read_conll(DATA / f"{stem}.test")
    cws = read_cws_charpos(DATA / "pku_test_gold.utf8")
    if args.cws_max:
        cws = cws[: args.cws_max]
    if args.cws_silver:
        silver = silver_cws_from_ner(train)
        print(f"silver cws from NER train: +{len(silver)}", flush=True)
        cws = cws + silver
    print(f"ner {len(train)}/{len(dev)}/{len(test)}  cws {len(cws)}", flush=True)

    model = train_joint(
        train, cws, ner_dev=dev, extra_dict_corpora=[test],
        mode="char", hidden=args.hidden, lr=args.lr,
        cws_weight=args.cws_weight, dropout=args.dropout,
        epochs=args.epochs, seed=args.seed,
        emb_path=args.emb if Path(args.emb).exists() else None,
    )
    for name, split in (("dev", dev), ("test", test)):
        pred = [model.classify_ner(chars) for chars, _ in split]
        res = span_eval(pred, [list(l) for _, l in split])
        print(f"FINAL {name}: micro P={res['p']:.4f} R={res['r']:.4f} "
              f"F1={res['f1']:.4f}", flush=True)
    model.save(args.out)
    print("saved", args.out)


if __name__ == "__main__":
    main()
