"""Train the frozen NER weights fixture on the reference corpus.

Offline, one-shot (SURVEY.md §7 Phase 2): dictionaries over
train+dev+test (closed vocab, sighan_ner.py:45-58), best-on-dev
checkpointing, final report on dev and test. Writes
fixtures/ner_weights.npz.

Usage: python tools/train_fixture.py [--epochs 60] [--no-emb] [--2nd]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from golden_horse_spark.model.evaluation import span_eval
from golden_horse_spark.model.train import train_ner
from golden_horse_spark.sources.conll import read_conll

DATA = Path("/root/reference/data")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--epochs", type=int, default=150)
    ap.add_argument("--no-emb", action="store_true")
    ap.add_argument("--mode", default="charpos",
                    choices=["char", "charpos", "word"])
    ap.add_argument("--emb", default="auto",
                    help="pretrained embedding file ('auto' = the PPMI-SVD "
                         "fixture for --mode, 'none' = random init)")
    ap.add_argument("--l2", type=float, default=0.0)
    ap.add_argument("--2nd", dest="second", action="store_true",
                    help="use the revised weiboNER_2nd_conll splits")
    ap.add_argument("--out", default=str(Path(__file__).resolve().parents[1] / "fixtures/ner_weights.npz"))
    args = ap.parse_args()

    stem = "weiboNER_2nd_conll" if args.second else "weiboNER.conll"
    if args.second and args.mode != "char":
        # the 2nd revision ships PRE-charpos-converted tokens; the
        # reference consumes it with --emb_type char (README.md:76)
        print("weiboNER_2nd tokens are already charpos — forcing mode=char")
        args.mode = "char"
        if args.emb == "auto":
            args.emb = str(Path(__file__).resolve().parents[1]
                           / "fixtures/charpos_ppmi_svd.emb")
    for path in [DATA / f"{stem}.{s}" for s in ("train", "dev", "test")]:
        if not path.exists():
            print(f"missing input: {path}", file=sys.stderr)
            sys.exit(2)
    train = read_conll(DATA / f"{stem}.train")
    dev = read_conll(DATA / f"{stem}.dev")
    test = read_conll(DATA / f"{stem}.test")
    print(f"{stem}: {len(train)}/{len(dev)}/{len(test)} sentences")

    root = Path(__file__).resolve().parents[1]
    emb_path = None
    if args.emb == "auto":
        cand = root / f"fixtures/{args.mode}_ppmi_svd.emb"
        emb_path = str(cand) if cand.exists() else None
    elif args.emb != "none":
        emb_path = args.emb
    print(f"mode={args.mode} emb={emb_path} l2={args.l2}")
    model = train_ner(
        train,
        dev,
        extra_dict_corpora=[test],
        use_emb=not args.no_emb,
        mode=args.mode,
        emb_path=emb_path,
        l2=args.l2,
        epochs=args.epochs,
        verbose=True,
    )
    for name, split in (("dev", dev), ("test", test)):
        pred = [model.classify(chars) for chars, _ in split]
        res = span_eval(pred, [labels for _, labels in split])
        print(
            f"FINAL {name}: micro P={res['p']:.4f} R={res['r']:.4f} "
            f"F1={res['f1']:.4f} macro={tuple(round(m,4) for m in res['macro'])}"
        )
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    model.save(args.out)
    print("saved", args.out)


if __name__ == "__main__":
    main()
