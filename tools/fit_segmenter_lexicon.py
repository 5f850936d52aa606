"""Calibrate the two-stage segmenter (dict DAG + BMES HMM over
single-char runs — jieba 0.37's pipeline shape, reference
sighan_ner.py:148-166, README.md:90) to reproduce the golden jieba-0.37
charpos dumps exactly.

Two cooperating structured-perceptron passes per iteration, both in
log-score space (the DP maximizes Σ log freq − log total; Viterbi
maximizes additive weights):

* lexicon: for each mismatched sentence, multiply gold-word freqs up and
  wrongly-predicted IN-DICT word freqs down (constant log-space step).
  HMM-invented words are NOT added/demoted here — the HMM pass owns them.
* HMM: for each HMM-handled buffer whose Chinese blocks align with gold
  word boundaries, do the classic HMM-perceptron update: +η along the
  gold BMES path (start/trans/emit), −η along the Viterbi path.

The HMM starts from supervised generative counts over the public PKU
corpus + the dumps themselves. Converges iff the dumps are consistent
with SOME (lexicon, HMM) pair of this architecture; residual conflicts
are printed for documentation.

Writes fixtures/segmenter_lexicon.npz and fixtures/segmenter_hmm.npz.

Usage: python tools/fit_segmenter_lexicon.py [--iters 300] [--dry-run]
"""

from __future__ import annotations

import argparse
import sys
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from golden_horse_spark.model.segment import (  # noqa: E402
    _RE_HAN,
    REF_DATA,
    HmmSegmenter,
    TwoStageSegmenter,
    build_lexicon,
    save_hmm_npz,
    save_lexicon_npz,
    train_hmm_generative,
    words_from_charpos,
    words_to_tags,
)
from golden_horse_spark.sources.conll import (  # noqa: E402
    read_charpos_golden,
    read_conll,
)


def load_golden(splits=("dev", "test")):
    data = []
    for split in splits:
        dump = REF_DATA / f"crfsuite.weiboNER.charpos.conll.{split}"
        conll = read_conll(REF_DATA / f"weiboNER.conll.{split}")
        for (chars, _labels), sent in zip(conll, read_charpos_golden(dump)):
            gold = words_from_charpos([t for t, _lb, _fs in sent], chars)
            data.append(("".join(chars), gold))
    return data


def hmm_corpora(data):
    """Generative-training corpora: PKU gold + the dump segmentations."""
    pku = REF_DATA / "pku_test_gold.utf8"
    if pku.exists():
        with open(pku, encoding="utf-8", errors="surrogatepass") as f:
            for line in f:
                words = line.split()
                if words:
                    yield words
    for _sent, gold in data:
        yield gold


def _gold_words_in_span(gold, start, end):
    """Gold words covering [start, end) iff the span boundaries align
    with gold word boundaries; else None (a word straddles an edge)."""
    pos = 0
    out = []
    for w in gold:
        w_end = pos + len(w)
        inside = pos >= start and w_end <= end
        overlaps = pos < end and w_end > start
        if inside:
            out.append(w)
        elif overlaps:
            return None
        pos = w_end
    if not out or sum(map(len, out)) != end - start:
        return None
    return out


_gold_words_in_span_rel = _gold_words_in_span  # same logic, relative offsets


def conflicted_words(data, max_len: int = 8):
    """Multi-char strings the golden data segments INCONSISTENTLY —
    appearing both as one gold word and as a boundary-aligned split
    elsewhere. A context-free unigram dict can't serve both, which is
    exactly why jieba leaves them out of its dictionary and lets the
    context-sensitive HMM decide per occurrence. Blacklisted from the
    lexicon so the HMM owns them."""
    merged = set()
    for _s, gold in data:
        for w in gold:
            if len(w) > 1:
                merged.add(w)
    split = set()
    for _s, gold in data:
        for i in range(len(gold)):
            s = gold[i]
            for j in range(i + 1, len(gold)):
                s += gold[j]
                if len(s) > max_len:
                    break
                split.add(s)
    return merged & split


def _hmm_buffers(seg: TwoStageSegmenter, sentence: str):
    """Replay the two-stage flush to find HMM-handled buffer spans."""
    spans = []
    i = 0
    buf_start = None
    buf = ""
    for w in seg.dag.cut(sentence):
        if len(w) == 1:
            if buf_start is None:
                buf_start = i
            buf += w
        else:
            if buf and len(buf) > 1 and not seg.lexicon.get(buf):
                spans.append((buf_start, buf_start + len(buf), buf))
            buf, buf_start = "", None
        i += len(w)
    if buf and len(buf) > 1 and not seg.lexicon.get(buf):
        spans.append((buf_start, buf_start + len(buf), buf))
    return spans


def _hmm_update(hmm: HmmSegmenter, block: str, gold_tags, eta: float):
    """±η structured-perceptron update toward gold_tags on `block`."""
    pred_tags = hmm.tags(block)
    if pred_tags == list(gold_tags):
        return False
    for tags, sign in ((gold_tags, +eta), (pred_tags, -eta)):
        hmm.start[tags[0]] = hmm.start.get(tags[0], -12.0) + sign
        for p, s in zip(tags, tags[1:]):
            row = hmm.trans.setdefault(p, {})
            row[s] = row.get(s, -12.0) + sign
        for ch, s in zip(block, tags):
            row = hmm.emit[s]
            row[ch] = row.get(ch, hmm.emit_unk[s]) + sign
    return True


def _snap(freq, hmm):
    import copy

    return dict(freq), HmmSegmenter(
        dict(hmm.start), copy.deepcopy(hmm.trans),
        copy.deepcopy(hmm.emit), dict(hmm.emit_unk),
    )


def fit(freq, hmm, data, iters=300, eta=0.5, eta_hmm=0.3, verbose=True,
        blacklist=frozenset(), decay=0.995):
    """Perceptron passes oscillate once near-converged (shared char
    weights pulled by competing buffers), so steps decay geometrically
    and the best-so-far snapshot is returned."""
    best_err, best_state = None, None
    for it in range(iters):
        up = 1.0 + eta * decay**it
        down = 1.0 / up
        step_hmm = eta_hmm * decay**it
        pre_state = _snap(freq, hmm)  # the state `errors` will measure
        seg = TwoStageSegmenter(freq, hmm)
        errors = 0
        for sent, gold in data:
            pred = seg.cut(sent)
            if pred == gold:
                continue
            errors += 1
            gc, pc = Counter(gold), Counter(pred)
            for w in (gc - pc).elements():
                if w in blacklist:
                    continue  # HMM-owned: never (re)enters the lexicon
                freq[w] = freq.get(w, 1.0) * up
            for w in (pc - gc).elements():
                if w in freq:  # HMM-invented words belong to the HMM pass
                    nf = freq[w] * down
                    freq[w] = nf if len(w) > 1 else max(nf, 1e-9)
            # HMM pass over the buffers this sentence routed to the HMM
            for s0, s1, buf in _hmm_buffers(seg, sent):
                gw = _gold_words_in_span(gold, s0, s1)
                if gw is None:
                    continue  # misaligned — lexicon pass must move first
                # update per Chinese block (tags only exist there)
                off = 0
                for blk in _RE_HAN.split(buf):
                    if not blk:
                        continue
                    if _RE_HAN.match(blk):
                        # block-local gold words (skip if a gold word
                        # straddles the block edge — slicing tags
                        # mid-word would feed invalid BMES paths)
                        gwb = _gold_words_in_span_rel(gw, off, off + len(blk))
                        if gwb is not None:
                            _hmm_update(hmm, blk, words_to_tags(gwb), step_hmm)
                    off += len(blk)
        if best_err is None or errors < best_err:
            best_err, best_state = errors, pre_state
        if verbose and (it < 6 or it % 10 == 0 or errors == 0):
            print(f"iter {it}: {errors} mismatched sentences / {len(data)}")
        if errors == 0:
            return freq, hmm, 0
    bf, bh = best_state
    return bf, bh, best_err


def token_agreement(seg, splits=("dev", "test")):
    from golden_horse_spark.model.features import representations

    out = {}
    for split in splits:
        dump = REF_DATA / f"crfsuite.weiboNER.charpos.conll.{split}"
        conll = read_conll(REF_DATA / f"weiboNER.conll.{split}")
        agree = total = 0
        for (chars, _labels), sent in zip(conll, read_charpos_golden(dump)):
            gold = [t for t, _lb, _fs in sent]
            ours = representations(chars, "charpos", segmenter=seg)
            total += len(gold)
            agree += sum(a == b for a, b in zip(gold, ours))
        out[split] = round(agree / total, 6)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--iters", type=int, default=300)
    ap.add_argument("--eta", type=float, default=0.5)
    ap.add_argument("--eta-hmm", type=float, default=0.3)
    ap.add_argument("--dry-run", action="store_true")
    args = ap.parse_args()

    for path in (
        REF_DATA / f"{pre}.{s}"
        for pre in ("crfsuite.weiboNER.charpos.conll", "weiboNER.conll")
        for s in ("dev", "test")
    ):
        if not path.exists():
            print(f"missing input: {path}", file=sys.stderr)
            sys.exit(2)

    data = load_golden()
    print(f"{len(data)} golden sentences")
    black = conflicted_words(data)
    print(f"{len(black)} gold-inconsistent words blacklisted from lexicon")
    freq = {
        w: float(f)
        for w, f in build_lexicon().items()
        if w not in black
    }
    hmm = train_hmm_generative(hmm_corpora(data))
    print("pre-fit:", token_agreement(TwoStageSegmenter(freq, hmm)))
    freq, hmm, errs = fit(freq, hmm, data, args.iters, args.eta,
                          args.eta_hmm, blacklist=black)
    seg = TwoStageSegmenter(freq, hmm)
    print("post-fit:", token_agreement(seg), f"({errs} residual sentences)")
    if errs:
        shown = 0
        for sent, gold in data:
            pred = seg.cut(sent)
            if pred != gold and shown < 8:
                shown += 1
                print(f"CONFLICT: {sent!r}\n  gold={gold}\n  pred={pred}")
    if not args.dry_run:
        save_lexicon_npz(freq)
        save_hmm_npz(hmm)
        print("wrote fixtures/segmenter_lexicon.npz + segmenter_hmm.npz")


if __name__ == "__main__":
    main()
