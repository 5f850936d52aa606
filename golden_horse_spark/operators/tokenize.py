"""Distributed BPE tokenizer training + encoding (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").

The reference pipeline builds corpus dictionaries driver-side
(`theano_src/train_util.py` — word/feature dicts); a modern training-data
pipeline also needs the LEARNED vocabulary: byte-pair-encoding merges.
This module trains BPE the scalable way:

* the corpus is collapsed ONCE to a word histogram — ``(word, count)``
  — which is orders of magnitude smaller than the corpus (Heaps' law)
  but still a DataFrame, never collected: at 10^12 documents the
  histogram is billions of rows and stays distributed;
* each merge step is two jobs over the HISTOGRAM, not the corpus:
  an adjacent-pair weighted count (one shuffle, map-side partials) and
  a 1-row argmax collect (bounded: one pair per step);
* re-encoding a step's merge touches ONLY words containing the chosen
  pair (an ``exists`` filter — no shuffle), and the histogram is
  ``localCheckpoint``-ed per step so the plan stays O(1) in steps;
* determinism: ties broken by (max count, lexicographically smallest
  pair) via a single ``min(struct(-count, a, b))`` aggregate — no
  global sort, bit-stable across partitionings, so trained merge
  tables are oracle-pinnable.

Encoding (``bpe_encode``) broadcasts the merge ranks (vocab-sized, the
classic small side) and applies the standard greedy lowest-rank-first
merge loop per word inside an Arrow-batched pandas UDF with an
LRU-style per-batch word cache — per ROW Python never happens, and per
WORD work is amortized by Zipf (the cache hits on every repeated word
in the batch).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# end-of-word sentinel: single char keeps symbol arrays compact; U+2581
# (the SentencePiece "lower one eighth block") never appears in the
# testdata corpora and is escaped nowhere
EOW = "▁"


def word_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-token word histogram ``(word, count)`` — the ONE pass
    over the corpus that BPE training needs."""
    return (
        docs.select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )


def _symbols(word: Column) -> Column:
    # 'low' → ['l', 'o', 'w', EOW]: the EOW sentinel makes merges
    # word-final-aware, the standard Sennrich formulation
    return F.concat(F.split(word, ""), F.array(F.lit(EOW)))


def _bpe_train_local(
    rows: list[tuple[list[str], int]], num_merges: int
) -> list[tuple[str, str, int]]:
    """Driver-side BPE merge loop over a collected symbol histogram —
    the SAME algorithm as the distributed loop below, replayed in pure
    Python: identical pair counting, identical deterministic tie-break
    (max count, then lexicographically smallest pair — Python's
    code-point string order equals Spark's UTF8 byte order on these),
    identical greedy left-to-right non-overlapping fold. Equivalence is
    property-tested against the distributed path
    (tests/test_tokenize.py)."""
    data = [(list(s), int(c)) for s, c in rows]
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pc: dict[tuple[str, str], int] = {}
        for syms, c in data:
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] = pc.get((x, y), 0) + c
        if not pc:
            break
        a, b = min(pc, key=lambda k: (-pc[k], k[0], k[1]))
        merges.append((a, b, pc[(a, b)]))
        merged = a + b
        for i, (syms, c) in enumerate(data):
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = merged
                else:
                    out.append(s)
            data[i] = (out, c)
    return merges


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 16,
    num_partitions: int | None = None,
    histogram: DataFrame | None = None,
    local_vocab_limit: int = 1_000_000,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges from the corpus → ordered list of
    ``(left, right, pair_count)``, rank = list position.

    The merge list itself is the bounded driver-side artifact (one row
    per merge — this is the model being trained, like k-means
    centroids), never the histogram. Pass ``histogram=`` to reuse a
    precomputed/persisted ``(word, count)`` table.

    Adaptive execution (the broadcast-threshold idea applied to
    training): the ONE corpus-scale pass — the word histogram — always
    runs distributed; when the resulting vocabulary has at most
    ``local_vocab_limit`` rows (known for free from the checkpoint
    materialization), the merge ITERATION runs driver-side over the
    collected histogram — a bounded, vocabulary-sized collect, the same
    class of driver artifact as the merge table itself — eliminating
    ~2 job waves per merge of fixed scheduler cost. Above the limit
    (web-scale vocabularies, Heaps' law at 10^12 docs) every round
    stays on the cluster. Both paths are the same algorithm with the
    same deterministic tie-breaks and produce identical merges
    (property-tested); set ``local_vocab_limit=0`` to force the
    distributed path.
    """
    spark = docs.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    hist = histogram if histogram is not None else word_histogram(docs, text_col)
    hist = (
        hist.select(_symbols(F.col("word")).alias("syms"), "count")
        .repartition(p, "syms")
        .localCheckpoint()
    )
    if hist.count() <= local_vocab_limit:
        return _bpe_train_local(
            [(r["syms"], r["count"]) for r in hist.collect()], num_merges
        )
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pairs = (
            hist.where(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("a"),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("b"),
                    )
                ).alias("pr"),
                "count",
            )
            .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .agg(F.sum("count").alias("cnt"))
        )
        # deterministic argmax: one aggregate, no global sort
        top = pairs.agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), "a", "b")).alias("t")
        ).first()["t"]
        if top is None:
            break  # every word is a single symbol — nothing left to merge
        a, b, cnt = top["a"], top["b"], -top["nc"]
        merges.append((a, b, int(cnt)))
        merged = a + b
        has_pair = F.exists(
            F.arrays_zip(
                F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("x"),
                F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("y"),
            ),
            lambda s: (s["x"] == F.lit(a)) & (s["y"] == F.lit(b)),
        )
        # left-to-right single-pass merge as a fold: greedy, non-
        # overlapping ('aaa' + merge(a,a) → ['aa','a']) — the classic
        # BPE replacement — expressed JVM-side with F.aggregate so the
        # hot path stays in codegen
        def _apply(syms: Column) -> Column:
            return F.aggregate(
                syms,
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (s == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            )

        hist = hist.select(
            F.when(has_pair, _apply(F.col("syms")))
            .otherwise(F.col("syms"))
            .alias("syms"),
            "count",
        ).localCheckpoint(eager=False)
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first merge loop — the canonical BPE encoder."""
    syms = list(word) + [EOW]
    while len(syms) >= 2:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: Iterable[tuple[str, str, int]] | Iterable[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Adds ``out_col: array<string>`` — the BPE tokenization of
    ``text_col`` under the trained ``merges`` (rank = position).

    The merge table rides the closure (vocab-sized — the broadcast-side
    of this operator); the per-batch word cache turns Zipf repetition
    into dict hits, so cost is per DISTINCT word per batch."""
    ranks = {(m[0], m[1]): i for i, m in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def _enc(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def run(t):
            out: list[str] = []
            for w in (t or "").split():
                toks = cache.get(w)
                if toks is None:
                    toks = _encode_word(w, ranks)
                    cache[w] = toks
                out.extend(toks)
            return out

        return texts.map(run)

    return docs.withColumn(out_col, _enc(F.col(text_col)))


# ---------------------------------------------------------------------
# Unigram-LM tokenizer (round 4) — the SentencePiece counterpart to BPE
# (Kudo 2018, "Subword Regularization"), trained over the SAME word
# histogram. Deviation, chosen for pinnability and documented here:
# HARD (Viterbi) EM instead of soft EM — the E-step segments each word
# with the current piece probabilities and counts pieces along the ONE
# best path, so expected counts are exact INTEGERS (freq-weighted
# occurrence counts). Integer counts are partitioning-invariant, which
# makes the trained vocabulary oracle-pinnable the same way the BPE
# merge table is; soft EM's float posteriors would drift with shuffle
# order at 1 ulp. Hard EM maximizes the Viterbi likelihood (both steps
# are argmaxes of the same objective ⇒ monotone, tested), a standard
# simplification of Kudo's soft EM.
#
# Scale shape: the seed inventory is ONE substring-explode + groupBy
# over the histogram (JVM-side `sequence`/`transform`, no UDF); each EM
# iteration is one Arrow-batched Viterbi pass over DISTINCT words with
# the piece log-probs broadcast (vocab-sized), followed by one
# map-side-combined piece-count groupBy and a vocab-sized collect for
# the M-step. Single-character pieces are never pruned — every word
# remains segmentable (lossless coverage).
# ---------------------------------------------------------------------


def _viterbi_pieces(
    word: str, logp: dict[str, float], max_len: int
) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs: maximize
    Σ logp(piece); ties prefer the segmentation whose LAST piece is
    longest (i.e., smaller split point wins), resolved left-to-right by
    the DP's strict-> comparison. Unknown single chars fall back to a
    floor score so coverage never fails."""
    n = len(word)
    floor = min(logp.values(), default=-10.0) - 10.0
    best = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            piece = word[i:j]
            s = logp.get(piece)
            if s is None:
                if j - i > 1:
                    continue
                s = floor  # unknown single char
            cand = best[i] + s
            if cand > best[j]:
                best[j] = cand
                back[j] = i
    out = []
    j = n
    while j > 0:
        i = back[j]
        out.append(word[i:j])
        j = i
    return out[::-1]


def unigram_train(
    hist: DataFrame,
    vocab_size: int = 1000,
    max_piece_len: int = 6,
    seed_size: int = 8000,
    n_iter: int = 4,
    local_vocab_limit: int = 1_000_000,
) -> DataFrame:
    """Train the unigram-LM piece vocabulary over a ``(word, count)``
    histogram → DataFrame ``(piece, count, logprob)`` of exactly
    ``min(vocab_size, |inventory|)`` pieces (all single chars always
    included). See the module-level note for the hard-EM design and its
    scale shape.

    Adaptive execution (same policy as :func:`bpe_train`): with at most
    ``local_vocab_limit`` histogram rows, the seed inventory and every
    EM iteration run driver-side over the collected histogram — a
    bounded vocabulary-sized collect replacing ~2 job waves per
    iteration of fixed scheduler cost; larger vocabularies keep the
    distributed mapInPandas E-step. Identical arithmetic either way
    (the SAME ``_viterbi_pieces`` kernel and tie-breaks), so the
    trained vocabulary is path-invariant (property-tested). Set
    ``local_vocab_limit=0`` to force the distributed path."""
    import math

    spark = hist.sparkSession
    mpl = max_piece_len
    # checkpoint the histogram BEFORE the size gate (same as bpe_train): the
    # count() materializes the checkpoint, so the local path's collect
    # and the distributed path's per-iteration reuse both read the
    # materialized rows instead of re-running the histogram subtree
    hist = hist.localCheckpoint()
    local_rows = None
    if local_vocab_limit and hist.count() <= local_vocab_limit:
        local_rows = [
            (r["word"], int(r["count"])) for r in hist.collect()
        ]
    # ---- seed inventory: every substring ≤ max_piece_len, freq-weighted
    if local_rows is not None:
        sc: dict = {}
        for w, c in local_rows:
            L = len(w)
            for i in range(L):
                for j in range(i + 1, min(L, i + mpl) + 1):
                    piece = w[i:j]
                    sc[piece] = sc.get(piece, 0) + c
        multis = sorted(
            ((p, c) for p, c in sc.items() if len(p) > 1),
            key=lambda x: (-x[1], x[0]),
        )[:seed_size]
        vocab = {p: c for p, c in sc.items() if len(p) == 1}
        vocab.update(dict(multis))
    else:
        subs = hist.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(word)), i -> "
                    f"transform(sequence(i, least(length(word), i + {max_piece_len - 1})), "
                    "j -> substring(word, i, j - i + 1))))"
                )
            ).alias("piece"),
            F.col("count"),
        ).groupBy("piece").agg(F.sum("count").alias("count"))
        chars = subs.where(F.length("piece") == 1)
        multi = (
            subs.where(F.length("piece") > 1)
            .orderBy(F.col("count").desc(), "piece")
            .limit(seed_size)
        )
        vocab = {
            r["piece"]: int(r["count"])
            for r in chars.unionByName(multi).collect()
        }

    def _logp(counts: dict) -> dict:
        total = sum(counts.values())
        return {p: math.log(c / total) for p, c in counts.items() if c > 0}

    logp = _logp(vocab)
    for it in range(n_iter):
        if local_rows is not None:
            agg0: dict = {}
            for word, cnt in local_rows:
                for piece in _viterbi_pieces(word, logp, mpl):
                    agg0[piece] = agg0.get(piece, 0) + cnt
            counts = agg0
        else:
            b = spark.sparkContext.broadcast(logp)

            def estep(batches):
                lp = b.value
                for pdf in batches:
                    agg: dict = {}
                    for word, cnt in pdf[["word", "count"]].itertuples(
                        index=False, name=None
                    ):
                        for piece in _viterbi_pieces(word, lp, mpl):
                            agg[piece] = agg.get(piece, 0) + int(cnt)
                    yield pd.DataFrame(
                        {"piece": list(agg), "n": list(agg.values())}
                    )

            counts = {
                r["piece"]: int(r["n"])
                for r in hist.mapInPandas(estep, "piece string, n long")
                .groupBy("piece")
                .agg(F.sum("n").alias("n"))
                .collect()
            }
        # coverage floor: single chars survive with count ≥ 1
        new = {}
        for p in vocab:
            c = counts.get(p, 0)
            if len(p) == 1:
                c = max(c, 1)
            if c > 0:
                new[p] = c
        # prune to vocab_size on the last iteration (keep all single
        # chars; multi-char pieces by (count desc, piece asc))
        if it == n_iter - 1:
            singles = {p: c for p, c in new.items() if len(p) == 1}
            multis = sorted(
                ((p, c) for p, c in new.items() if len(p) > 1),
                key=lambda x: (-x[1], x[0]),
            )
            keep = max(0, vocab_size - len(singles))
            new = dict(singles)
            new.update(dict(multis[:keep]))
        vocab = new
        logp = _logp(vocab)
        if local_rows is None:
            b.unpersist()
    rows = sorted(vocab.items(), key=lambda x: (-x[1], x[0]))
    total = sum(vocab.values())
    import math as _m

    return spark.createDataFrame(
        [(p, c, _m.log(c / total)) for p, c in rows],
        "piece string, count long, logprob double",
    )


def unigram_encode(
    df: DataFrame,
    text_col: str,
    vocab: DataFrame | dict,
    max_piece_len: int = 6,
    out_col: str = "pieces",
) -> DataFrame:
    """Viterbi-segment every whitespace word of ``text_col`` with the
    trained piece log-probs (broadcast, vocab-sized) → array<string>
    column of pieces. Arrow-batched with a per-batch word cache, same
    amortization as ``bpe_encode``; unknown characters fall back to the
    floor score (lossless: concat(pieces per word) == word)."""
    if isinstance(vocab, DataFrame):
        logp = {
            r["piece"]: float(r["logprob"]) for r in vocab.collect()
        }
    else:
        logp = dict(vocab)
    spark = df.sparkSession
    b = spark.sparkContext.broadcast(logp)
    mpl = max_piece_len

    def run(batches):
        lp = b.value
        cache: dict = {}
        for pdf in batches:
            out = []
            for text in pdf["__t"]:
                pieces: list = []
                # null text → [] (same contract as bpe_encode's `t or ""`;
                # str(None) would tokenize the literal word "None")
                for w in (text.split() if isinstance(text, str) else []):
                    got = cache.get(w)
                    if got is None:
                        got = _viterbi_pieces(w, lp, mpl)
                        cache[w] = got
                    pieces.extend(got)
                out.append(pieces)
            pdf = pdf.drop(columns="__t")
            pdf["__pieces"] = out
            yield pdf

    cols = df.columns
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out = df.withColumn("__t", F.col(text_col)).mapInPandas(
        run, f"{schema}, __pieces array<string>"
    )
    return out.select(*cols, F.col("__pieces").alias(out_col))
