"""NER stage: sentences → token labels → mentions (SURVEY.md §2.7 M1-M4,
§3.2 inference chain).

``extract_mentions`` takes the distinct sentence texts, spreads them
over ``spark.sql.shuffle.partitions`` tasks and runs one ``mapInPandas``
kernel over them, then joins the spans back to every sentence on its
text. Inside each Arrow batch of distinct texts:

1. encode every sentence (featurizer + dict lookup — string work, pure
   Python but O(tokens), no Spark round-trips);
2. bucket sentences by length and run the CRF decode VECTORIZED across
   each bucket (``decode_batch``; mirrors the reference's batched
   recursion, neural_lib.py:637-646) — the O(T·K²) DP never crosses the
   Python/row boundary;
3. emit mention rows from BIO spans (sighan_ner.py:404-443 chunking).

Weights ship to executors as a module-level lazy singleton keyed by path
(loaded from an ``--py-files``/``SparkFiles`` artifact or an absolute
path). Loading once per executor ≪ broadcasting a Python object per task.

Length-1 sentences reproduce the reference's ``[0]``-label quirk
(crf_ner.py:28) inside ``classify_batch``.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..model.crf import decode_batch, pad_features
from ..model.features import encode_sentence
from ..model.weights import NerWeights

LABELS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("span_idx", IntegerType()),
        StructField("sent_idx", IntegerType()),
        StructField("labels_json", StringType()),
    ]
)

_WEIGHTS_CACHE: dict = {}
_GC_FROZEN = False


def _freeze_gc() -> None:
    """Called once per worker process before heavy allocation.

    Spark python workers are forked from a daemon with a large inherited
    heap; the first big GC pass touches every inherited object's header,
    copy-on-write-unsharing the whole heap across all workers at once (a
    multi-second stall at 32 workers on this VM). ``gc.freeze()`` parks
    the inherited objects in the permanent generation so collections
    never touch them."""
    global _GC_FROZEN
    if not _GC_FROZEN:
        import gc

        gc.freeze()
        _GC_FROZEN = True


def _load_weights(path: str) -> NerWeights:
    _freeze_gc()
    w = _WEIGHTS_CACHE.get(path)
    if w is None:
        # "file.npz#mode=charpos" overrides the artifact's representation
        # mode at load time — e.g. the joint fixture is trained on
        # pre-charpos-tokenized text (mode=char) but raw-text pipelines
        # consume it through the segmenter (mode=charpos); same token
        # space either way.
        mode_override = None
        resolved = path
        if "#mode=" in path:
            resolved, mode_override = path.split("#mode=", 1)
        try:
            import os

            if not os.path.exists(resolved):
                from pyspark import SparkFiles

                cand = SparkFiles.get(os.path.basename(resolved))
                if os.path.exists(cand):
                    resolved = cand
        except Exception:
            pass
        # auto-detect the artifact flavor: joint CWS+NER npz files carry
        # the lstm_w key (model/joint.py), plain CRF files don't — one
        # weights_path config drives either model through the same stage
        z = np.load(resolved, allow_pickle=False)
        is_joint = "lstm_w" in z.files
        z.close()
        if is_joint:
            from ..model.joint import JointWeights

            w = JointWeights.load(resolved)
        else:
            w = NerWeights.load(resolved)
        if mode_override:
            w.mode = mode_override
        _WEIGHTS_CACHE[path] = w
    return w


def classify_batch(weights, texts: List[Optional[str]]) -> List[List[str]]:
    """Vectorized classify of a batch of sentence strings → label strings.

    Equivalent to per-sentence ``NerWeights.classify`` (tested), but the
    CRF recursion runs batched per length bucket; a null text is empty.
    Joint CWS+NER weights (model/joint.py) route through their own
    per-sentence LSTM+CRF path.
    """
    texts = [text or "" for text in texts]
    if hasattr(weights, "classify_ner"):  # joint model
        return [weights.classify_ner(list(t)) for t in texts]
    idx2label = weights.idx2label
    pad_id = weights.pad_id
    out: List[Optional[List[str]]] = [None] * len(texts)

    # encode, compute emissions per sentence (ragged), bucket by length
    buckets: dict = {}
    for i, text in enumerate(texts):
        chars = list(text)
        t_len = len(chars)
        if t_len == 0:
            out[i] = []
            continue
        if t_len == 1:
            out[i] = [idx2label[0]]
            continue
        feat_ids, word_ids = encode_sentence(
            chars, weights.features2idx, weights.words2idx, weights.mode
        )
        fp = pad_features(feat_ids, pad_id)
        em = weights.w_feat[fp].sum(axis=1)
        if weights.use_emb:
            em = em + weights.w_emb[np.asarray(word_ids)] @ weights.lin_n + weights.lin_b
        buckets.setdefault(t_len, []).append((i, em.astype(np.float32)))

    for t_len, items in buckets.items():
        ems = np.stack([em for _, em in items])
        lengths = np.full(len(items), t_len, dtype=np.int64)
        paths = decode_batch(ems, lengths, weights.a, weights.viterbi)
        for (i, _), path in zip(items, paths):
            out[i] = [idx2label[int(p)] for p in path]
    return out  # type: ignore[return-value]


def warm_workers(spark, weights_path: str, n_tasks: int | None = None) -> None:
    """Pre-fork python workers and prime their weight caches.

    One tiny task per core: each forked worker loads the model once, so
    the first real NER job hits warm processes (on a long-lived cluster
    this happens naturally; benchmarks call it explicitly to measure
    steady state rather than the one-time fork/load storm)."""
    import pandas as _pd

    n = n_tasks or int(spark.sparkContext.defaultParallelism)

    def load(batches):
        _load_weights(weights_path)
        total = sum(len(b) for b in batches)
        yield _pd.DataFrame({"n": [total]})

    # twice: the daemon's idle-worker pool only stabilizes after the first
    # job's workers have been released back (observed: job 2 still forks)
    for _ in range(2):
        spark.range(0, n * 4, numPartitions=n).mapInPandas(load, "n long").count()


def extract_mentions(sentences: DataFrame, weights_path: str) -> DataFrame:
    """sentences(doc_id, span_idx, sent_idx, text, ...) → mentions.

    The kernel runs once per DISTINCT sentence text and its spans fan
    back out to every sentence with that text: web corpora repeat
    boilerplate heavily, and the kernel is deterministic per text. The
    distinct, the repartition and the fan-out join are all keyed on the
    text itself, so no two texts can share a result. ``start``/``end``
    are char offsets WITHIN the sentence; global doc offsets are
    ``offset + start``.

    The texts are hash-repartitioned to ``spark.sql.shuffle.partitions``
    and the distinct runs on that layout, with no shuffle of its own.
    The kernel's cost is per sentence, not per byte, while AQE sizes an
    aggregate's shuffle by bytes and would coalesce a corpus of short
    sentences into a single kernel task; AQE never coalesces a
    repartition with an explicit partition count, so every core runs
    the kernel. (A repartition AFTER the distinct would be dropped by
    the planner: the distinct's own exchange already hash-partitions on
    the text with that count.)"""
    from ..model.evaluation import bio_spans

    per_text_schema = StructType(
        [
            StructField("text", StringType()),
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("surface", StringType()),
            StructField("etype", StringType()),
            StructField("ntype", StringType()),
        ]
    )

    n = int(sentences.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    distinct = sentences.select("text").repartition(n, "text").distinct()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = _load_weights(weights_path)
        for pdf in batches:
            texts = pdf["text"].tolist()
            rows = []
            for text, labs in zip(texts, classify_batch(w, texts)):
                for s, e, etype, ntype in bio_spans(labs):
                    rows.append((text, s, e, text[s:e], etype, ntype))
            yield pd.DataFrame(
                rows, columns=[f.name for f in per_text_schema.fields]
            )

    per_text = distinct.mapInPandas(run, per_text_schema)
    # fan-out join left to the planner (round 6 note): locally the
    # known-size sentences side fits the broadcast threshold and the
    # planner broadcasts it — measured FASTER here than forcing a
    # shuffled-hash join (a shuffle_hash hint cost two 40 MiB exchanges
    # and AQE coalesced the compute-heavy probe stage to 14 tasks); at
    # web scale the sentences side blows past the threshold and the
    # same plan degrades gracefully to a shuffled join on the text.
    # The threshold check IS the scale adaptivity.
    return sentences.join(per_text, "text").select(
        "doc_id", "span_idx", "sent_idx", "start", "end", "surface",
        "etype", "ntype",
    )


def tag_sentences(sentences: DataFrame, weights_path: str) -> DataFrame:
    """Debug/parity variant: per-sentence predicted label sequence (JSON)."""
    import json

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = _load_weights(weights_path)
        for pdf in batches:
            labels = classify_batch(w, pdf["text"].tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "span_idx": pdf["span_idx"],
                    "sent_idx": pdf["sent_idx"],
                    "labels_json": [json.dumps(l, ensure_ascii=False) for l in labels],
                }
            )

    return sentences.mapInPandas(run, LABELS_SCHEMA)


def mentions_with_ids(mentions: DataFrame) -> DataFrame:
    """Stable mention_id + global offsets; still narrow."""
    return mentions.withColumn(
        "mention_id",
        F.concat_ws(
            "#",
            "doc_id",
            F.col("span_idx").cast("string"),
            F.col("sent_idx").cast("string"),
            F.col("start").cast("string"),
            F.col("end").cast("string"),
        ),
    )
