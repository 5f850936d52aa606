"""Distributed TransE training (Bordes et al., "Translating Embeddings
for Modeling Multi-relational Data", NeurIPS 2013) — the training stage
between the package's existing KG-embedding endpoints:
``operators/graph.py:negative_triples`` (the sampling protocol) and
``transe_rank_eval`` (the filtered MRR/Hits@k evaluation). With this,
the engine covers the full loop: materialized triples → trained
embeddings → ANN / near-dup / link-prediction consumers.

Faithful to the paper's Algorithm 1:

* score: L2 distance ‖h + r − t‖ (the paper's d, L2 variant);
* margin ranking loss max(0, γ + d(pos) − d(neg)) with per-triple SGD;
* corruption: replace head OR tail with a uniform entity (the side and
  the entity come from a DERANDOMIZED md5 draw per (triple, epoch) —
  the package convention, so runs are reproducible across
  partitionings; the paper's training S' does NOT filter true triples,
  and neither does this — filtering is an EVALUATION concept,
  implemented in transe_rank_eval);
* constraint: entity embeddings renormalized to unit L2 at each epoch
  start; relations normalized once at init;
* init: uniform(−6/√k, 6/√k), seeded.

Distribution strategy: iterative parameter mixing (McDonald, Hall &
Mann, NAACL 2010) — the same AllReduce-free shape as
``model/spark_train.py:ipm``: each epoch the current parameters are
broadcast, every partition runs a sequential SGD pass over ITS shard
(deterministic per-(seed, epoch, partition) visit order), and the
partition copies are averaged weighted by triple count. One shuffle-free
``mapInPandas`` pass + one vocabulary-sized driver reduce per epoch;
the triple table is never collected. With ``n_parts=1`` the mix is a
no-op and the result equals the sequential reference EXACTLY
(tested update-for-update) — the package's standard distributed-trainer
correctness anchor.

Scale honesty: parameters are O((|E| + |R|)·dim) and ride a broadcast —
fine up to ~10^7 entities at dim 50; beyond that TransE training needs
a parameter server or entity-sharded negatives, which is out of scope
and documented here rather than pretended.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


__all__ = ["transe_init", "transe_sgd_pass", "transe_train"]


def _draw(h: int, r: int, t: int, epoch: int, n_ent: int) -> tuple[int, int]:
    """Derandomized corruption draw: (side, replacement entity).
    side 0 = corrupt tail, 1 = corrupt head."""
    d = hashlib.md5(f"{h}|{r}|{t}|{epoch}".encode()).hexdigest()
    side = int(d[0], 16) & 1
    ent = int(d[1:16], 16) % n_ent
    return side, ent


def transe_init(n_ent: int, n_rel: int, dim: int, seed: int = 1):
    """Paper init: uniform(−6/√k, 6/√k); relations L2-normalized once."""
    rng = np.random.RandomState(seed)
    b = 6.0 / np.sqrt(dim)
    ent = rng.uniform(-b, b, size=(n_ent, dim)).astype(np.float64)
    rel = rng.uniform(-b, b, size=(n_rel, dim)).astype(np.float64)
    rel /= np.maximum(np.linalg.norm(rel, axis=1, keepdims=True), 1e-12)
    return ent, rel


def transe_sgd_pass(
    ent: np.ndarray,
    rel: np.ndarray,
    triples: np.ndarray,
    order: np.ndarray,
    epoch: int,
    lr: float,
    margin: float,
) -> float:
    """One sequential SGD pass over ``triples`` (int index array (n,3))
    in the given visit order, updating ``ent``/``rel`` IN PLACE.
    Returns the summed margin-ranking loss. Pure NumPy, one triple at a
    time — bit-identical to any other executor visiting the same order,
    which is what makes the 1-partition Spark run == this function."""
    n_ent = ent.shape[0]
    total = 0.0
    for i in order:
        h, r, t = (int(v) for v in triples[i])
        side, cand = _draw(h, r, t, epoch, n_ent)
        hn, tn = (h, cand) if side == 0 else (cand, t)
        d_pos_v = ent[h] + rel[r] - ent[t]
        d_neg_v = ent[hn] + rel[r] - ent[tn]
        d_pos = float(np.sqrt((d_pos_v * d_pos_v).sum()))
        d_neg = float(np.sqrt((d_neg_v * d_neg_v).sum()))
        loss = margin + d_pos - d_neg
        if loss <= 0.0:
            continue
        total += loss
        # subgradients of the L2 norms
        g_pos = d_pos_v / max(d_pos, 1e-12)
        g_neg = d_neg_v / max(d_neg, 1e-12)
        ent[h] -= lr * g_pos
        ent[t] += lr * g_pos
        rel[r] -= lr * (g_pos - g_neg)
        ent[hn] += lr * g_neg
        ent[tn] -= lr * g_neg
    return total


def _normalize_entities(ent: np.ndarray) -> None:
    ent /= np.maximum(np.linalg.norm(ent, axis=1, keepdims=True), 1e-12)


def _visit_order(n: int, seed: int, epoch: int, pid: int) -> np.ndarray:
    rng = np.random.RandomState(
        (seed * 1_000_003 + epoch * 9_973 + pid) % 2**31
    )
    order = np.arange(n)
    rng.shuffle(order)
    return order


def transe_train(
    triples: DataFrame,
    dim: int = 32,
    epochs: int = 20,
    lr: float = 0.01,
    margin: float = 1.0,
    n_parts: int | None = None,
    seed: int = 1,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
):
    """Train TransE over a (subj, pred, obj) triples DataFrame.

    Returns ``(entities_df, relations_df, losses)`` where the DataFrames
    are ``(entity|relation string, vec array<double>)`` — the embedding
    shape every ANN / near-dup operator in this package consumes — and
    ``losses`` is the per-epoch summed loss (count-weighted mix of the
    partition passes; monotone-ish decrease is the health signal).

    Entity/relation ids are the LEXICOGRAPHIC rank of the string (same
    bounded-vocabulary rank-sort argument as negative_triples' pool).
    Each epoch: entities renormalized (paper constraint), parameters
    broadcast, one ``mapInPandas`` over the repartitioned triple table
    (each partition = one sequential SGD pass in a deterministic
    per-(seed, epoch, partition) order), count-weighted average of the
    partition copies. Deterministic: same input + seed + n_parts ⇒
    bit-identical embeddings, any cluster layout (partition CONTENTS
    are pinned by a hash repartition on the triple key).
    """
    spark = triples.sparkSession
    from pyspark.sql import functions as F

    tri = (
        triples.select(
            F.col(subj).cast("string").alias("h"),
            F.col(pred).cast("string").alias("r"),
            F.col(obj).cast("string").alias("t"),
        )
        .distinct()
    )
    ents = sorted(
        r[0]
        for r in tri.select("h").union(tri.select("t")).distinct().collect()
    )
    rels = sorted(r[0] for r in tri.select("r").distinct().collect())
    e2i = {e: i for i, e in enumerate(ents)}
    r2i = {r: i for i, r in enumerate(rels)}
    ent, rel = transe_init(len(ents), len(rels), dim, seed)
    p = n_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # fix partition CONTENTS: hash of the triple key, independent of
    # input layout — determinism across repartitionings of the caller
    idx = (
        tri.withColumn(
            "pid",
            F.pmod(F.xxhash64(F.concat_ws("|", "h", "r", "t")), F.lit(p)),
        )
        .repartition(p, "pid")
        .localCheckpoint()
    )
    sc = spark.sparkContext
    losses = []
    for epoch in range(epochs):
        _normalize_entities(ent)
        bc = sc.broadcast(
            {"ent": ent, "rel": rel, "e2i": e2i, "r2i": r2i}
        )

        def kernel(batches):
            from pyspark import TaskContext

            params = bc.value
            ent_l = params["ent"].copy()
            rel_l = params["rel"].copy()
            e2i_l, r2i_l = params["e2i"], params["r2i"]
            rows = []
            for pdf in batches:
                for h, r, t in zip(pdf["h"], pdf["r"], pdf["t"]):
                    rows.append((e2i_l[h], r2i_l[r], e2i_l[t]))
            # canonical in-shard order: shuffle-fetch order is not
            # contractual across sessions, the sorted list is — the
            # deterministic visit permutation then applies to a
            # deterministic base order
            rows.sort()
            arr = np.asarray(rows, dtype=np.int64).reshape(-1, 3)
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            loss = transe_sgd_pass(
                ent_l, rel_l, arr,
                _visit_order(len(rows), seed, epoch, pid), epoch,
                lr, margin,
            )
            blob = np.concatenate([ent_l.ravel(), rel_l.ravel()])
            yield pd.DataFrame(
                {
                    "n": [len(rows)],
                    "loss": [loss],
                    "blob": [blob.tobytes()],
                }
            )

        parts = idx.mapInPandas(
            kernel, "n long, loss double, blob binary"
        ).collect()
        bc.unpersist()
        tot = sum(r["n"] for r in parts)
        acc = np.zeros(ent.size + rel.size, dtype=np.float64)
        for r in parts:
            if r["n"] == 0:
                continue
            acc += np.frombuffer(r["blob"], dtype=np.float64) * (
                r["n"] / tot
            )
        ent = acc[: ent.size].reshape(ent.shape).copy()
        rel = acc[ent.size:].reshape(rel.shape).copy()
        losses.append(float(sum(r["loss"] for r in parts)))
    ent_df = spark.createDataFrame(
        [(e, [float(v) for v in ent[i]]) for e, i in e2i.items()],
        "entity string, vec array<double>",
    )
    rel_df = spark.createDataFrame(
        [(r, [float(v) for v in rel[i]]) for r, i in r2i.items()],
        "relation string, vec array<double>",
    )
    return ent_df, rel_df, losses
