"""Distributed TransE training (model/transe.py): update-rule math
checked against an independent hand transcription of Bordes Alg. 1,
the 1-partition Spark run checked update-for-update against the
sequential kernel (the package's distributed-trainer anchor), and the
trained embeddings checked to actually rank true tails above corrupted
ones via the existing filtered evaluation operator."""

import numpy as np
import pytest

from golden_horse_spark.model.transe import (
    _draw,
    _visit_order,
    transe_init,
    transe_sgd_pass,
    transe_train,
)

KG = [
    # two families of 'lives_in' facts plus a friendship clique — a
    # translation-friendly pattern (each person maps to one city)
    *[(f"a{i}", "lives_in", f"b{i}") for i in range(5)],
    *[(f"a{i}", "friend", f"a{(i + 1) % 5}") for i in range(5)],
    *[(f"b{i}", "near", f"b{(i + 1) % 5}") for i in range(5)],
]


def test_single_update_matches_hand_math():
    # one triple, margin big enough to force an update; verify the
    # subgradient step against a from-the-paper transcription
    ent, rel = transe_init(3, 1, 4, seed=7)
    e0, r0 = ent.copy(), rel.copy()
    tri = np.array([[0, 0, 1]])
    loss = transe_sgd_pass(
        ent, rel, tri, np.array([0]), epoch=0, lr=0.1, margin=5.0
    )
    side, cand = _draw(0, 0, 1, 0, 3)
    hn, tn = (0, cand) if side == 0 else (cand, 1)
    dp = e0[0] + r0[0] - e0[1]
    dn = e0[hn] + r0[0] - e0[tn]
    npos, nneg = np.linalg.norm(dp), np.linalg.norm(dn)
    assert abs(loss - (5.0 + npos - nneg)) < 1e-12
    gp, gn = dp / npos, dn / nneg
    want = e0.copy()
    want[0] -= 0.1 * gp
    want[1] += 0.1 * gp
    want[hn] += 0.1 * gn
    want[tn] -= 0.1 * gn
    assert np.allclose(ent, want, atol=1e-12)
    assert np.allclose(rel[0], r0[0] - 0.1 * (gp - gn), atol=1e-12)


def test_no_update_when_margin_satisfied():
    ent, rel = transe_init(4, 1, 4, seed=3)
    # force positive distance 0: t = h + r exactly
    ent[1] = ent[0] + rel[0]
    e0 = ent.copy()
    loss = transe_sgd_pass(
        ent,
        rel,
        np.array([[0, 0, 1]]),
        np.array([0]),
        epoch=0,
        lr=0.1,
        margin=0.0,
    )
    # margin 0 and d_pos = 0 ≤ d_neg ⇒ no loss, no movement
    assert loss == 0.0
    assert np.array_equal(ent, e0)


def test_one_partition_equals_sequential(spark):
    tdf = spark.createDataFrame(KG, "subj string, pred string, obj string")
    ent_df, rel_df, losses = transe_train(
        tdf, dim=8, epochs=3, lr=0.05, n_parts=1, seed=11
    )
    got_ent = {r["entity"]: np.array(r["vec"]) for r in ent_df.collect()}
    # sequential reference: same init, same normalize/mix schedule
    ents = sorted({t[0] for t in KG} | {t[2] for t in KG})
    rels = sorted({t[1] for t in KG})
    e2i = {e: i for i, e in enumerate(ents)}
    r2i = {r: i for i, r in enumerate(rels)}
    ent, rel = transe_init(len(ents), len(rels), 8, seed=11)
    tri = np.array(
        sorted((e2i[h], r2i[r], e2i[t]) for h, r, t in set(KG))
    )
    ref_losses = []
    for epoch in range(3):
        ent /= np.maximum(np.linalg.norm(ent, axis=1, keepdims=True), 1e-12)
        loss = transe_sgd_pass(
            ent, rel, tri, _visit_order(len(tri), 11, epoch, 0), epoch,
            0.05, 1.0,
        )
        ref_losses.append(loss)
    for e, i in e2i.items():
        assert np.allclose(got_ent[e], ent[i], atol=1e-12), e
    assert np.allclose(losses, ref_losses, atol=1e-9)


def test_loss_decreases_and_eval_beats_random(spark):
    from golden_horse_spark.operators.graph import transe_rank_eval

    tdf = spark.createDataFrame(KG, "subj string, pred string, obj string")
    ent_df, rel_df, losses = transe_train(
        tdf, dim=16, epochs=60, lr=0.05, n_parts=2, seed=5
    )
    # health: late-phase loss well below the early phase
    assert np.mean(losses[-5:]) < 0.6 * np.mean(losses[:5])
    # filtered tail ranking of the lives_in facts with the TRAINED
    # embeddings: MRR must beat the uniform-guess baseline by a wide
    # margin (10 entities; random MRR ≈ 0.29)
    test = spark.createDataFrame(
        [t for t in KG if t[1] == "lives_in"],
        "subj string, pred string, obj string",
    )
    ranks = transe_rank_eval(
        test,
        ent_df.withColumnRenamed("entity", "node"),
        rel_df.withColumnRenamed("relation", "node"),
        known=tdf,
    )
    rs = [r["rank"] for r in ranks.collect()]
    mrr = sum(1.0 / r for r in rs) / len(rs)
    assert mrr > 0.5, mrr


def test_determinism_two_runs_identical(spark):
    tdf = spark.createDataFrame(KG, "subj string, pred string, obj string")
    a = transe_train(tdf, dim=6, epochs=2, n_parts=3, seed=2)
    b = transe_train(tdf, dim=6, epochs=2, n_parts=3, seed=2)
    va = sorted((r["entity"], tuple(r["vec"])) for r in a[0].collect())
    vb = sorted((r["entity"], tuple(r["vec"])) for r in b[0].collect())
    assert va == vb
    assert a[2] == b[2]
