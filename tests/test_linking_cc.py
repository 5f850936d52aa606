"""Entity linking, salted aggregation, connected components."""

import pytest
from pyspark.sql import functions as F

from golden_horse_spark.operators.canonicalize import (
    canonical_entities,
    connected_components,
)
from golden_horse_spark.operators.linking import (
    exact_candidates,
    generate_candidates,
    score_links,
)
from golden_horse_spark.operators.salting import salted_agg, surface_form_counts

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def aliases(spark):
    return spark.createDataFrame(
        [
            ("张三", "e1", 0.7),
            ("张三", "e2", 0.3),
            ("北京", "e3", 1.0),
            ("清华大学", "e4", 1.0),
        ],
        "surface_form string, entity_id string, prior double",
    )


@pytest.fixture(scope="module")
def mentions(spark):
    return spark.createDataFrame(
        [
            ("m1", "张三"),
            ("m2", "北京"),
            ("m3", "清华大学"),
            ("m4", "张三"),
            ("m5", "没有的词"),
        ],
        "mention_id string, surface string",
    )


def test_exact_candidates_broadcast_join(mentions, aliases):
    cands = exact_candidates(mentions, aliases)
    got = {(r["mention_id"], r["entity_id"]) for r in cands.collect()}
    assert got == {("m1", "e1"), ("m1", "e2"), ("m4", "e1"), ("m4", "e2"),
                   ("m2", "e3"), ("m3", "e4")}
    # physical plan must contain a broadcast hash join, not a shuffle join
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_score_links_top1_deterministic(mentions, aliases):
    links = score_links(exact_candidates(mentions, aliases))
    got = {r["mention_id"]: r["entity_id"] for r in links.collect()}
    assert got == {"m1": "e1", "m4": "e1", "m2": "e3", "m3": "e4"}


def test_score_links_doc_coherence_flips_prior(spark):
    """Collective linking: an entity supported by other mentions in the
    same document beats a higher-prior but unsupported candidate."""
    aliases = spark.createDataFrame(
        [
            ("华盛顿", "per_washington", 0.6),  # prior favors the person
            ("华盛顿", "gpe_washington", 0.4),
            ("白宫", "gpe_washington", 1.0),   # co-mention anchors the GPE
        ],
        "surface_form string, entity_id string, prior double",
    )
    mentions = spark.createDataFrame(
        [("m1", "d1", "华盛顿"), ("m2", "d1", "白宫"), ("m3", "d2", "华盛顿")],
        "mention_id string, doc_id string, surface string",
    )
    cands = exact_candidates(mentions, aliases)
    # without coherence the prior wins everywhere
    plain = {r["mention_id"]: r["entity_id"] for r in score_links(cands).collect()}
    assert plain["m1"] == "per_washington" and plain["m3"] == "per_washington"
    # with coherence, d1's 华盛顿 flips to the co-supported GPE entity;
    # d2 (no supporting co-mention) keeps the prior choice
    coh = {
        r["mention_id"]: r["entity_id"]
        for r in score_links(cands, mentions=mentions).collect()
    }
    assert coh["m1"] == "gpe_washington"
    assert coh["m2"] == "gpe_washington"
    assert coh["m3"] == "per_washington"


def test_fuzzy_candidates_cover_near_misses(spark, aliases, mentions):
    near = mentions.unionByName(
        spark.createDataFrame([("m6", "清华大")], "mention_id string, surface string")
    )
    cands = generate_candidates(near, aliases, fuzzy=True,
                                jaccard_max_distance=0.8)
    got = {r["mention_id"] for r in cands.select("mention_id").distinct().collect()}
    assert {"m1", "m2", "m3", "m4", "m6"} <= got
    # only the uncovered mentions reach the fuzzy pass: 清华大 shares 2 of
    # 清华大学's 3 bigrams (J = 2/3); 没有的词 shares none with any alias
    fuzzy_only = [
        (r["mention_id"], r["entity_id"], r["score"], r["block_id"])
        for r in cands.where(F.col("block_id").startswith("lsh:")).collect()
    ]
    assert fuzzy_only == [("m6", "e4", pytest.approx(2 / 3, abs=1e-9), "lsh:清华大学")]


def _brute_fuzzy(mentions, aliases, t):
    """All-pairs char-bigram Jaccard, the rows fuzzy_candidates promises:
    one per distinct (mention_id, surface) × distinct alias row with
    distance 1 − |x∩y|/|x∪y| < t."""
    def grams(s):
        return {s[i:i + 2] for i in range(len(s) - 1)} if len(s) >= 2 else {s}

    rows = []
    for mid, surface in set(mentions):
        for sf, eid, prior in set(aliases):
            g, h = grams(surface), grams(sf)
            dist = 1.0 - len(g & h) / len(g | h)
            if dist < t:
                rows.append((mid, eid, (1.0 - dist) * prior, "lsh:" + sf))
    return rows


def test_fuzzy_candidates_equal_brute_force_jaccard(spark):
    """The prefix-filter join is exact: on seeded random CJK mention and
    alias sets its rows equal all-pairs bigram Jaccard (same multiset,
    scores to 1e-9) at every threshold, and a repeated call returns the
    same rows. Inputs cover 1-char surfaces, a surface with two
    entities, an exact-duplicate alias row and bigint mention ids."""
    import random
    from collections import Counter

    from golden_horse_spark.operators.linking import fuzzy_candidates

    rnd = random.Random(7)
    chars = "张伟明李华北京大学清中国"

    def word(lo, hi):
        return "".join(rnd.choice(chars) for _ in range(rnd.randint(lo, hi)))

    surfaces = sorted({word(1, 5) for _ in range(40)} | {"张", "北京"})
    alias_rows = [(s, f"e_{s}", round(rnd.uniform(0.1, 1.0), 3)) for s in surfaces]
    alias_rows += [("北京", "e_bj2", 0.25), alias_rows[0]]
    mention_rows = [(10**10 + i, word(1, 6)) for i in range(120)]
    mention_rows += [(10**10 + 200, "张"), (10**10 + 201, "北京"),
                     (10**10 + 201, "北京")]
    aliases = spark.createDataFrame(
        alias_rows, "surface_form string, entity_id string, prior double"
    )
    mentions = spark.createDataFrame(mention_rows, "mention_id bigint, surface string")

    def rows(t):
        return [tuple(r) for r in fuzzy_candidates(mentions, aliases, t).collect()]

    def key(r):
        return (r[0], r[1], r[3])

    got = {}
    for t in (0.3, 0.5, 0.8):
        got[t], want = rows(t), _brute_fuzzy(mention_rows, alias_rows, t)
        assert want, t  # the comparison actually checks pairs
        assert Counter(map(key, got[t])) == Counter(map(key, want)), t
        score = {key(r): r[2] for r in want}
        for r in got[t]:
            assert abs(r[2] - score[key(r)]) <= 1e-9, (t, r)
    # deterministic: a repeated call returns the same rows
    assert sorted(rows(0.8)) == sorted(got[0.8])


def test_fuzzy_candidates_rejects_threshold_outside_unit_interval(spark, aliases, mentions):
    from golden_horse_spark.operators.linking import fuzzy_candidates

    for t in (0.0, 1.5):
        with pytest.raises(ValueError):
            fuzzy_candidates(mentions, aliases, t)


def test_salted_agg_matches_plain(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") % 7).cast("string").alias("k"), F.col("id").alias("v")
    )
    plain = {
        (r["k"]): (r["n"], r["s"])
        for r in df.groupBy("k").agg(F.count("v").alias("n"), F.sum("v").alias("s")).collect()
    }
    salted = {
        (r["k"]): (r["n"], r["s"])
        for r in salted_agg(df, ["k"], {"n": ("count", "v"), "s": ("sum", "v")}).collect()
    }
    assert plain == salted


def test_surface_form_counts(spark, mentions):
    counts = {r["surface"]: r["n_mentions"] for r in surface_form_counts(mentions).collect()}
    assert counts["张三"] == 2


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")],
        "src string, dst string",
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["x"] == cc["y"] == "x"
    assert cc["p"] == "p"


def test_connected_components_long_chain(spark):
    # chain of 12 nodes: stresses multi-iteration propagation
    nodes = [f"n{i:02d}" for i in range(12)]
    edges = spark.createDataFrame(
        [(nodes[i], nodes[i + 1]) for i in range(11)], "src string, dst string"
    )
    cc = connected_components(edges)
    comps = {r["component"] for r in cc.collect()}
    assert comps == {"n00"}


def test_canonical_entities_bridged_by_mention(spark):
    links = spark.createDataFrame(
        [("m1", "e1"), ("m1", "e2"), ("m2", "e3")],
        "mention_id string, entity_id string",
    )
    ents = {r["entity_id"]: r["canonical_id"] for r in canonical_entities(links).collect()}
    assert ents["e1"] == ents["e2"]  # same mention bridges them
    assert ents["e3"] != ents["e1"]


def test_cc_randomized_vs_union_find(spark):
    """Random graphs (incl. disconnected + self-loop-free multi-edges)
    vs a python union-find; component labels must be the min node id."""
    import random

    from golden_horse_spark.operators.canonicalize import connected_components

    def uf(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # compress to min-id labels
        return {n: find(n) for n in nodes}

    rng = random.Random(17)
    for trial in range(6):
        n = rng.randint(5, 30)
        edges = [
            (rng.randint(0, n - 1), rng.randint(0, n - 1))
            for _ in range(rng.randint(2, 35))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        nodes = {x for e in edges for x in e}
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                spark.createDataFrame(edges, "src int, dst int")
            ).collect()
        }
        want = uf(edges, nodes)
        # union-find roots are min ids by construction of the merge rule
        assert got == want, (trial, edges, got, want)


def test_salted_join_matches_plain(spark):
    import pytest

    from golden_horse_spark.operators.salting import salted_join

    # 90%-hot key 'hot' on the big side; small dim with dup keys and a
    # key missing from big; big has keys missing from small (left-join
    # null path)
    big = spark.createDataFrame(
        [("hot", i) for i in range(900)]
        + [("warm", i) for i in range(80)]
        + [("nodim", i) for i in range(20)],
        "k string, v long",
    )
    small = spark.createDataFrame(
        [("hot", "H1"), ("hot", "H2"), ("warm", "W"), ("unused", "U")],
        "k string, d string",
    )
    for how in ("inner", "left"):
        want = sorted(
            tuple(r) for r in big.join(small, "k", how).collect()
        )
        got = sorted(
            tuple(r) for r in salted_join(big, small, "k", 8, how).collect()
        )
        assert got == want, how
    with pytest.raises(ValueError):
        salted_join(big, small, "k", how="full")


def test_salted_join_spreads_hot_key(spark):
    """The hot key's rows land in multiple shuffle partitions — the
    point of the salt. Observed via the salted key distribution."""
    from pyspark.sql import functions as F

    from golden_horse_spark.operators.salting import salted_join

    big = spark.createDataFrame([("hot", i) for i in range(2000)], "k string, v long")
    small = spark.createDataFrame([("hot", "d")], "k string, d string")
    out = salted_join(big, small, "k", salt_buckets=8)
    # Two plan features hide the spread at TOY size and must be pinned
    # off for the observation (only here — the production benefit
    # appears exactly when neither applies): AQE coalesces the tiny
    # shuffle back to one partition, and the 8-row replicated dim gets
    # (runtime-)broadcast, removing the salted shuffle entirely so the
    # output inherits the scan's partitioning — plan roulette that made
    # this observation order-dependent across the suite.
    keys = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        n_parts = (
            out.withColumn("p", F.spark_partition_id())
            .select("p").distinct().count()
        )
    finally:
        for k, v in old.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    assert out.count() == 2000
    assert n_parts >= 4  # 8 salt values spread across reducers


def _brute_edit_pairs(ments, als, d):
    # python-side reference: all pairs with levenshtein <= d
    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    out = set()
    for mid, s in ments:
        for sf, eid, prior in als:
            dd = lev(s, sf)
            if dd <= d:
                score = prior * (1.0 - dd / max(len(s), len(sf), 1))
                out.add((mid, eid, round(score, 9), f"edit:{sf}"))
    return out


@pytest.mark.parametrize("d", [1, 2])
def test_edit_distance_candidates_equal_brute_force(spark, d):
    from golden_horse_spark.operators.linking import edit_distance_candidates

    # mixed ASCII + CJK (codepoint distances), incl. exact hit, transposition
    # (=2 edits under plain levenshtein), deletions, insertions, far misses
    ments = [
        ("m1", "beijing"), ("m2", "bejing"), ("m3", "biejing"),
        ("m4", "张三"), ("m5", "张三丰"), ("m6", "unrelated"),
        ("m7", "a"), ("m8", "ab"),
    ]
    als = [
        ("beijing", "e1", 0.9), ("张三", "e2", 0.7), ("b", "e3", 0.5),
        ("清华大学", "e4", 1.0),
    ]
    m = spark.createDataFrame(ments, "mention_id string, surface string")
    a = spark.createDataFrame(
        als, "surface_form string, entity_id string, prior double"
    )
    got = {
        (r["mention_id"], r["entity_id"], round(r["score"], 9), r["block_id"])
        for r in edit_distance_candidates(m, a, max_distance=d).collect()
    }
    assert got == _brute_edit_pairs(ments, als, d)


def test_edit_distance_candidates_rejects_large_d(spark):
    from golden_horse_spark.operators.linking import edit_distance_candidates

    m = spark.createDataFrame([("m1", "x")], "mention_id string, surface string")
    a = spark.createDataFrame(
        [("x", "e", 1.0)], "surface_form string, entity_id string, prior double"
    )
    with pytest.raises(ValueError):
        edit_distance_candidates(m, a, max_distance=3)


def test_generate_candidates_edit_pass_covers_only_uncovered(spark, aliases):
    from golden_horse_spark.operators.linking import generate_candidates

    m = spark.createDataFrame(
        [("m1", "张三"),      # exact hit -> edit pass must skip it
         ("m2", "张三丰"),    # no exact; lev("张三丰","张三")=1 -> edit hit
         ("m3", "完全无关")], # covered by nothing
        "mention_id string, surface string",
    )
    cands = generate_candidates(m, aliases, edit_distance=1)
    got = {(r["mention_id"], r["entity_id"], r["block_id"][:5])
           for r in cands.collect()}
    blocks = {r["block_id"] for r in cands.collect()}
    # m1 only via exact (both aliased entities), m2 only via edit
    assert ("m1", "e1", "exact") in got and ("m1", "e2", "exact") in got
    assert not any(b.startswith("edit:张三") and m == "m1"
                   for m, e, b in got)
    assert ("m2", "e1", "edit:") in got and ("m2", "e2", "edit:") in got
    assert not any(m == "m3" for m, e, b in got)
    assert any(b.startswith("edit:") for b in blocks)


def test_alias_priors_vs_python_reference(spark):
    """alias_priors == literal P(e|s) counting, incl. weighted sums,
    min_count tail cut AFTER totals, and exact_candidates composition."""
    from collections import Counter

    from golden_horse_spark.operators.linking import (
        alias_priors,
        exact_candidates,
    )

    log_rows = [
        ("apple", "e_fruit"), ("apple", "e_fruit"), ("apple", "e_fruit"),
        ("apple", "e_corp"),
        ("jaguar", "e_cat"), ("jaguar", "e_car"),
        ("rare", "e_x"),
    ]
    log = spark.createDataFrame(log_rows, "surface_form string, entity_id string")
    out = {
        (r["surface_form"], r["entity_id"]): (r["prior"], r["n_links"])
        for r in alias_priors(log).collect()
    }
    n = Counter(log_rows)
    tot = Counter(s for s, _ in log_rows)
    want = {
        k: (n[k] / tot[k[0]], n[k]) for k in n
    }
    assert set(out) == set(want)
    for k in want:
        assert out[k][1] == want[k][1]
        assert abs(out[k][0] - want[k][0]) < 1e-12

    # min_count cuts the pair but totals still include it: apple/e_corp
    # (n=1) disappears, apple/e_fruit keeps prior 0.75 (not 1.0)
    cut = {
        (r["surface_form"], r["entity_id"]): r["prior"]
        for r in alias_priors(log, min_count=2).collect()
    }
    assert ("apple", "e_corp") not in cut and ("rare", "e_x") not in cut
    assert abs(cut[("apple", "e_fruit")] - 0.75) < 1e-12

    # weighted: weight column replaces counts
    wlog = spark.createDataFrame(
        [("s", "a", 9), ("s", "b", 1)],
        "surface_form string, entity_id string, w long",
    )
    wp = {
        r["entity_id"]: r["prior"]
        for r in alias_priors(wlog, weight_col="w").collect()
    }
    assert abs(wp["a"] - 0.9) < 1e-12 and abs(wp["b"] - 0.1) < 1e-12

    # output schema plugs straight into exact_candidates
    mentions = spark.createDataFrame(
        [("m1", "jaguar")], "mention_id string, surface string"
    )
    cands = exact_candidates(mentions, alias_priors(log))
    got = {(r["mention_id"], r["entity_id"], round(r["score"], 6))
           for r in cands.collect()}
    assert got == {("m1", "e_cat", 0.5), ("m1", "e_car", 0.5)}


def test_bcubed_vs_python_reference(spark):
    """bcubed == the literal per-item B3 definition, incl. the exact
    integer pins, the perfect-clustering identity, and the classic
    all-singletons (P=1) / one-big-cluster (R=1) extremes."""
    import random

    from golden_horse_spark.operators.canonicalize import bcubed

    rng = random.Random(5)
    items = [(i, f"p{rng.randint(0, 4)}", f"g{rng.randint(0, 3)}")
             for i in range(200)]
    df = spark.createDataFrame(items, "id long, pred_label string, gold_label string")
    row = bcubed(df).collect()[0]

    # python reference: per-item means
    from collections import Counter

    pc = Counter(p for _, p, _ in items)
    gc = Counter(g for _, _, g in items)
    cell = Counter((p, g) for _, p, g in items)
    P = sum(cell[(p, g)] / pc[p] for _, p, g in items) / len(items)
    R = sum(cell[(p, g)] / gc[g] for _, p, g in items) / len(items)
    assert row["n_items"] == len(items)
    assert row["n_cells"] == len(cell)
    assert abs(row["precision"] - P) < 1e-12
    assert abs(row["recall"] - R) < 1e-12
    assert abs(row["f1"] - 2 * P * R / (P + R)) < 1e-12
    assert row["p_pin"] == sum(
        (1_000_000 * n * n) // pc[p] for (p, g), n in cell.items()
    )
    assert row["r_pin"] == sum(
        (1_000_000 * n * n) // gc[g] for (p, g), n in cell.items()
    )

    # perfect clustering: P = R = F1 = 1, pins = 10^6 * n_clusters-ish
    perfect = spark.createDataFrame(
        [(i, f"c{i % 3}", f"c{i % 3}") for i in range(30)],
        "id long, pred_label string, gold_label string",
    )
    r2 = bcubed(perfect).collect()[0]
    assert r2["precision"] == 1.0 and r2["recall"] == 1.0 and r2["f1"] == 1.0

    # all-singleton prediction: P = 1, R = mean(1/|G(e)|)
    singles = spark.createDataFrame(
        [(i, f"s{i}", "g0") for i in range(10)],
        "id long, pred_label string, gold_label string",
    )
    r3 = bcubed(singles).collect()[0]
    assert r3["precision"] == 1.0 and abs(r3["recall"] - 0.1) < 1e-12


# ---------------- Fellegi–Sunter ----------------


def test_fs_weights_and_score_vs_python(spark):
    """Exact equality of counts; weight/score equality to 1e-12 vs a
    from-the-paper python reference (Fellegi & Sunter 1969 eq. 3.4)."""
    import math

    from golden_horse_spark.operators.linking import fs_score, fs_weights

    rows = [
        # (id, g_name, g_city, g_year, is_match)
        (1, True, True, True, True),
        (2, True, True, False, True),
        (3, True, None, True, True),     # g_city missing on a match
        (4, False, True, True, True),
        (5, True, False, False, False),
        (6, False, False, True, False),
        (7, False, False, False, False),
        (8, True, True, False, False),
        (9, None, False, False, False),  # g_name missing on a non-match
        (10, False, True, False, False),
    ]
    df = spark.createDataFrame(
        rows, "id int, g_name boolean, g_city boolean, g_year boolean, "
              "is_match boolean"
    )
    alpha = 0.5
    wdf = fs_weights(df, ["g_name", "g_city", "g_year"], alpha=alpha)
    got = {r["field"]: r.asDict() for r in wdf.collect()}

    def py_counts(field_idx):
        a_m = n_m = a_u = n_u = 0
        for r in rows:
            g, m = r[field_idx], r[4]
            if g is None:
                continue
            if m:
                n_m += 1
                a_m += g
            else:
                n_u += 1
                a_u += g
        return a_m, n_m, a_u, n_u

    for i, f in enumerate(["g_name", "g_city", "g_year"], start=1):
        a_m, n_m, a_u, n_u = py_counts(i)
        assert (
            got[f]["a_match"], got[f]["n_match"],
            got[f]["a_nonmatch"], got[f]["n_nonmatch"],
        ) == (a_m, n_m, a_u, n_u)
        w_a = math.log((a_m + alpha) / (n_m + 2 * alpha)) - math.log(
            (a_u + alpha) / (n_u + 2 * alpha)
        )
        w_d = math.log((n_m - a_m + alpha) / (n_m + 2 * alpha)) - math.log(
            (n_u - a_u + alpha) / (n_u + 2 * alpha)
        )
        assert abs(got[f]["w_agree"] - w_a) < 1e-12
        assert abs(got[f]["w_disagree"] - w_d) < 1e-12

    scored = {
        r["id"]: r["fs_score"]
        for r in fs_score(df, wdf, ["g_name", "g_city", "g_year"]).collect()
    }
    for r in rows:
        exp = 0.0
        for i, f in enumerate(["g_name", "g_city", "g_year"], start=1):
            if r[i] is None:
                continue
            exp += got[f]["w_agree"] if r[i] else got[f]["w_disagree"]
        assert abs(scored[r[0]] - exp) < 1e-12


def test_fs_smoothing_handles_degenerate_fields(spark):
    """A field that ALWAYS agrees on matches and NEVER on non-matches
    gets finite weights (add-α), with the right signs."""
    from golden_horse_spark.operators.linking import fs_weights

    rows = [(True, True), (True, True), (False, False), (False, False)]
    df = spark.createDataFrame(rows, "g boolean, is_match boolean")
    w = fs_weights(df, ["g"]).collect()[0]
    import math

    assert math.isfinite(w["w_agree"]) and math.isfinite(w["w_disagree"])
    assert w["w_agree"] > 0 > w["w_disagree"]


def test_fs_classify_bands(spark):
    from golden_horse_spark.operators.linking import fs_classify

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -5.0)], "id int, fs_score double"
    )
    got = {
        r["id"]: r["decision"]
        for r in fs_classify(df, upper=2.0, lower=-2.0).collect()
    }
    assert got == {1: "match", 2: "possible", 3: "nonmatch"}
    import pytest as _pt

    with _pt.raises(ValueError):
        fs_classify(df, upper=-1.0, lower=1.0)


def test_fs_guards(spark):
    from golden_horse_spark.operators.linking import fs_score, fs_weights

    df = spark.createDataFrame([(True, True)], "g boolean, is_match boolean")
    import pytest as _pt

    with _pt.raises(ValueError, match="empty"):
        fs_weights(df, [])
    w = fs_weights(df, ["g"])
    with _pt.raises(ValueError, match="no weights"):
        fs_score(df, w, ["nope"])


def test_phonetic_candidates_classic_pairs(spark):
    """Spec-anchored Soundex equivalences (Robert≡Rupert R163,
    Smith≡Smyth S530, Ashcraft≡Ashcroft A261 — the h/w rule) block
    together; unrelated names don't."""
    from golden_horse_spark.operators.linking import phonetic_candidates

    mentions = spark.createDataFrame(
        [(1, "Robert"), (2, "Smith"), (3, "Ashcraft"), (4, "Jones")],
        "mention_id int, surface string",
    )
    aliases = spark.createDataFrame(
        [("Rupert", "e_rup"), ("Smyth", "e_smy"), ("Ashcroft", "e_ash"),
         ("Robert", "e_rob"), ("Brown", "e_bro")],
        "surface_form string, entity_id string",
    )
    got = sorted(
        (r["mention_id"], r["entity_id"])
        for r in phonetic_candidates(mentions, aliases).collect()
    )
    # exact self-pair (Robert,Robert) is excluded (exact_candidates' job)
    assert got == [(1, "e_rup"), (2, "e_smy"), (3, "e_ash")]


def test_blocking_metrics_formulas(spark):
    from golden_horse_spark.operators.linking import blocking_metrics

    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5)], "id_a int, id_b int"
    )
    true = spark.createDataFrame(
        [(1, 2), (4, 5), (7, 8)], "id_a int, id_b int"
    )
    # dedup mode over 10 records: C(10,2) = 45 comparisons
    r = blocking_metrics(cand, true, n_left=10).collect()[0]
    assert (r["n_candidates"], r["n_true"], r["n_found"]) == (4, 3, 2)
    assert abs(r["pair_completeness"] - 2 / 3) < 1e-12
    assert abs(r["reduction_ratio"] - (1 - 4 / 45)) < 1e-12
    # two-table mode
    r2 = blocking_metrics(cand, true, n_left=5, n_right=9).collect()[0]
    assert abs(r2["reduction_ratio"] - (1 - 4 / 45)) < 1e-12
    import pytest as _pt

    with _pt.raises(ValueError, match="empty"):
        blocking_metrics(cand, true, n_left=1)


def test_fs_em_matches_python_reference(spark):
    """EM trajectory equality (to 1e-9) vs a from-the-paper python EM
    on a planted two-class mixture, and sign sanity: informative
    fields get w_agree > 0 > w_disagree with the match class found."""
    import math
    import random

    from golden_horse_spark.operators.linking import fs_em_weights, fs_score

    rng = random.Random(11)
    rows = []
    for i in range(400):
        is_m = i % 10 == 0  # 10% true matches (hidden from the model)
        p_name = 0.95 if is_m else 0.1
        p_city = 0.9 if is_m else 0.3
        rows.append(
            (
                i,
                rng.random() < p_name,
                rng.random() < p_city,
                None if i % 17 == 0 else rng.random() < (0.8 if is_m else 0.2),
            )
        )
    df = spark.createDataFrame(
        rows, "id int, g_name boolean, g_city boolean, g_extra boolean"
    )
    cols = ["g_name", "g_city", "g_extra"]
    n_iter, alpha, clamp, prev = 7, 0.5, 1e-6, 0.1

    def cl(x):
        return min(max(x, clamp), 1 - clamp)

    # python reference EM
    data = [r[1:] for r in rows]
    u = []
    for j in range(3):
        vals = [d[j] for d in data if d[j] is not None]
        u.append(cl(sum(vals) / len(vals)))
    m = [0.9] * 3
    pi = prev
    for _ in range(n_iter):
        srm = [0.0] * 3
        snm = [0.0] * 3
        sru = [0.0] * 3
        snu = [0.0] * 3
        sr = 0.0
        for d in data:
            lo = math.log(pi) - math.log(1 - pi)
            for j in range(3):
                if d[j] is None:
                    continue
                lo += (
                    math.log(m[j]) - math.log(u[j])
                    if d[j]
                    else math.log(1 - m[j]) - math.log(1 - u[j])
                )
            r = 1.0 / (1.0 + math.exp(-lo))
            sr += r
            for j in range(3):
                if d[j] is None:
                    continue
                srm[j] += r * d[j]
                snm[j] += r
                sru[j] += (1 - r) * d[j]
                snu[j] += 1 - r
        pi = cl(sr / len(data))
        m = [cl((srm[j] + alpha) / (snm[j] + 2 * alpha)) for j in range(3)]
        u = [cl((sru[j] + alpha) / (snu[j] + 2 * alpha)) for j in range(3)]

    wdf = fs_em_weights(df, cols, n_iter=n_iter, prevalence=prev, alpha=alpha)
    got = {r["field"]: r.asDict() for r in wdf.collect()}
    for j, c in enumerate(cols):
        exp_wa = math.log(m[j]) - math.log(u[j])
        exp_wd = math.log(1 - m[j]) - math.log(1 - u[j])
        assert abs(got[c]["w_agree"] - exp_wa) < 1e-9, c
        assert abs(got[c]["w_disagree"] - exp_wd) < 1e-9, c
        assert got[c]["w_agree"] > 0 > got[c]["w_disagree"], c
    # the EM weights feed fs_score unchanged (schema compatibility) and
    # separate the planted classes on average
    scored = fs_score(df, wdf, cols).collect()
    sm = [r["fs_score"] for r in scored if r["id"] % 10 == 0]
    su = [r["fs_score"] for r in scored if r["id"] % 10 != 0]
    assert sum(sm) / len(sm) > sum(su) / len(su) + 1.0


def test_fs_em_guards(spark):
    from golden_horse_spark.operators.linking import fs_em_weights

    df = spark.createDataFrame([(True,)], "g boolean")
    import pytest as _pt

    with _pt.raises(ValueError, match="empty"):
        fs_em_weights(df, [])
    with _pt.raises(ValueError, match="prevalence"):
        fs_em_weights(df, ["g"], prevalence=1.5)


def test_sorted_neighborhood_vs_python(spark):
    from golden_horse_spark.operators.linking import (
        sorted_neighborhood_candidates,
    )

    rows = [
        (1, "smith"), (2, "smyth"), (3, "adams"), (4, "smithe"),
        (5, "adamson"), (6, "zeta"), (7, "adams"),
    ]
    df = spark.createDataFrame(rows, "id int, name string")
    for w in (2, 3, 4):
        got = sorted(
            (r["id_a"], r["id_b"])
            for r in sorted_neighborhood_candidates(
                df, "name", window=w
            ).collect()
        )
        order = [i for i, _ in sorted(rows, key=lambda r: (r[1], r[0]))]
        exp = sorted(
            (order[i], order[j])
            for i in range(len(order))
            for j in range(i + 1, min(i + w, len(order)))
        )
        assert got == exp, w
    import pytest as _pt

    with _pt.raises(ValueError, match="window"):
        sorted_neighborhood_candidates(df, "name", window=1)


# ------------------------------------------------------------ meta-blocking


def _meta_py(assignments, scheme="wnp", max_block_size=1000):
    """Reference meta-blocking: CBS weights + integer-exact pruning."""
    from collections import defaultdict

    blocks = defaultdict(set)
    for bk, rid in assignments:
        blocks[bk].add(rid)
    pair_w = defaultdict(int)
    for members in blocks.values():
        if len(members) > max_block_size:
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pair_w[(ms[i], ms[j])] += 1
    if scheme == "wep":
        s = sum(pair_w.values())
        c = len(pair_w)
        return {
            p: (w, w * c >= s) for p, w in pair_w.items()
        }
    node_s = defaultdict(int)
    node_c = defaultdict(int)
    for (a, b), w in pair_w.items():
        node_s[a] += w
        node_c[a] += 1
        node_s[b] += w
        node_c[b] += 1
    return {
        (a, b): (
            w,
            w * node_c[a] >= node_s[a] or w * node_c[b] >= node_s[b],
        )
        for (a, b), w in pair_w.items()
    }


def _meta_rows(df):
    return {
        (r["id_a"], r["id_b"]): (r["weight"], r["kept"])
        for r in df.collect()
    }


def test_meta_blocking_wnp_matches_reference(spark):
    import random

    from golden_horse_spark.operators.linking import meta_blocking

    rng = random.Random(11)
    assignments = sorted(
        {
            (f"b{rng.randrange(12)}", rng.randrange(30))
            for _ in range(150)
        }
    )
    df = spark.createDataFrame(
        assignments, "block_key string, record_id int"
    )
    got = _meta_rows(meta_blocking(df))
    want = _meta_py(assignments)
    assert got == want
    kept = {p for p, (_, k) in got.items() if k}
    assert 0 < len(kept) < len(got)  # pruning actually pruned something


def test_meta_blocking_wep_matches_reference(spark):
    import random

    from golden_horse_spark.operators.linking import meta_blocking

    rng = random.Random(5)
    assignments = sorted(
        {
            (f"b{rng.randrange(10)}", rng.randrange(25))
            for _ in range(120)
        }
    )
    df = spark.createDataFrame(
        assignments, "block_key string, record_id int"
    )
    got = _meta_rows(meta_blocking(df, scheme="wep"))
    assert got == _meta_py(assignments, scheme="wep")


def test_meta_blocking_purging_drops_big_blocks(spark):
    from golden_horse_spark.operators.linking import meta_blocking

    # block 'big' has 5 members (> max 4) — contributes nothing; block
    # 'ok' has 3 members — 3 pairs of weight 1, all kept (every edge
    # meets its endpoints' average when all weights are equal)
    rows = [("big", i) for i in range(100, 105)] + [
        ("ok", 1), ("ok", 2), ("ok", 3)
    ]
    df = spark.createDataFrame(rows, "block_key string, record_id int")
    got = _meta_rows(meta_blocking(df, max_block_size=4))
    assert got == {(1, 2): (1, True), (1, 3): (1, True), (2, 3): (1, True)}
    assert _meta_py(rows, max_block_size=4) == got


def test_meta_blocking_shared_blocks_outweigh_singles(spark):
    from golden_horse_spark.operators.linking import meta_blocking

    # records 1,2 share three blocks; 1,3 share one → WNP keeps (1,2)
    # and prunes (1,3) from 1's perspective, but 3's own average keeps it
    rows = [
        ("a", 1), ("a", 2), ("b", 1), ("b", 2), ("c", 1), ("c", 2),
        ("d", 1), ("d", 3),
    ]
    df = spark.createDataFrame(rows, "block_key string, record_id int")
    got = _meta_rows(meta_blocking(df))
    assert got[(1, 2)] == (3, True)
    # (1,3): weight 1 < avg(1)=2 but == avg(3)=1 → kept by 3's side
    assert got[(1, 3)] == (1, True)
    assert got == _meta_py(rows)


def test_meta_blocking_unknown_scheme_raises(spark):
    import pytest as _pt

    from golden_horse_spark.operators.linking import meta_blocking

    df = spark.createDataFrame(
        [("a", 1), ("a", 2)], "block_key string, record_id int"
    )
    with _pt.raises(ValueError, match="scheme"):
        meta_blocking(df, scheme="cnp")


# ------------------------------------------------------------ jaro-winkler


def test_jaro_winkler_spec_anchors():
    from golden_horse_spark.operators.linking import _jaro_winkler_py

    # Winkler's published examples
    assert abs(_jaro_winkler_py("MARTHA", "MARHTA") - 0.9611111111) < 1e-9
    assert abs(_jaro_winkler_py("DWAYNE", "DUANE") - 0.84) < 1e-9
    assert abs(_jaro_winkler_py("DIXON", "DICKSONX") - 0.8133333333) < 1e-9
    # boost threshold: jaro ≤ 0.7 gets NO prefix bonus
    assert abs(_jaro_winkler_py("abcdef", "abczzz") - 2.0 / 3.0) < 1e-9
    assert _jaro_winkler_py("abc", "abc") == 1.0
    assert _jaro_winkler_py("", "abc") == 0.0
    assert _jaro_winkler_py("ab", "ba") == 0.0  # window 0: no matches


def test_jaro_winkler_fuzz_equals_duckdb():
    import random

    import duckdb

    from golden_horse_spark.operators.linking import _jaro_winkler_py

    rng = random.Random(3)
    alpha = "abcde"
    con = duckdb.connect()
    for _ in range(400):
        a = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 9)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 9)))
        want = con.execute(
            "select jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        got = _jaro_winkler_py(a, b)
        assert abs(got - want) < 1e-12, (a, b, got, want)


def test_jaro_winkler_col_on_candidates(spark):
    from pyspark.sql import functions as F

    from golden_horse_spark.operators.linking import (
        _jaro_winkler_py,
        jaro_winkler_col,
    )

    pairs = [("martha", "marhta"), ("jonathan", "jonthan"),
             ("smith", "smyth"), (None, "x"), ("y", None)]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = {
        (r["a"], r["b"]): r["jw"]
        for r in df.withColumn("jw", jaro_winkler_col(F.col("a"), F.col("b"))).collect()
    }
    for a, b in pairs:
        if a is None or b is None:
            assert got[(a, b)] is None
        else:
            assert abs(got[(a, b)] - _jaro_winkler_py(a, b)) < 1e-12


# ---------- pairwise ER evaluation ----------


def _pairwise_py(items):
    from itertools import combinations

    tp = pp = gp = 0
    for (p1, g1), (p2, g2) in combinations(items, 2):
        pp += p1 == p2
        gp += g1 == g2
        tp += (p1 == p2) and (g1 == g2)
    prec = tp / pp if pp else 1.0
    rec = tp / gp if gp else 1.0
    f1 = 2 * tp / (pp + gp) if (pp or gp) else 1.0
    return tp, pp, gp, prec, rec, f1


def test_pairwise_er_matches_definition(spark):
    import random

    from golden_horse_spark.operators.canonicalize import pairwise_er

    rng = random.Random(5)
    items = [
        (rng.randint(0, 4), rng.randint(0, 3)) for _ in range(60)
    ]
    df = spark.createDataFrame(
        [(i, p, g) for i, (p, g) in enumerate(items)],
        "node long, pred_label int, gold_label int",
    )
    row = pairwise_er(df).collect()[0]
    tp, pp, gp, prec, rec, f1 = _pairwise_py(items)
    assert (row["tp"], row["pred_pairs"], row["gold_pairs"]) == (tp, pp, gp)
    assert row["n_items"] == 60
    assert abs(row["precision"] - prec) < 1e-12
    assert abs(row["recall"] - rec) < 1e-12
    assert abs(row["f1"] - f1) < 1e-12


def test_pairwise_er_extremes(spark):
    from golden_horse_spark.operators.canonicalize import pairwise_er

    # perfect clustering
    df = spark.createDataFrame(
        [(i, i % 3, i % 3) for i in range(12)],
        "node long, pred_label int, gold_label int",
    )
    r = pairwise_er(df).collect()[0]
    assert r["precision"] == r["recall"] == r["f1"] == 1.0
    # all-singletons prediction vs one gold cluster: P=1 (vacuous), R=0
    df2 = spark.createDataFrame(
        [(i, i, 0) for i in range(6)],
        "node long, pred_label int, gold_label int",
    )
    r2 = pairwise_er(df2).collect()[0]
    assert r2["pred_pairs"] == 0 and r2["precision"] == 1.0
    assert r2["recall"] == 0.0 and r2["gold_pairs"] == 15
    # over-merge everything: R=1, P = gold_pairs / C(n,2)
    df3 = spark.createDataFrame(
        [(i, 0, i % 2) for i in range(6)],
        "node long, pred_label int, gold_label int",
    )
    r3 = pairwise_er(df3).collect()[0]
    assert r3["recall"] == 1.0
    assert abs(r3["precision"] - r3["gold_pairs"] / 15) < 1e-12


# ---------- skew / data-quality statistics ----------


def test_gini_known_values(spark):
    from golden_horse_spark.operators.salting import gini

    # all-equal -> 0
    eq = spark.createDataFrame([(10,)] * 5, "c long")
    r = gini(eq, "c").collect()[0]
    assert abs(r["gini"]) < 1e-12 and r["total"] == 50
    # one key owns everything -> (n-1)/n
    hot = spark.createDataFrame([(0,), (0,), (0,), (100,)], "c long")
    r2 = gini(hot, "c").collect()[0]
    assert abs(r2["gini"] - 3 / 4) < 1e-12
    # python replay on an arbitrary vector (rank formula)
    vals = [3, 1, 4, 1, 5, 9, 2, 6]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    r3 = gini(df, "c").collect()[0]
    xs = sorted(vals)
    n, tot = len(xs), sum(xs)
    s1 = sum((i + 1) * x for i, x in enumerate(xs))
    assert (r3["n"], r3["total"], r3["s1"]) == (n, tot, s1)
    assert abs(r3["gini"] - (2 * s1 / (n * tot) - (n + 1) / n)) < 1e-12


def test_mad_outliers_per_group(spark):
    from golden_horse_spark.operators.salting import mad_outliers

    rows = (
        [("a", float(v)) for v in [10, 11, 9, 10, 12, 10, 50]]
        + [("b", float(v)) for v in [100, 102, 98, 101]]
    )
    df = spark.createDataFrame(rows, "g string, x double")
    out = {
        (r["g"], r["x"]): (r["med"], r["mad"], r["is_outlier"])
        for r in mad_outliers(df, "x", ["g"], k=3.0).collect()
    }
    # group a: med 10, deviations [0,1,1,0,2,0,40] -> mad 1; only 50 flags
    assert out[("a", 50.0)][2] is True
    assert all(
        not flag
        for (g, x), (_, _, flag) in out.items()
        if g == "a" and x != 50.0
    )
    assert out[("a", 10.0)][0] == 10.0 and out[("a", 10.0)][1] == 1.0
    # group b is tight: nothing flags (mad from interpolated median)
    assert all(not flag for (g, _), (_, _, flag) in out.items() if g == "b")
    # global mode (no groups)
    glob = mad_outliers(df, "x", k=3.0).collect()
    assert len(glob) == len(rows)


# ---------- Monge-Elkan hybrid similarity ----------


def test_monge_elkan_vs_python(spark):
    from golden_horse_spark.operators.linking import (
        _jaro_winkler_py,
        monge_elkan,
    )

    def me_py(a, b):
        ta = [t for t in a.split() if t]
        tb = [t for t in b.split() if t]
        if not ta or not tb:
            return None
        return sum(
            max(_jaro_winkler_py(x, y) for y in tb) for x in ta
        ) / len(ta)

    cases = [
        ("IBM Corp", "Corp of IBM"),
        ("John A Smith", "Smith John"),
        ("acme", "acme"),
        ("alpha beta", "gamma delta"),
        ("", "nonempty name"),
    ]
    pairs = spark.createDataFrame(cases, "a string, b string")
    got = {
        (r["a"], r["b"]): r["monge_elkan"]
        for r in monge_elkan(pairs, "a", "b").collect()
    }
    for a, b in cases:
        x, y = me_py(a, b), me_py(b, a)
        want = None if x is None or y is None else (x + y) / 2
        g = got[(a, b)]
        if want is None:
            assert g is None, (a, b, g)
        else:
            assert abs(g - want) < 1e-12, (a, b, g, want)
    # identical strings score 1; disjoint tokens score < reordered ones
    assert abs(got[("acme", "acme")] - 1.0) < 1e-12
    assert got[("IBM Corp", "Corp of IBM")] > got[("alpha beta", "gamma delta")]
    # asymmetric single direction differs from symmetrized on unequal sets
    asym = {
        (r["a"], r["b"]): r["monge_elkan"]
        for r in monge_elkan(pairs, "a", "b", sym=False).collect()
    }
    a0, b0 = "IBM Corp", "Corp of IBM"
    assert abs(asym[(a0, b0)] - me_py(a0, b0)) < 1e-12


def test_soft_tfidf_vs_python(spark):
    import math

    from golden_horse_spark.operators.linking import (
        _jaro_winkler_py,
        soft_tfidf,
    )

    corpus_names = [
        "acme corp", "acme inc", "globex corp", "initech llc",
        "stark industries", "wayne enterprises corp",
    ]

    def weights_py(name):
        from collections import Counter

        n = len(corpus_names)
        dfc = Counter()
        for nm in corpus_names:
            for t in set(nm.split()):
                dfc[t] += 1
        tf = Counter(name.split())
        v = {
            t: math.log(c + 1.0) * math.log(n / dfc[t])
            for t, c in tf.items()
        }
        nrm = math.sqrt(sum(x * x for x in v.values()))
        return {t: (x / nrm if nrm > 0 else 0.0) for t, x in v.items()}

    def stf_py(a, b, theta=0.9):
        wa, wb = weights_py(a), weights_py(b)
        if not a.split() or not b.split():
            return None
        s = 0.0
        for t, va in wa.items():
            cands = [
                (_jaro_winkler_py(t, u), wb[u], u) for u in wb
            ]
            jw, vb, _ = max(cands)
            if jw >= theta:
                s += va * vb * jw
        return s

    cases = [
        ("acme corp", "acme inc"),
        ("acme corp", "globex corp"),
        ("acme corp", "acme corp"),
        ("stark industries", "wayne enterprises corp"),
    ]
    pairs = spark.createDataFrame(cases, "a string, b string")
    corpus = spark.createDataFrame(
        [(n,) for n in corpus_names], "name string"
    )
    got = {
        (r["a"], r["b"]): r["soft_tfidf"]
        for r in soft_tfidf(pairs, "a", "b", corpus).collect()
    }
    for a, b in cases:
        want = stf_py(a, b)
        assert abs(got[(a, b)] - want) < 1e-9, (a, b, got[(a, b)], want)
    # self-similarity of an L2-normalized name = 1
    assert abs(got[("acme corp", "acme corp")] - 1.0) < 1e-9
    # rare-token agreement (acme) outweighs stop-token agreement (corp)
    assert got[("acme corp", "acme inc")] > got[("acme corp", "globex corp")]


def test_soft_tfidf_out_of_corpus_guard(spark):
    # ADVICE r4 fix: out-of-corpus names must fail loudly by default
    # instead of silently scoring 0.0 (their tokens vanish in the
    # weights join); require_in_corpus=False keeps the 0.0 convention.
    import pytest as _pt

    from golden_horse_spark.operators.linking import soft_tfidf

    pairs = spark.createDataFrame(
        [("acme corp", "umbrella co")], "a string, b string"
    )
    corpus = spark.createDataFrame(
        [("acme corp",), ("acme inc",)], "name string"
    )
    with _pt.raises(ValueError, match="absent from corpus"):
        soft_tfidf(pairs, "a", "b", corpus).collect()
    row = soft_tfidf(
        pairs, "a", "b", corpus, require_in_corpus=False
    ).collect()[0]
    assert row["soft_tfidf"] == 0.0


def test_connected_components_raises_on_nonconvergence(spark):
    """One-hop min-label propagation needs O(diameter) rounds; exiting
    max_iter with labels still changing must FAIL LOUDLY (round-5
    review fix: it previously returned silently-split components,
    corrupting every downstream merge invariant)."""
    from golden_horse_spark.operators.canonicalize import connected_components

    chain = [(i, i + 1) for i in range(30)]
    edges = spark.createDataFrame(chain, "src int, dst int")
    # local_edge_limit=0 pins the DISTRIBUTED rounds (the round-6 driver
    # union-find fast path always converges, so the guard is
    # distributed-path-only by construction)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=5, local_edge_limit=0)
    ok = connected_components(edges, max_iter=40, local_edge_limit=0)
    comps = {r["component"] for r in ok.collect()}
    assert comps == {0}


def test_cc_driver_fast_path_equals_distributed(spark):
    """Round-6 property test: the adaptive driver union-find fast path
    must produce IDENTICAL (node, component) labels and schema as the
    distributed hash-to-min rounds, for int and string ids, including
    self-loops, multi-edges and disconnected pieces."""
    import random

    rng = random.Random(23)
    for trial in range(5):
        n = rng.randint(4, 40)
        edges = [
            (rng.randint(0, n - 1), rng.randint(0, n - 1))
            for _ in range(rng.randint(1, 50))
        ]
        for typ, conv in (("int", lambda x: x), ("string", lambda x: f"v{x:03d}")):
            df = spark.createDataFrame(
                [(conv(a), conv(b)) for a, b in edges],
                f"src {typ}, dst {typ}",
            )
            fast = connected_components(df)  # default: local path
            slow = connected_components(df, local_edge_limit=0)
            assert fast.schema == slow.schema, (trial, typ)
            got_fast = {r["node"]: r["component"] for r in fast.collect()}
            got_slow = {r["node"]: r["component"] for r in slow.collect()}
            assert got_fast == got_slow, (trial, typ, edges)


def test_cc_num_edges_hint_and_limit_fallback(spark):
    """num_edges= skips the probe but must not change results; an edge
    count above local_edge_limit falls back to the distributed path."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src int, dst int"
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    hinted = {
        r["node"]: r["component"]
        for r in connected_components(edges, num_edges=3).collect()
    }
    assert hinted == want
    over_cap = {
        r["node"]: r["component"]
        for r in connected_components(edges, local_edge_limit=2).collect()
    }
    assert over_cap == want


def test_cc_fast_path_is_one_job(spark):
    """Below the driver cap one bounded ``limit(n+1)`` collect both
    decides the path and is the edge list union-find solves: CC of a
    small in-memory frame runs exactly one Spark job (a count probe
    plus a second collect of the same edges ran three)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)] + [(20, 21), (21, 22), (30, 31)],
        "src long, dst long",
    )
    sc = spark.sparkContext
    group = "cc-fast-path-one-job"
    sc.setJobGroup(group, group, False)
    try:
        out = connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {**{i: 0 for i in range(9)}, 20: 20, 21: 20, 22: 20,
                   30: 30, 31: 30}


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("id_type", ["string", "bigint"])
def test_cc_empty_edges_plan_no_python_rdd(spark, id_type):
    """An empty edge list returns zero rows of the id type as an empty
    ``LocalRelation``: ``createDataFrame`` of an empty pandas frame
    would plan a Python RDD, a job of its own when read."""
    edges = spark.range(0).selectExpr(
        f"cast(id as {id_type}) as src", f"cast(id as {id_type}) as dst"
    )
    out = connected_components(edges)
    assert out.schema.simpleString() == (
        f"struct<node:{id_type},component:{id_type}>"
    )
    assert "LogicalRDD" not in _optimized_plan(out)
    assert out.collect() == []


def test_canonical_entities_one_link_per_mention_folds_the_join(spark):
    """One link per mention (``score_links``' default ``top_k=1``)
    projects to zero edges: every entity is its own canonical id and
    the plan holds no Python RDD (the left join against the empty
    components folds away)."""
    import pandas as pd

    links = spark.createDataFrame(pd.DataFrame({
        "mention_id": [1, 2, 3, 4],
        "entity_id": ["e1", "e2", "e1", "e3"],
    }))
    out = canonical_entities(links)
    assert "LogicalRDD" not in _optimized_plan(out)
    got = {(r["entity_id"], r["canonical_id"]) for r in out.collect()}
    assert got == {("e1", "e1"), ("e2", "e2"), ("e3", "e3")}


def test_cc_null_endpoints_are_not_nodes_on_both_paths(spark):
    """NULL is not a node: an edge with one NULL endpoint keeps its
    other endpoint (as a self-loop), an edge with two is dropped. The
    driver union-find and the distributed rounds agree, and a NULL
    between two components no longer stalls the distributed rounds."""
    from golden_horse_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(
        [("a", None), (None, "c"), ("d", "e"), (None, None)],
        "src string, dst string",
    )
    want = {("a", "a"), ("c", "c"), ("d", "d"), ("e", "d")}
    for lim in (None, 0):  # driver union-find, then distributed rounds
        got = {
            (r["node"], r["component"])
            for r in connected_components(
                edges, max_iter=3, local_edge_limit=lim
            ).collect()
        }
        assert got == want, lim


def test_cc_converges_on_last_allowed_round(spark):
    """A 10-node path settles in exactly 8 distributed rounds; the 9th
    probe only confirms it. max_iter=8 must return, not raise."""
    from golden_horse_spark.operators.canonicalize import connected_components

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src int, dst int"
    )
    out = connected_components(path, max_iter=8, local_edge_limit=0)
    assert {(r["node"], r["component"]) for r in out.collect()} == {
        (i, 0) for i in range(10)
    }


def test_bcubed_pin_exact_for_multimillion_item_cell(spark):
    """The p_pin/r_pin longs must stay EXACT for contingency cells
    beyond ~3M items (round-5 review fix: the direct 10^6*n*n product
    wrapped int64 at n ≈ 3.04M; the Euclidean decomposition is exact
    to n ≈ 3e9). One 3.2M-item perfectly-matched cluster: pin = 10^6*n."""
    from golden_horse_spark.operators.canonicalize import bcubed

    n = 3_200_000
    labels = spark.range(n).select(
        F.lit("c").alias("pred_label"), F.lit("g").alias("gold_label")
    )
    row = bcubed(labels).collect()[0]
    assert row["n_items"] == n
    assert row["p_pin"] == n * 1_000_000
    assert row["r_pin"] == n * 1_000_000
    assert row["precision"] == 1.0 and row["recall"] == 1.0


def test_cosine_topk_zero_vector_does_not_crash(spark):
    """Spark 4 defaults ANSI on: an all-zero embedding made the row
    norm 0 and DIVIDE_BY_ZERO killed the whole query (round-5 review
    fix, reproduced live): zero vectors now score NULL and sort after
    every real result."""
    from golden_horse_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    rows = cosine_topk(df, [1.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in rows[:2]] == [1, 3]
    assert rows[0]["cosine"] == 1.0
    assert rows[2]["cosine"] is None


def test_sorted_neighborhood_rank_is_distributed_and_correct(spark):
    """The global rank must be computed WITHOUT an Exchange
    SinglePartition (round-5 review fix: the bare orderBy window moved
    the entire corpus through one task), and the emitted pairs must
    still be exactly the brute-force sorted-window pairs — including
    pairs that straddle range-partition boundaries."""
    from golden_horse_spark.operators.linking import (
        sorted_neighborhood_candidates,
    )

    recs = [(i, f"k{(i * 7) % 40:02d}") for i in range(80)]
    df = spark.createDataFrame(recs, "id int, key string").repartition(8)
    out = sorted_neighborhood_candidates(df, key_col="key", window=3)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    order = sorted(recs, key=lambda t: (t[1], t[0]))
    want = {
        (order[i][0], order[i + off][0])
        for i in range(len(order))
        for off in (1, 2)
        if i + off < len(order)
    }
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_fs_em_weights_all_null_field_no_crash(spark):
    """An agreement field NULL on every pair aggregates to SQL NULL —
    the M-step must apply the alpha-smoothed estimate, not TypeError
    (round-5 review fix)."""
    from golden_horse_spark.operators.linking import fs_em_weights

    pairs = spark.createDataFrame(
        [(True, None), (True, None), (False, None), (False, None)],
        "name_agree boolean, dob_agree boolean",
    )
    out = {r["field"]: r for r in
           fs_em_weights(pairs, ["name_agree", "dob_agree"], n_iter=3).collect()}
    assert set(out) == {"name_agree", "dob_agree"}
    assert out["dob_agree"]["n_match"] == 0


def test_soft_tfidf_null_name_scores_null(spark):
    """A NULL name side must score NULL like the other comparators —
    not a 0.0 indistinguishable from a genuine no-close-match (round-5
    review fix: ~NULL skipped the NULL branch)."""
    from golden_horse_spark.operators.linking import soft_tfidf

    corpus = spark.createDataFrame(
        [("john smith",), ("jon smyth",)], "name string"
    )
    pairs = spark.createDataFrame(
        [(None, "john smith"), ("", "john smith"), ("jon smyth", "john smith")],
        "a string, b string",
    )
    rows = soft_tfidf(pairs, "a", "b", corpus,
                      require_in_corpus=False).collect()
    by_a = {r["a"]: r["soft_tfidf"] for r in rows}
    assert by_a[None] is None
    assert by_a[""] is None
    assert by_a["jon smyth"] is not None and by_a["jon smyth"] > 0


def test_blocking_metrics_orientation_invariant(spark):
    """pair_completeness must not depend on the blocker's pair
    orientation vs the truth table's (round-5 review fix: exact-order
    semi-join silently reported recall 0)."""
    from golden_horse_spark.operators.linking import blocking_metrics

    cand = spark.createDataFrame([(2, 1)], "id_a int, id_b int")
    truth = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    row = blocking_metrics(cand, truth, n_left=10).collect()[0]
    assert row["n_found"] == 1 and row["pair_completeness"] == 1.0
