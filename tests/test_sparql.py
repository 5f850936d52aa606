"""SPARQL BGP / property-path / ρdf-closure tests.

Reference semantics come from a brute-force python evaluator written
here from the W3C algebra (enumerate all per-pattern matches, natural-
join binding dicts) and, for rdfs_closure, a naive run-rules-to-
fixpoint loop — so the Spark compiler's join ordering, OPTIONAL
left-join, and the one-instance-pass stratification are each checked
against the definition, not against themselves.
"""

import itertools

import pytest

from golden_horse_spark.operators.sparql import (
    OneOrMore,
    ZeroOrMore,
    rdfs_closure,
    sparql_select,
)

TRIPLES = [
    ("alice", "knows", "bob"),
    ("alice", "knows", "carol"),
    ("bob", "knows", "dave"),
    ("carol", "knows", "dave"),
    ("dave", "knows", "erin"),
    ("alice", "worksAt", "acme"),
    ("bob", "worksAt", "acme"),
    ("carol", "worksAt", "globex"),
    ("erin", "worksAt", "globex"),
    ("acme", "locatedIn", "berlin"),
    ("globex", "locatedIn", "paris"),
    ("alice", "likes", "alice"),  # reflexive row for repeated-var tests
    ("dave", "likes", "erin"),
]


@pytest.fixture(scope="module")
def tdf(spark):
    return spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")


# ---------- brute-force reference evaluator ----------


def _match(pat, triple):
    bind = {}
    for t, val in zip(pat, triple):
        if isinstance(t, str) and t.startswith("?"):
            v = t[1:]
            if v in bind and bind[v] != val:
                return None
            bind[v] = val
        elif t != val:
            return None
    return bind


def _bgp(triples, patterns):
    sols = [{}]
    for pat in patterns:
        nxt = []
        for sol in sols:
            for tr in triples:
                b = _match(pat, tr)
                if b is None:
                    continue
                if all(sol.get(k, b[k]) == b[k] for k in b):
                    nxt.append({**sol, **b})
        sols = nxt
    return sols


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _expected(triples, patterns, select):
    return sorted(
        set(tuple(s[v] for v in select) for s in _bgp(triples, patterns))
    )


def test_bgp_two_hop_join(tdf):
    pats = [
        ("?p", "worksAt", "?c"),
        ("?c", "locatedIn", "?city"),
    ]
    got = _rows(sparql_select(tdf, pats, select=["?p", "?city"]))
    assert got == _expected(TRIPLES, pats, ["p", "city"])
    assert got  # non-trivial


def test_bgp_three_patterns_shared_var(tdf):
    pats = [
        ("?a", "knows", "?b"),
        ("?b", "knows", "?c"),
        ("?a", "worksAt", "acme"),
    ]
    got = _rows(sparql_select(tdf, pats, select=["?a", "?c"]))
    assert got == _expected(TRIPLES, pats, ["a", "c"])


def test_filter_expression(tdf):
    pats = [("?a", "knows", "?b")]
    got = _rows(
        sparql_select(tdf, pats, where="b > 'c'", select=["?a", "?b"])
    )
    exp = [t for t in _expected(TRIPLES, pats, ["a", "b"]) if t[1] > "c"]
    assert got == exp


def test_repeated_variable_in_pattern(tdf):
    pats = [("?x", "likes", "?x")]
    got = _rows(sparql_select(tdf, pats, select=["?x"]))
    assert got == [("alice",)]


def test_ground_gate_true_and_false(tdf):
    pats = [("?p", "worksAt", "?c"), ("acme", "locatedIn", "berlin")]
    got = _rows(sparql_select(tdf, pats, select=["?p"]))
    assert got == _expected(TRIPLES, [("?p", "worksAt", "?c")], ["p"])
    pats_false = [("?p", "worksAt", "?c"), ("acme", "locatedIn", "tokyo")]
    assert _rows(sparql_select(tdf, pats_false, select=["?p"])) == []


def test_optional_left_join_nulls(tdf):
    # every company, optionally the person working there who also
    # knows dave: only bob (acme) and carol (globex) know dave
    pats = [("?c", "locatedIn", "?city")]
    opt = [[("?p", "worksAt", "?c"), ("?p", "knows", "dave")]]
    got = _rows(
        sparql_select(tdf, pats, optional=opt, select=["?c", "?p"])
    )
    assert got == [("acme", "bob"), ("globex", "carol")]


def test_optional_unmatched_is_null(spark):
    tri = spark.createDataFrame(
        [("x", "a", "y"), ("y", "b", "z")],
        "subj string, pred string, obj string",
    )
    got = _rows(
        sparql_select(
            tri,
            [("?s", "a", "?o")],
            optional=[[("?o", "missing", "?m")]],
            select=["?s", "?m"],
        )
    )
    assert got == [("x", None)]


def test_disconnected_raises_and_cartesian_opt_in(tdf):
    pats = [("?a", "knows", "?b"), ("?x", "locatedIn", "?y")]
    with pytest.raises(ValueError, match="cartesian"):
        sparql_select(tdf, pats, select=["?a", "?x"])
    got = _rows(
        sparql_select(tdf, pats, select=["?a", "?x"], allow_cartesian=True)
    )
    assert got == _expected(TRIPLES, pats, ["a", "x"])


def test_all_ground_raises(tdf):
    with pytest.raises(ValueError, match="ASK"):
        sparql_select(tdf, [("alice", "knows", "bob")])


# ---------- property paths ----------


def _closure_py(edges, reflexive_universe=None):
    nodes = sorted({n for e in edges for n in e})
    reach = set(edges)
    changed = True
    while changed:
        changed = False
        for (a, b), (c, d) in itertools.product(list(reach), list(reach)):
            if b == c and (a, d) not in reach:
                reach.add((a, d))
                changed = True
    if reflexive_universe is not None:
        reach |= {(n, n) for n in reflexive_universe}
    return reach


def test_one_or_more_path(tdf):
    knows = [(s, o) for s, p, o in TRIPLES if p == "knows"]
    exp = sorted(_closure_py(knows))
    got = _rows(
        sparql_select(
            tdf, [("?a", OneOrMore("knows"), "?b")], select=["?a", "?b"]
        )
    )
    assert got == exp


def test_one_or_more_bound_source(tdf):
    knows = [(s, o) for s, p, o in TRIPLES if p == "knows"]
    exp = sorted(b for a, b in _closure_py(knows) if a == "alice")
    got = _rows(
        sparql_select(
            tdf, [("alice", OneOrMore("knows"), "?b")], select=["?b"]
        )
    )
    assert got == [(x,) for x in exp]


def test_zero_or_more_path(tdf):
    knows = [(s, o) for s, p, o in TRIPLES if p == "knows"]
    universe = {n for e in knows for n in e}
    exp = sorted(_closure_py(knows, reflexive_universe=universe))
    got = _rows(
        sparql_select(
            tdf, [("?a", ZeroOrMore("knows"), "?b")], select=["?a", "?b"]
        )
    )
    assert got == exp


def test_path_joined_with_pattern(tdf):
    # everyone reachable from alice via knows+, and where they work
    pats = [
        ("alice", OneOrMore("knows"), "?p"),
        ("?p", "worksAt", "?c"),
    ]
    knows = [(s, o) for s, p, o in TRIPLES if p == "knows"]
    reach = {b for a, b in _closure_py(knows) if a == "alice"}
    exp = sorted(
        (p, c) for s, pr, c in TRIPLES
        for p in [s] if pr == "worksAt" and p in reach
    )
    got = _rows(sparql_select(tdf, pats, select=["?p", "?c"]))
    assert got == exp


def test_path_no_such_predicate(tdf):
    got = _rows(
        sparql_select(
            tdf, [("?a", OneOrMore("nope"), "?b")], select=["?a", "?b"]
        )
    )
    assert got == []


# ---------- rdfs closure ----------

SCO, SPO = "rdfs:subClassOf", "rdfs:subPropertyOf"
DOM, RNG, TYP = "rdfs:domain", "rdfs:range", "rdf:type"


def _rdfs_py(triples):
    """Naive ρdf fixpoint — apply all six rules until nothing changes."""
    t = set(triples)
    changed = True
    while changed:
        changed = False
        new = set()
        for (a, p1, b), (c, p2, d) in itertools.product(list(t), list(t)):
            if p1 == SCO and p2 == SCO and b == c:
                new.add((a, SCO, d))
            if p1 == SPO and p2 == SPO and b == c:
                new.add((a, SPO, d))
            if p2 == SPO and p1 == c:
                new.add((a, d, b))
            if p2 == DOM and p1 == c:
                new.add((a, TYP, d))
            if p2 == RNG and p1 == c:
                new.add((b, TYP, d))
            if p1 == TYP and p2 == SCO and b == c:
                new.add((a, TYP, d))
        if new - t:
            t |= new
            changed = True
    return t


RDFS_DATA = [
    # ontology
    ("Employee", SCO, "Person"),
    ("Person", SCO, "Agent"),
    ("Manager", SCO, "Employee"),
    ("manages", SPO, "worksWith"),
    ("worksWith", SPO, "relatedTo"),
    ("manages", DOM, "Manager"),
    ("manages", RNG, "Employee"),
    ("locatedIn", RNG, "Place"),
    # instance
    ("ann", "manages", "bob"),
    ("bob", "worksWith", "carl"),
    ("acme", "locatedIn", "berlin"),
    ("carl", TYP, "Employee"),
]


def test_rdfs_closure_matches_fixpoint(spark):
    tdf = spark.createDataFrame(
        RDFS_DATA, "subj string, pred string, obj string"
    )
    got = set(tuple(r) for r in rdfs_closure(tdf).collect())
    exp = _rdfs_py(RDFS_DATA)
    assert got == exp
    # spot-check the chained inferences actually fired:
    assert ("ann", "relatedTo", "bob") in got        # spo chain ×2
    assert ("ann", TYP, "Manager") in got            # domain
    assert ("ann", TYP, "Agent") in got              # dom → sco chain ×3
    assert ("bob", TYP, "Person") in got             # range → sco
    assert ("berlin", TYP, "Place") in got           # range on plain pred
    assert ("Manager", SCO, "Agent") in got          # sco TC


def test_rdfs_closure_no_schema_is_identity(spark):
    rows = [("a", "p", "b"), ("b", "q", "c")]
    tdf = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = set(tuple(r) for r in rdfs_closure(tdf).collect())
    assert got == set(rows)


def test_rdfs_closure_idempotent(spark):
    tdf = spark.createDataFrame(
        RDFS_DATA, "subj string, pred string, obj string"
    )
    once = rdfs_closure(tdf)
    twice = rdfs_closure(once)
    assert set(map(tuple, once.collect())) == set(map(tuple, twice.collect()))


# ---------- CONSTRUCT ----------


def test_construct_two_hop(tdf):
    from golden_horse_spark.operators.sparql import sparql_construct

    got = _rows(
        sparql_construct(
            tdf,
            [("?a", "knows", "?b"), ("?b", "knows", "?c")],
            [("?a", "knows2", "?c")],
        )
    )
    knows = [(s, o) for s, p, o in TRIPLES if p == "knows"]
    exp = sorted(
        {(a, "knows2", c) for a, b in knows for b2, c in knows if b == b2}
    )
    assert got == exp


def test_construct_multi_template_and_constants(tdf):
    from golden_horse_spark.operators.sparql import sparql_construct

    got = _rows(
        sparql_construct(
            tdf,
            [("?p", "worksAt", "?c"), ("?c", "locatedIn", "berlin")],
            [("?p", "cityOf", "berlin"), ("?p", "rdf:type", "BerlinWorker")],
        )
    )
    workers = sorted(
        s for s, p, o in TRIPLES if p == "worksAt" and o == "acme"
    )
    exp = sorted(
        [(w, "cityOf", "berlin") for w in workers]
        + [(w, "rdf:type", "BerlinWorker") for w in workers]
    )
    assert got == exp


def test_construct_unbound_template_var_raises(tdf):
    from golden_horse_spark.operators.sparql import sparql_construct

    with pytest.raises(ValueError, match="not bound"):
        sparql_construct(
            tdf, [("?a", "knows", "?b")], [("?a", "x", "?zzz")]
        )


# ---------- SHACL ----------


def test_shacl_all_constraint_kinds(spark):
    from golden_horse_spark.operators.sparql import (
        ShClass,
        ShMaxCount,
        ShMinCount,
        ShPattern,
        shacl_validate,
    )

    rows = [
        ("e1", "rdf:type", "Employee"),
        ("e2", "rdf:type", "Employee"),
        ("e3", "rdf:type", "Employee"),
        ("e1", "worksAt", "acme"),
        ("e2", "worksAt", "acme"),
        ("e2", "worksAt", "globex"),       # e2 has 2 employers
        ("e1", "email", "e1@example.com"),
        ("e2", "email", "not-an-email"),   # pattern violation
        ("acme", "rdf:type", "Company"),   # globex is NOT typed
    ]
    tdf = spark.createDataFrame(rows, "subj string, pred string, obj string")
    shapes = [
        ShMinCount("emp-needs-job", "Employee", "worksAt", 1),
        ShMaxCount("one-job", "worksAt", 1),
        ShPattern("email-fmt", "email", r"^[\w.]+@[\w.]+$"),
        ShClass("employer-is-company", "worksAt", "Company", on="obj"),
    ]
    got = sorted(map(tuple, shacl_validate(tdf, shapes).collect()))
    assert got == [
        ("email-fmt", "e2", "not-an-email"),
        ("emp-needs-job", "e3", "0"),
        ("employer-is-company", "globex", None),
        ("one-job", "e2", "2"),
    ]


def test_shacl_maxcount_target_class_scopes(spark):
    from golden_horse_spark.operators.sparql import ShMaxCount, shacl_validate

    rows = [
        ("e1", "rdf:type", "Employee"),
        ("e1", "worksAt", "a"),
        ("e1", "worksAt", "b"),
        ("x9", "worksAt", "a"),
        ("x9", "worksAt", "b"),  # x9 untyped: out of scope
    ]
    tdf = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = shacl_validate(
        tdf, [ShMaxCount("one-job", "worksAt", 1, target_class="Employee")]
    ).collect()
    assert [(r.constraint, r.focus, r.value) for r in got] == [
        ("one-job", "e1", "2")
    ]


def test_shacl_conforming_graph_is_empty(spark):
    from golden_horse_spark.operators.sparql import (
        ShMinCount,
        ShPattern,
        shacl_validate,
    )

    rows = [
        ("e1", "rdf:type", "Employee"),
        ("e1", "worksAt", "acme"),
    ]
    tdf = spark.createDataFrame(rows, "subj string, pred string, obj string")
    shapes = [
        ShMinCount("j", "Employee", "worksAt", 1),
        ShPattern("w", "worksAt", r"^[a-z]+$"),
    ]
    assert shacl_validate(tdf, shapes).count() == 0


def test_shacl_after_closure_validates_entailed_types(spark):
    """The closure infers the types, the validator checks against them
    — run on the RAW graph the ShClass constraint fires (nobody is
    explicitly typed), on the CLOSED graph it conforms."""
    from golden_horse_spark.operators.sparql import (
        ShClass,
        rdfs_closure,
        shacl_validate,
    )

    rows = [
        ("manages", SPO, "worksWith"),
        ("manages", DOM, "Manager"),
        ("ann", "manages", "bob"),
    ]
    tdf = spark.createDataFrame(rows, "subj string, pred string, obj string")
    shape = [ShClass("mgr", "manages", "Manager", on="subj")]
    raw = shacl_validate(tdf, shape).collect()
    assert [(r.constraint, r.focus) for r in raw] == [("mgr", "ann")]
    closed = rdfs_closure(tdf)
    assert shacl_validate(closed, shape).count() == 0


def test_rdfs_closure_cyclic_schema_equivalence(spark):
    """Mutual subClassOf (class equivalence): the fixpoint entails the
    reflexive pairs and membership flows both ways."""
    rows = [
        ("A", SCO, "B"),
        ("B", SCO, "A"),
        ("x", TYP, "A"),
    ]
    tdf = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = set(map(tuple, rdfs_closure(tdf).collect()))
    assert got == _rdfs_py(rows)
    assert ("A", SCO, "A") in got and ("B", SCO, "B") in got
    assert ("x", TYP, "B") in got


# ---------- UNION / NOT EXISTS / MINUS ----------


def test_union_branches_and_unbound_nulls(tdf):
    from golden_horse_spark.operators.sparql import sparql_union

    got = _rows(
        sparql_union(
            tdf,
            [
                [("?p", "worksAt", "acme")],
                [("?p", "knows", "erin"), ("?p", "likes", "?x")],
            ],
        )
    )
    # branch 1 binds only ?p (x unbound → null); branch 2: dave knows
    # erin AND dave likes erin
    assert got == [("alice", None), ("bob", None), ("dave", "erin")]


def test_union_empty_groups_raise(tdf):
    import pytest as _pt

    from golden_horse_spark.operators.sparql import sparql_union

    with _pt.raises(ValueError, match="empty"):
        sparql_union(tdf, [])


def test_not_exists_removes_matching_solutions(tdf):
    # people and employers, except anyone who knows dave
    got = _rows(
        sparql_select(
            tdf,
            [("?p", "worksAt", "?c")],
            not_exists=[[("?p", "knows", "dave")]],
            select=["?p", "?c"],
        )
    )
    base = _expected(TRIPLES, [("?p", "worksAt", "?c")], ["p", "c"])
    knows_dave = {s for s, pr, o in TRIPLES if pr == "knows" and o == "dave"}
    assert got == [t for t in base if t[0] not in knows_dave]


def test_minus_disjoint_group_removes_nothing(tdf):
    got = _rows(
        sparql_select(
            tdf,
            [("?p", "worksAt", "?c")],
            minus=[[("?x", "locatedIn", "?y")]],
            select=["?p", "?c"],
        )
    )
    assert got == _expected(TRIPLES, [("?p", "worksAt", "?c")], ["p", "c"])


def test_not_exists_disjoint_raises(tdf):
    import pytest as _pt

    with _pt.raises(NotImplementedError, match="correlated"):
        sparql_select(
            tdf,
            [("?p", "worksAt", "?c")],
            not_exists=[[("?x", "locatedIn", "?y")]],
            select=["?p"],
        )


# ---------- owl:sameAs resolution ----------


def test_same_as_smushing(spark):
    from golden_horse_spark.operators.sparql import resolve_same_as

    rows = [
        ("a1", "owl:sameAs", "a2"),
        ("a3", "owl:sameAs", "a2"),       # chain: {a1,a2,a3} → a1
        ("b1", "owl:sameAs", "b2"),       # {b1,b2} → b1
        ("a2", "knows", "b2"),
        ("a3", "knows", "b1"),            # collapses onto (a1 knows b1)
        ("a1", "worksAt", "acme"),
        ("z", "knows", "a3"),
        ("plain", "knows", "alone"),
    ]
    tdf = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = sorted(map(tuple, resolve_same_as(tdf).collect()))
    assert got == [
        ("a1", "knows", "b1"),
        ("a1", "worksAt", "acme"),
        ("plain", "knows", "alone"),
        ("z", "knows", "a1"),
    ]


def test_same_as_keep_rewritten(spark):
    from golden_horse_spark.operators.sparql import resolve_same_as

    rows = [
        ("a1", "owl:sameAs", "a2"),
        ("a2", "knows", "x"),
    ]
    tdf = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = sorted(
        map(tuple, resolve_same_as(tdf, keep_same_as=True).collect())
    )
    # the sameAs statement smushes to the tautology (a1 sameAs a1)
    assert got == [("a1", "knows", "x"), ("a1", "owl:sameAs", "a1")]


def test_same_as_no_statements_is_passthrough(spark):
    from golden_horse_spark.operators.sparql import resolve_same_as

    rows = [("a", "p", "b"), ("a", "p", "b"), ("b", "q", "c")]
    tdf = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = sorted(map(tuple, resolve_same_as(tdf).collect()))
    assert got == [("a", "p", "b"), ("b", "q", "c")]


# ---------- VALUES / BIND / aggregates (§10, §11, §15) ----------


def test_values_restricts_on_shared_var(tdf):
    got = _rows(
        sparql_select(
            tdf,
            [("?p", "worksAt", "?c")],
            values=(("?c",), [("acme",)]),
            select=["?p", "?c"],
        )
    )
    base = _expected(TRIPLES, [("?p", "worksAt", "?c")], ["p", "c"])
    assert got == [t for t in base if t[1] == "acme"]
    assert got  # non-trivial


def test_values_disjoint_is_cartesian_extension(tdf):
    # VALUES introducing a brand-new variable: spec §10.2 extends every
    # solution with each inline row.
    got = _rows(
        sparql_select(
            tdf,
            [("?p", "worksAt", "acme")],
            values=(("?tag",), [("x",), ("y",)]),
            select=["?p", "?tag"],
        )
    )
    ppl = sorted(
        {s for s, pr, o in TRIPLES if pr == "worksAt" and o == "acme"}
    )
    assert got == sorted((p, t) for p in ppl for t in ("x", "y"))


def test_bind_extends_and_filter_sees_it(tdf):
    got = _rows(
        sparql_select(
            tdf,
            [("?p", "worksAt", "?c")],
            bind={"?ln": "length(p)"},
            where="ln >= 5",
            select=["?p", "?ln"],
        )
    )
    base = _expected(TRIPLES, [("?p", "worksAt", "?c")], ["p"])
    exp = sorted((p, len(p)) for (p,) in base if len(p) >= 5)
    assert got == exp
    assert got


def test_bind_rebinding_raises(tdf):
    import pytest as _pt

    with _pt.raises(ValueError, match="already bound"):
        sparql_select(
            tdf,
            [("?p", "worksAt", "?c")],
            bind={"?p": "upper(c)"},
            select=["?p"],
        )


def _agg_expected(patterns, group_vars, select_vars=None):
    """Brute-force §11: group the solution MULTISET, count members."""
    from collections import Counter

    sols = _bgp(TRIPLES, patterns)
    cnt = Counter(tuple(s[v] for v in group_vars) for s in sols)
    return sorted((*k, n) for k, n in cnt.items())


def test_agg_count_is_multiset_not_set(tdf):
    from golden_horse_spark.operators.sparql import sparql_agg

    # two knows-paths land in globex, one in acme; DISTINCT projection
    # would collapse both groups to 1 — the multiset count must not.
    pats = [("?a", "knows", "?b"), ("?b", "worksAt", "?c")]
    got = _rows(
        sparql_agg(tdf, pats, {"n": "count(*)"}, group_by=["?c"])
    )
    assert got == _agg_expected(pats, ["c"])
    assert dict(got)["globex"] == 2  # the multiset-sensitive group


def test_agg_global_group_and_avg(tdf):
    from golden_horse_spark.operators.sparql import sparql_agg

    row = sparql_agg(
        tdf,
        [("?p", "worksAt", "?c")],
        {"n": "count(*)", "avg_len": "avg(length(p))"},
    ).collect()[0]
    ppl = [s for s, pr, o in TRIPLES if pr == "worksAt"]
    assert row["n"] == len(ppl)
    assert abs(row["avg_len"] - sum(map(len, ppl)) / len(ppl)) < 1e-12


def test_agg_group_concat_and_sample_deterministic(tdf):
    from golden_horse_spark.operators.sparql import (
        group_concat,
        sample_of,
        sparql_agg,
    )

    got = {
        r["c"]: (r["members"], r["one"])
        for r in sparql_agg(
            tdf,
            [("?p", "worksAt", "?c")],
            {"members": group_concat("?p", ","), "one": sample_of("?p")},
            group_by=["?c"],
        ).collect()
    }
    assert got["acme"] == ("alice,bob", "alice")
    assert got["globex"] == ("carol,erin", "carol")


def test_agg_having_order_limit_offset(tdf):
    from golden_horse_spark.operators.sparql import sparql_agg

    pats = [("?a", "knows", "?b")]
    # per-source out-degree: alice 2, bob 1, carol 1, dave 1
    full = sparql_agg(
        tdf, pats, {"n": "count(*)"}, group_by=["?a"],
        order_by=["-n", "a"],
    ).collect()
    assert [(r["a"], r["n"]) for r in full] == [
        ("alice", 2), ("bob", 1), ("carol", 1), ("dave", 1)
    ]
    top = sparql_agg(
        tdf, pats, {"n": "count(*)"}, group_by=["?a"],
        order_by=["-n", "a"], limit=2,
    ).collect()
    assert [(r["a"], r["n"]) for r in top] == [("alice", 2), ("bob", 1)]
    paged = sparql_agg(
        tdf, pats, {"n": "count(*)"}, group_by=["?a"],
        order_by=["-n", "a"], limit=2, offset=1,
    ).collect()
    assert [(r["a"], r["n"]) for r in paged] == [("bob", 1), ("carol", 1)]
    having = sparql_agg(
        tdf, pats, {"n": "count(*)"}, group_by=["?a"], having="n >= 2",
    ).collect()
    assert [(r["a"], r["n"]) for r in having] == [("alice", 2)]


def test_agg_offset_without_order_raises(tdf):
    import pytest as _pt

    from golden_horse_spark.operators.sparql import sparql_agg

    with _pt.raises(ValueError, match="OFFSET"):
        sparql_agg(
            tdf, [("?a", "knows", "?b")], {"n": "count(*)"},
            group_by=["?a"], offset=1,
        )


def test_agg_composes_with_values_and_bind(tdf):
    from golden_horse_spark.operators.sparql import sparql_agg

    got = _rows(
        sparql_agg(
            tdf,
            [("?p", "worksAt", "?c")],
            {"total": "sum(ln)"},
            group_by=["?c"],
            values=(("?c",), [("acme",), ("globex",)]),
            bind={"?ln": "length(p)"},
        )
    )
    exp = {}
    for s, pr, o in TRIPLES:
        if pr == "worksAt":
            exp[o] = exp.get(o, 0) + len(s)
    assert got == sorted(exp.items())


# ---------- path algebra: Inv / Seq / Alt / nested closures / ASK ----------


def _arcs_py(triples, path):
    """Brute-force path-to-arc-set evaluator mirroring §9.1 semantics."""
    from golden_horse_spark.operators.sparql import (
        Alt,
        Inv,
        NegatedSet,
        OneOrMore,
        Seq,
        ZeroOrMore,
        ZeroOrOne,
    )

    if isinstance(path, str):
        return {(s, o) for s, p, o in triples if p == path}
    if isinstance(path, NegatedSet):
        return {(s, o) for s, p, o in triples if p not in path.preds}
    if isinstance(path, ZeroOrOne):
        base = _arcs_py(triples, path.pred)
        universe = {a for a, b in base} | {b for a, b in base}
        return base | {(u, u) for u in universe}
    if isinstance(path, Inv):
        return {(o, s) for s, o in _arcs_py(triples, path.path)}
    if isinstance(path, Seq):
        acc = _arcs_py(triples, path.paths[0])
        for nxt in path.paths[1:]:
            step = _arcs_py(triples, nxt)
            acc = {(a, d) for a, b in acc for c, d in step if b == c}
        return acc
    if isinstance(path, Alt):
        out = set()
        for m in path.paths:
            out |= _arcs_py(triples, m)
        return out
    if isinstance(path, (OneOrMore, ZeroOrMore)):
        base = _arcs_py(triples, path.pred)
        closure = set(base)
        while True:
            nxt = closure | {
                (a, d) for a, b in closure for c, d in base if b == c
            }
            if nxt == closure:
                break
            closure = nxt
        if isinstance(path, ZeroOrMore):
            universe = {a for a, b in base} | {b for a, b in base}
            closure |= {(u, u) for u in universe}
        return closure
    raise AssertionError(path)


def _path_expected(path, select_first=True):
    return sorted(_arcs_py(TRIPLES, path))


def test_inverse_path(tdf):
    from golden_horse_spark.operators.sparql import Inv

    got = _rows(
        sparql_select(tdf, [("?c", Inv("worksAt"), "?p")], select=["?c", "?p"])
    )
    assert got == _path_expected(Inv("worksAt"))
    assert got


def test_sequence_path(tdf):
    from golden_horse_spark.operators.sparql import Seq

    # person -> employer -> city
    p = Seq("worksAt", "locatedIn")
    got = _rows(sparql_select(tdf, [("?p", p, "?city")], select=["?p", "?city"]))
    assert got == _path_expected(p)
    assert got


def test_alternation_and_nested_seq_alt(tdf):
    from golden_horse_spark.operators.sparql import Alt, Seq

    p = Alt("knows", Seq("worksAt", "locatedIn"))
    got = _rows(sparql_select(tdf, [("?a", p, "?b")], select=["?a", "?b"]))
    assert got == _path_expected(p)


def test_closure_over_alternation(tdf):
    from golden_horse_spark.operators.sparql import Alt, OneOrMore

    # (knows|likes)+ — nested path inside the closure
    p = OneOrMore(Alt("knows", "likes"))
    got = _rows(sparql_select(tdf, [("?a", p, "?b")], select=["?a", "?b"]))
    assert got == _path_expected(p)


def test_inverse_seq_join_with_pattern(tdf):
    from golden_horse_spark.operators.sparql import Inv, Seq

    # colleagues: ?a worksAt c, ?b worksAt c (via worksAt/^worksAt)
    p = Seq("worksAt", Inv("worksAt"))
    got = _rows(
        sparql_select(
            tdf,
            [("?a", p, "?b"), ("?a", "knows", "?x")],
            where="a != b",
            select=["?a", "?b"],
        )
    )
    coll = _arcs_py(TRIPLES, p)
    knows = {s for s, pr, o in TRIPLES if pr == "knows"}
    assert got == sorted({(a, b) for a, b in coll if a != b and a in knows})


def test_path_bound_endpoints(tdf):
    from golden_horse_spark.operators.sparql import Seq

    p = Seq("worksAt", "locatedIn")
    got = _rows(sparql_select(tdf, [("?p", p, "berlin")], select=["?p"]))
    assert got == sorted(
        {(a,) for a, b in _arcs_py(TRIPLES, p) if b == "berlin"}
    )


def test_ask(tdf):
    from golden_horse_spark.operators.sparql import Seq, sparql_ask

    assert sparql_ask(tdf, [("?p", "worksAt", "acme")])
    assert not sparql_ask(tdf, [("?p", "worksAt", "initech")])
    # fully-ground ASK (SELECT raises on this form)
    assert sparql_ask(tdf, [("alice", "knows", "bob")])
    assert not sparql_ask(tdf, [("bob", "knows", "alice")])
    # path ASK
    assert sparql_ask(tdf, [("alice", Seq("worksAt", "locatedIn"), "berlin")])
    # distinct in kwargs is absorbed (ASK is existence), both branches
    assert sparql_ask(tdf, [("?p", "worksAt", "acme")], distinct=True)
    assert sparql_ask(tdf, [("alice", "knows", "bob")], distinct=True)
    # group-level options need bindings: the ground gate path refuses
    # them instead of silently ignoring (ADVICE r4 fix)
    import pytest as _pt

    with _pt.raises(ValueError, match="fully-ground"):
        sparql_ask(tdf, [("alice", "knows", "bob")], where="?x = 'y'")
    with _pt.raises(ValueError, match="fully-ground"):
        sparql_ask(
            tdf, [("alice", "knows", "bob")],
            not_exists=[("alice", "likes", "?z")],
        )


def test_zero_or_one(tdf):
    from golden_horse_spark.operators.sparql import Seq, ZeroOrOne

    p = ZeroOrOne("knows")
    got = _rows(sparql_select(tdf, [("?a", p, "?b")], select=["?a", "?b"]))
    assert got == _path_expected(p)
    # nested: worksAt/locatedIn? — employer, and its city when known
    p2 = Seq("worksAt", ZeroOrOne("locatedIn"))
    got2 = _rows(sparql_select(tdf, [("?a", p2, "?b")], select=["?a", "?b"]))
    assert got2 == _path_expected(p2)
    assert ("alice", "acme") in got2 and ("alice", "berlin") in got2


def test_negated_property_set(tdf):
    from golden_horse_spark.operators.sparql import NegatedSet, OneOrMore

    p = NegatedSet("knows", "likes")
    got = _rows(sparql_select(tdf, [("?a", p, "?b")], select=["?a", "?b"]))
    assert got == _path_expected(p)
    assert all(
        (a, b) not in _arcs_py(TRIPLES, "knows") for a, b in got
    )
    # closure over a negated set: !(knows|likes)+ walks worksAt→locatedIn
    pc = OneOrMore(NegatedSet("knows", "likes"))
    gotc = _rows(sparql_select(tdf, [("?a", pc, "?b")], select=["?a", "?b"]))
    assert gotc == _path_expected(pc)
    assert ("alice", "berlin") in gotc
    import pytest as _pytest

    with _pytest.raises(ValueError):
        NegatedSet()


def test_describe(tdf):
    from golden_horse_spark.operators.sparql import sparql_describe

    got = sorted(
        tuple(r) for r in sparql_describe(tdf, ["acme"]).collect()
    )
    exp = sorted(
        {t for t in TRIPLES if t[0] == "acme" or t[2] == "acme"}
    )
    assert got == exp
    # outgoing-only form
    got_out = sorted(
        tuple(r)
        for r in sparql_describe(tdf, ["acme"], incoming=False).collect()
    )
    assert got_out == sorted({t for t in TRIPLES if t[0] == "acme"})
    # DESCRIBE ?x WHERE { ?x worksAt globex }
    got_var = sorted(
        tuple(r)
        for r in sparql_describe(
            tdf, "?x", patterns=[("?x", "worksAt", "globex")]
        ).collect()
    )
    who = {s for s, p, o in TRIPLES if p == "worksAt" and o == "globex"}
    assert got_var == sorted(
        {t for t in TRIPLES if t[0] in who or t[2] in who}
    )


def test_closure_pairs_random_graphs_vs_python(spark):
    """Randomized digraphs WITH self-loops and cycles: p+ / p* pair
    sets must equal the brute-force transitive closure — the deep
    check on the cycle-faithful closure-join formulation."""
    import random

    from golden_horse_spark.operators.sparql import OneOrMore, ZeroOrMore

    rng = random.Random(17)
    for trial in range(4):
        n = rng.randint(4, 8)
        arcs = {
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(3, 14))
        }
        triples = [(f"n{a}", "p", f"n{b}") for a, b in arcs]
        tdf_r = spark.createDataFrame(
            triples, "subj string, pred string, obj string"
        )
        for path in (OneOrMore("p"), ZeroOrMore("p")):
            got = _rows(
                sparql_select(tdf_r, [("?a", path, "?b")],
                              select=["?a", "?b"], max_path_hops=20)
            )
            want = sorted(_arcs_py(triples, path))
            assert got == want, (trial, sorted(arcs), path)


def test_single_source_closure_random_vs_python(spark):
    """Bound-subject closures (the single-source cone optimization)
    agree with the brute force on cyclic graphs too."""
    import random

    from golden_horse_spark.operators.sparql import OneOrMore, ZeroOrMore

    rng = random.Random(23)
    for trial in range(3):
        n = rng.randint(4, 7)
        arcs = {
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(3, 12))
        }
        triples = [(f"n{a}", "p", f"n{b}") for a, b in arcs]
        tdf_r = spark.createDataFrame(
            triples, "subj string, pred string, obj string"
        )
        src = f"n{rng.randrange(n)}"
        for path in (OneOrMore("p"), ZeroOrMore("p")):
            got = _rows(
                sparql_select(tdf_r, [(src, path, "?b")],
                              select=["?b"], max_path_hops=20)
            )
            want = sorted(
                {(b,) for a, b in _arcs_py(triples, path) if a == src}
            )
            assert got == want, (trial, src, sorted(arcs), path)


def test_sparql_values_typed_literals(spark):
    """VALUES rows with non-string literals must join a typed KG column
    exactly (round-5 review fix: the hardcoded string schema rejected
    them with TypeError)."""
    from golden_horse_spark.operators.sparql import sparql_select

    t = spark.createDataFrame(
        [(1, "likes", 2), (2, "likes", 3)],
        "subj long, pred string, obj long",
    )
    out = sparql_select(
        t,
        patterns=[("?x", "likes", "?y")],
        values=(("?x",), [(1,)]),
    ).collect()
    assert {(r["x"], r["y"]) for r in out} == {(1, 2)}


def test_rdfs_closure_meta_schema_fixpoint(spark):
    """An ontology mapping its own relation onto rdfs:subClassOf via
    subPropertyOf (meta-schema): rule 3 derives new sco rows that the
    first pass's schema closure never saw — the closure must re-run to
    the fixpoint so rule 6 still entails through them (round-5 review
    fix: one-pass stratification silently under-entailed)."""
    from golden_horse_spark.operators.sparql import rdfs_closure

    t = spark.createDataFrame(
        [
            ("myRel", "rdfs:subPropertyOf", "rdfs:subClassOf"),
            ("A", "myRel", "B"),
            ("x", "rdf:type", "A"),
        ],
        "subj string, pred string, obj string",
    )
    out = {(r["subj"], r["pred"], r["obj"]) for r in rdfs_closure(t).collect()}
    assert ("A", "rdfs:subClassOf", "B") in out   # rule 3
    assert ("x", "rdf:type", "B") in out          # rule 6 through it


def test_closures_raise_past_their_hop_cap(spark):
    """Arbitrary-length closures (SPARQL ``p+``, ρdf subClassOf) raise
    naming the cap when a chain outruns it, instead of truncating."""
    schema = "subj string, pred string, obj string"
    chain = spark.createDataFrame(
        [(f"n{i}", "p", f"n{i + 1}") for i in range(12)], schema
    )  # 13 nodes: 78 p+ pairs
    pat = [("?x", OneOrMore("p"), "?y")]
    with pytest.raises(RuntimeError, match="max_path_hops=10"):
        sparql_select(chain, pat)
    got = _rows(sparql_select(chain, pat, max_path_hops=12))
    assert got == sorted(
        (f"n{i}", f"n{j}") for i in range(13) for j in range(i + 1, 13)
    )

    classes = [(f"C{i}", SCO, f"C{i + 1}") for i in range(20)]  # 21 classes
    tdf = spark.createDataFrame([("x", TYP, "C0")] + classes, schema)
    with pytest.raises(RuntimeError, match="max_hops=16"):
        rdfs_closure(tdf)
    typed = {
        r["obj"] for r in rdfs_closure(tdf, max_hops=20).collect()
        if r["subj"] == "x" and r["pred"] == TYP
    }
    assert typed == {f"C{i}" for i in range(21)}

    # the distributed closure of a large schema: the same rule
    short = spark.createDataFrame([("x", TYP, "C0")] + classes[:5], schema)
    with pytest.raises(RuntimeError, match="max_hops=4"):
        rdfs_closure(short, max_hops=4, collect_threshold=0)
    got = rdfs_closure(short, max_hops=5, collect_threshold=0).collect()
    assert set(map(tuple, got)) == _rdfs_py([("x", TYP, "C0")] + classes[:5])
