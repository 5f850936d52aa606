"""Graph analytics over materialized KG tables: PageRank, exact
triangle counting, k-core decomposition.

Iterative graph operators beside connected components
(``canonicalize.connected_components``), with the same scale
discipline for relational iteration:

* the edge table (with out-degrees) is hash-partitioned on the PROBE
  key once and checkpointed with ``plans.pin`` (which keeps the hash
  partitioning) — every round's rank join reuses that exchange, so a
  round costs ONE shuffle (the contribution groupBy) instead of three;
* ``localCheckpoint`` per round keeps the plan O(1) in rounds;
* the only driver-side values are bounded scalars (node count, dangling
  rank mass — one double per round).

Dangling nodes (no out-edges) redistribute their mass uniformly, the
standard correction — without it rank mass leaks and sums drift below
1. Verified against a dense NumPy power iteration in tests/test_graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.fixpoint import fixpoint
from ..plans.pin import pin as _pin

# Test seam for the per-round shuffle-budget claims: set to a list (in
# tests) and the iterative operators append ``(tag, n_exchanges)`` for
# every ROUND PLAN as scheduled — the audited df is the round body
# BEFORE its checkpoint, reading the previous round's pinned state,
# i.e. exactly the recurring unit the docstring budgets describe.
# None (default) = no-op, zero planning cost in production.
_plan_audit: list | None = None


def _audit_plan(tag: str, df: DataFrame) -> None:
    if _plan_audit is not None:
        from ..plans.audit import n_exchanges

        # probe a CLONE (fresh QueryExecution): planning the df itself
        # here would cache an AQE physical plan on it, and the
        # partitioning-preserving checkpoint that follows would then
        # capture UnknownPartitioning — the audit must not perturb the
        # very property it measures
        _plan_audit.append((tag, n_exchanges(df.select("*"))))


def _arcs(edges, src, dst, p, key="a", directed=False):
    """The pinned arc table ``(a, b)`` most operators here start from:
    ``src → dst`` arcs, plus the reversed arcs when the graph is
    undirected, without self-loops or duplicates, hash-partitioned on
    ``key`` (the probe side of the operator's round join) and
    checkpointed so every round reuses that exchange."""
    arcs = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        arcs = arcs.union(
            arcs.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    return (
        arcs.where(F.col("a") != F.col("b"))
        .distinct()
        .repartition(p, key)
        .transform(_pin)
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    num_partitions: int | None = None,
    sources=None,
    weight_col: str | None = None,
) -> DataFrame:
    """Directed edges(src, dst) → (node, rank), fixed ``n_iter`` power
    iterations (fixed count keeps the result deterministic for oracles;
    pass the symmetrized edge table for an undirected walk).

    ``sources``: optional list of node ids — PERSONALIZED PageRank: the
    teleport (and dangling-mass) distribution concentrates uniformly on
    the source set instead of all nodes, giving importance RELATIVE to
    the seeds (the standard KG seed-entity relevance walk). The reset
    vector becomes a per-node column on the pinned nodes table (one
    broadcast semi-join, computed once); each round's update is the same
    single-shuffle contribution aggregate — no extra exchanges vs the
    global walk.

    ``weight_col``: optional positive edge-weight column — WEIGHTED
    PageRank: a node's rank splits across its out-edges in proportion
    to weight (contribution = rank · w / Σ_out w) instead of uniformly.
    This is the natural walk over a KG link graph where edges carry
    link/coherence scores. Parallel (src, dst) rows sum their weights;
    zero-weight edges are dropped BEFORE node discovery (they carry no
    mass; a node incident only to zero-weight edges is not in the
    graph); negative weights raise. Costs the same one shuffle per round — the weighted degree
    replaces the count in the SAME pinned edge table. Composes with
    ``sources`` (weighted personalized walk).
    """
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    if weight_col is not None:
        # bounded validation action on the raw edges (one scalar)
        n_neg = edges.where(F.col(weight_col) < 0).count()
        if n_neg:
            raise ValueError(
                f"pagerank weight_col={weight_col!r} has {n_neg} negative "
                "values — weights must be ≥ 0"
            )
        e = (
            edges.select(
                F.col(src).alias("s"),
                F.col(dst).alias("d"),
                F.col(weight_col).cast("double").alias("w"),
            )
            .where(F.col("w") > 0)
            .groupBy("s", "d")
            .agg(F.sum("w").alias("w"))
        )
    else:
        e = edges.select(
            F.col(src).alias("s"), F.col(dst).alias("d")
        ).distinct()
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .repartition(p, "node")
        .transform(_pin)
    )
    n = nodes.count()
    # weighted: deg = Σ out-weights and each edge's share is w/deg;
    # unweighted: deg = out-degree and the share is 1/deg. Either way
    # the per-edge share is a STATIC column baked into the pinned edge
    # table, so every round's contribution is rank × share — identical
    # plan shape for both walks.
    if weight_col is not None:
        deg = e.groupBy("s").agg(F.sum("w").alias("deg"))
        ed = (
            e.join(deg, "s")
            .select("s", "d", (F.col("w") / F.col("deg")).alias("share"))
            .repartition(p, "s")
            .transform(_pin)
        )
        contrib_c = F.col("rank") * F.col("share")
    else:
        deg = e.groupBy("s").agg(F.count("*").alias("deg"))
        ed = e.join(deg, "s").repartition(p, "s").transform(_pin)
        # rank/deg (NOT rank·(1/deg)): keeps the uniform walk
        # bit-identical to the committed-golden oracle rows
        contrib_c = F.col("rank") / F.col("deg")
    has_out = deg.select(F.col("s").alias("node")).repartition(p, "node").transform(_pin)

    # dangling MEMBERSHIP is static (who has out-edges never changes);
    # only its rank mass moves per round — so detect once, and a
    # symmetrized/dangling-free graph pays ZERO per-round driver jobs
    # for the correction
    dangling_nodes = (
        nodes.join(has_out, "node", "left_anti")
        .repartition(p, "node")
        .transform(_pin)
    )
    n_dangling = dangling_nodes.count()

    if sources is not None:
        # seed hygiene: duplicates would double-count reset mass, an
        # empty list has no teleport target, and seeds absent from the
        # edge set carry no mass — renormalize over the PRESENT seeds so
        # the teleport distribution still sums to 1 (one bounded count)
        sources = list(dict.fromkeys(sources))
        if not sources:
            raise ValueError("personalized PageRank needs ≥1 source node")
        spark_sources = spark.createDataFrame(
            [(s,) for s in sources], schema=nodes.select("node").schema
        )
        n_present = nodes.join(
            F.broadcast(spark_sources), "node", "left_semi"
        ).count()
        if n_present == 0:
            raise ValueError(
                "no personalization source is a node of the edge set"
            )
        reset_nodes = (
            nodes.join(
                F.broadcast(spark_sources.withColumn("_s", F.lit(True))),
                "node", "left",
            )
            .select(
                "node",
                F.when(F.col("_s"), 1.0 / n_present).otherwise(0.0)
                .alias("reset"),
            )
            .repartition(p, "node")
            .transform(_pin)
        )
        ranks = reset_nodes.select("node", F.col("reset").alias("rank"))
    else:
        reset_nodes = None
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))

    for _ in range(n_iter):
        if n_dangling:
            dangling = (
                ranks.join(dangling_nodes, "node", "left_semi")
                .agg(F.sum("rank"))
                .first()[0]
                or 0.0
            )
        else:
            dangling = 0.0
        contribs = (
            ed.join(ranks.withColumnRenamed("node", "s"), "s")
            .select(
                F.col("d").alias("node"),
                contrib_c.alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        if reset_nodes is None:
            base = (1.0 - damping) / n + damping * dangling / n
            new_rank = (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("rank")
            joined = nodes.join(contribs, "node", "left")
        else:
            # personalized: per-node reset column; dangling mass returns
            # to the source distribution
            new_rank = (
                (F.lit(1.0 - damping) + F.lit(damping * dangling))
                * F.col("reset")
                + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("rank")
            joined = reset_nodes.join(contribs, "node", "left")
        new_state = joined.select("node", new_rank)
        _audit_plan("pagerank_round", new_state)
        ranks = (
            new_state
            # NO repartition here: the contribution agg and the pinned
            # nodes table are both hash-partitioned on `node` already,
            # and an explicit repartition is a FORCED exchange Spark
            # never elides — it was costing one extra full shuffle of
            # the rank table per round (measured 71→38 s / 5 rounds at
            # 500k nodes). pin preserves partitioning.
            # Lazy: the checkpoint still truncates the plan at the
            # round boundary, but on a dangling-free graph (no
            # per-round action) all rounds execute as ONE job wave
            # instead of n_iter eager materializations.
            .transform(_pin, eager=False)
        )
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle count of the undirected graph (1-row DataFrame,
    column ``n_triangles``).

    Degree-ordered orientation: edges point from the (degree, id)-lower
    endpoint to the higher, so every triangle is counted exactly once as
    u→v, u→w, v→w with u ≺ v ≺ w, and — the scale property — per-node
    OUT-degree is bounded by O(√m), making the wedge join fan-out
    O(m^1.5) total instead of Σdeg² (a 10M-degree hub contributes ZERO
    wedges instead of 10¹⁴). Two keyed shuffles: wedges on u, closure on
    (v, w). The naive a<b triple self-join (what the DuckDB oracle runs)
    is the same count with none of the bound.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .union(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = (
        o1.join(o2, "u")
        .where(
            (F.col("o1.dv") < F.col("o2.dv"))
            | ((F.col("o1.dv") == F.col("o2.dv")) & (F.col("o1.v") < F.col("o2.v")))
        )
        .select(F.col("o1.v").alias("u"), F.col("o2.v").alias("v"))
    )
    # one ROW per wedge (the center u is dropped but distinct wedges stay
    # distinct rows); semi-join keeps every closing wedge exactly once
    # because oriented is a set — counting rows = counting triangles
    closed = wedges.join(oriented.select("u", "v"), ["u", "v"], "left_semi")
    return closed.agg(F.count("*").alias("n_triangles"))


def quotient_graph(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    weight_col: str | None = None,
    keep_self_loops: bool = True,
) -> DataFrame:
    """Contract a labeled partition into its QUOTIENT graph →
    ``(src, dst, weight)`` with ``src ≤ dst``: supernodes are labels,
    superedge weight = number (or ``weight_col`` sum) of original
    edges between the two communities; intra-community edges become
    self-loops (``keep_self_loops=False`` drops them). This is the
    coarsening step of multi-level graph algorithms (Louvain levels,
    METIS-style partitioning) and the KG rollup — contract entity
    nodes by type/community and read the type-interaction graph.

    Plan: two label joins (the label table is |nodes| rows — broadcast
    or co-partitioned, Catalyst/AQE picks) + ONE canonical-pair groupBy
    with map-side combine. Unlabeled endpoints raise (a silently
    dropped edge would bias every downstream weight); integer weights
    stay exact longs.
    """
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        and dict(edges.dtypes).get(weight_col)
        in ("int", "bigint", "smallint", "tinyint")
        else (
            F.col(weight_col).cast("double")
            if weight_col is not None
            else F.lit(1).cast("long")
        )
    )
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"), w.alias("w")
    )
    la = labels.select(
        F.col(node_col).alias("a"), F.col(label_col).alias("la")
    )
    lb = labels.select(
        F.col(node_col).alias("b"), F.col(label_col).alias("lb")
    )
    j = e.join(la, "a", "left").join(lb, "b", "left")
    # the unlabeled-edge guard rides the SAME aggregate as the output
    # (a separate pre-count would execute the label joins twice):
    # unlabeled edges collapse into one (NULL, NULL) group whose _unl
    # count the guard reads off the label-pair-sized result
    unl = F.col("la").isNull() | F.col("lb").isNull()
    q = j.select(
        F.when(~unl, F.least("la", "lb")).alias("src"),
        F.when(~unl, F.greatest("la", "lb")).alias("dst"),
        "w",
        unl.cast("long").alias("_unl"),
    )
    if not keep_self_loops:
        q = q.where(F.col("src").isNull() | (F.col("src") != F.col("dst")))
    agg = (
        q.groupBy("src", "dst")
        .agg(F.sum("w").alias("weight"), F.sum("_unl").alias("_unl"))
        .localCheckpoint()
    )
    bad = agg.where(F.col("src").isNull()).collect()
    if bad:
        raise ValueError(
            f"quotient_graph: {bad[0]['_unl']} edges touch unlabeled nodes"
        )
    return agg.select("src", "dst", "weight")


def assortativity(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Degree assortativity (Newman 2002, Pearson correlation of degrees
    across edges) → ONE row ``(m2, s_jk, s_j, s_jj, r)``: the four
    integer sums, carried exactly, plus the coefficient
    ``r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²)`` over the 2m directed arc
    ends (M = 2m). Positive r = hubs attach to hubs (social graphs),
    negative = hubs attach to leaves (KG/star topologies — the shape
    that decides salting strategy).

    Plan: one degree groupBy + two co-partitioned degree joins onto the
    symmetrized arc table + ONE global aggregate — no rounds, no driver
    state but the single row. The integer sums are partitioning-
    invariant (exact long addition), so cross-engine checks pin THEM;
    the one float division happens once at the end.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count("*").alias("d"))
    j = deg.select(F.col("a"), F.col("d").alias("dj"))
    k = deg.select(F.col("a").alias("b"), F.col("d").alias("dk"))
    sums = (
        sym.join(j, "a")
        .join(k, "b")
        .agg(
            F.count("*").alias("m2"),
            F.sum(F.col("dj") * F.col("dk")).alias("s_jk"),
            F.sum("dj").alias("s_j"),
            F.sum(F.col("dj") * F.col("dj")).alias("s_jj"),
        )
    )
    return sums.select(
        "m2",
        "s_jk",
        "s_j",
        "s_jj",
        (
            (F.col("m2") * F.col("s_jk") - F.col("s_j") * F.col("s_j"))
            / (F.col("m2") * F.col("s_jj") - F.col("s_j") * F.col("s_j"))
        ).alias("r"),
    )


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    num_partitions: int | None = None,
) -> DataFrame:
    """The k-truss of the undirected graph → surviving canonical edges
    ``(a, b, support)`` with ``a < b``: the maximal subgraph in which
    EVERY edge closes at least k−2 triangles inside the subgraph
    (Cohen 2008). The truss is the edge-analogue of the k-core — a
    much stronger cohesion filter (a k-core can be triangle-free; a
    k-truss cannot) — and the standard community-seed/densest-region
    primitive over co-occurrence graphs.

    Peel with INCREMENTAL support maintenance (the edge-parallel
    analogue of the Matula–Beck decrements `k_core` uses):

    * initial supports come from ONE degree-ordered triangle
      enumeration (same orientation as :func:`triangle_count`, so the
      wedge fan-out is O(m^1.5) with hubs contributing zero wedges),
      exploded to the 3 member edges and counted;
    * per round, edges with support < k−2 leave; only triangles
      TOUCHING a removed edge are re-enumerated (common-neighbor probe
      of the removed edges against the still-current adjacency),
      deduped to distinct triangles so a triangle losing two edges in
      one round decrements its third edge ONCE; surviving edges get
      their support decremented, and the cascade repeats.

    Total re-enumeration volume is Σ over removed edges of their
    triangle count — O(initial support mass) across ALL rounds, not
    O(m^1.5 · rounds). Per-round state is the checkpointed edge table;
    convergence is one scalar count per round.
    """
    if k < 2:
        raise ValueError("k_truss: k ≥ 2 (k-2 is the support threshold)")
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .repartition(p, "a")
        .localCheckpoint()
    )
    # ---- initial supports: oriented triangle enumeration, kept as
    # (x, y, z) canonical triples ----
    deg = (
        e.select(F.col("a").alias("n"))
        .union(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint(eager=False)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = (
        o1.join(o2, "u")
        .where(
            (F.col("o1.dv") < F.col("o2.dv"))
            | (
                (F.col("o1.dv") == F.col("o2.dv"))
                & (F.col("o1.v") < F.col("o2.v"))
            )
        )
        .select("u", F.col("o1.v").alias("v"), F.col("o2.v").alias("w"))
    )
    tris = wedges.join(
        oriented.select(
            F.col("u").alias("v"), F.col("v").alias("w")
        ),
        ["v", "w"],
        "left_semi",
    )
    tri_edges = tris.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v").alias("a"),
                    F.greatest("u", "v").alias("b"),
                ),
                F.struct(
                    F.least("u", "w").alias("a"),
                    F.greatest("u", "w").alias("b"),
                ),
                F.struct(
                    F.least("v", "w").alias("a"),
                    F.greatest("v", "w").alias("b"),
                ),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    sup = tri_edges.groupBy("a", "b").agg(F.count("*").alias("support"))
    cur = (
        e.join(sup, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        )
        .repartition(p, "a")
        .localCheckpoint()
    )
    thr = k - 2
    while True:
        rem = cur.where(F.col("support") < thr).select("a", "b")
        n_rem = rem.count()
        if n_rem == 0:
            break
        # triangles of the CURRENT graph touching a removed edge:
        # common-neighbor probe of removed edges against adjacency
        nbr = cur.select(F.col("a").alias("x"), F.col("b").alias("y")).union(
            cur.select(F.col("b").alias("x"), F.col("a").alias("y"))
        )
        cand = (
            rem.join(nbr, rem["a"] == nbr["x"])
            .select("a", "b", F.col("y").alias("w"))
            .where(F.col("w") != F.col("b"))
        )
        destroyed = (
            cand.join(
                nbr.select(F.col("x").alias("b"), F.col("y").alias("w")),
                ["b", "w"],
                "left_semi",
            )
            .select(
                F.array_sort(F.array("a", "b", "w")).alias("t")
            )
            .distinct()
            .select(
                F.col("t")[0].alias("x"),
                F.col("t")[1].alias("y"),
                F.col("t")[2].alias("z"),
            )
            .localCheckpoint(eager=False)
        )
        dec_edges = destroyed.select(
            F.explode(
                F.array(
                    F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                    F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
                    F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
                )
            ).alias("e")
        ).select("e.a", "e.b")
        dec = (
            dec_edges.join(rem, ["a", "b"], "left_anti")
            .groupBy("a", "b")
            .agg(F.count("*").alias("d"))
        )
        cur = (
            cur.join(rem, ["a", "b"], "left_anti")
            .join(dec, ["a", "b"], "left")
            .select(
                "a",
                "b",
                (
                    F.col("support") - F.coalesce("d", F.lit(0))
                ).alias("support"),
            )
            .repartition(p, "a")
            .localCheckpoint()
        )
    return cur


def k_core(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """Nodes of the k-core (maximal subgraph where every node has degree
    ≥ k), by INCREMENTAL peeling (Matula–Beck degree decrements, the
    relational form): degrees are computed from the full edge table
    exactly once; each round only the edges incident to the nodes peeled
    THIS round move — a co-partitioned semi-join against the pinned
    adjacency followed by one groupBy of the incident edges — and the
    surviving nodes' degrees update by decrement. Every edge therefore
    contributes exactly one decrement in the whole run (the round its
    first endpoint peels), so total shuffled volume is O(m) regardless
    of peel depth, vs O(m · rounds) for the recompute-degrees-per-round
    formulation this replaces (round-3 bench: the 2M-node k=5 cascade
    spent ~12 s/round re-shuffling the full 10M-row adjacency twice per
    round). One action per round (the peeled-count convergence check)
    also materializes that round's lazy checkpoint before the degree
    table is referenced again — no unmaterialized double-reference race.
    Rounds ≤ peel depth; cap guards pathological chains.
    """
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = _arcs(edges, src, dst, p)
    deg = (
        sym.groupBy("a")
        .agg(F.count("*").alias("deg"))
        .withColumnRenamed("a", "node")
        .repartition(p, "node")
        .transform(_pin)
    )

    def peel(deg):
        peeled = deg.where(F.col("deg") < k).select("node")
        # the ONE action per round: materializes this round's deg
        # checkpoint and decides convergence
        if peeled.count() == 0:
            return deg, True
        # decrements: only edges whose a-side peeled this round move
        # (sym pinned on a, peeled hashed on the same key — the semi-join
        # is co-partitioned); targets that peeled in the same round drop
        # out naturally in the survivor filter below
        dec = (
            sym.join(peeled.withColumnRenamed("node", "a"), "a", "left_semi")
            .groupBy("b")
            .agg(F.count("*").alias("_dec"))
            .withColumnRenamed("b", "node")
        )
        new_deg = (
            deg.where(F.col("deg") >= k)
            .join(dec, "node", "left")
            .select(
                "node",
                (F.col("deg") - F.coalesce(F.col("_dec"), F.lit(0)))
                .alias("deg"),
            )
        )
        _audit_plan("k_core_round", new_deg)
        return new_deg.transform(_pin, eager=False), False

    # stopping with peeling still active would return a SUPERSET of the
    # true k-core (long chains peel ~2 nodes a round)
    return fixpoint(deg, peel, max_iter, "k_core").select("node")


def core_numbers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full core decomposition → (node, core): every node's core number
    (the largest k such that the node belongs to the k-core) in ONE
    run, instead of one :func:`k_core` peel per k.

    Algorithm: distributed H-index iteration (Montresor / Lucchese /
    Pellegrini, "Distributed k-core decomposition", IEEE TPDS 2013 —
    the 'one-phase' relational form). Initialize core(v) = deg(v);
    each round, core(v) ← H(cores of v's neighbors) where H is the
    Hirsch index (the largest h with ≥ h neighbors of value ≥ h),
    clamped by the current estimate. Estimates decrease monotonically
    and the fixpoint is exactly the core number. Rounds needed ≈ graph
    peel depth in practice (monotone convergence, proven in the paper);
    ``max_iter`` caps pathological chains.

    Relational round = ONE co-partitioned join (pinned adjacency ⋈
    current cores, probe side pre-hashed on the neighbor key) + one
    window H-index on the center key + the convergence aggregate. The
    H-index of a value multiset sorted descending is
    max_i min(i, c_(i)) — a rank window, no UDF. Total per-round
    shuffle: the (a,b,core_b) fan-out, O(m) rows — the same volume CC
    and PageRank move per round.
    """
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = _arcs(edges, src, dst, p, key="b")  # probe: the NEIGHBOR key
    from pyspark.sql import Window

    cores = (
        sym.groupBy("a")
        .agg(F.count("*").alias("core"))
        .withColumnRenamed("a", "node")
        .repartition(p, "node")
        .transform(_pin)
    )
    w = Window.partitionBy("a").orderBy(F.col("nc").desc(), "b")

    def descend(cores):
        nbr = sym.join(
            cores.select(F.col("node").alias("b"), F.col("core").alias("nc")),
            "b",
        )
        hidx = (
            nbr.withColumn("r", F.row_number().over(w))
            .groupBy("a")
            .agg(F.max(F.least(F.col("r"), F.col("nc"))).alias("h"))
            .withColumnRenamed("a", "node")
        )
        new_cores = (
            cores.join(hidx, "node")
            .select("node", F.least(F.col("core"), F.col("h")).alias("core"))
            .transform(_pin, eager=False)
        )
        # ONE action per round: materializes the lazy checkpoint and
        # decides convergence (estimates only ever decrease, so any
        # change shows up as a strict drop somewhere)
        changed = (
            new_cores.join(
                cores.withColumnRenamed("core", "old"), "node"
            )
            .where(F.col("core") < F.col("old"))
            .count()
        )
        return new_cores, changed == 0

    # H-index estimates drop as little as one node per round on chain
    # graphs; stopping mid-descent would return OVERESTIMATED cores
    return fixpoint(cores, descend, max_iter, "core_numbers")


def bfs_distances(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """Single-source shortest hop distances (unweighted BFS) →
    (node, dist), reachable nodes only, dist ≤ ``max_hops``.

    Frontier-relational iteration, same discipline as the other loops
    here: the symmetrized edge table is hash-partitioned on the probe
    key once and checkpoint-pinned; each hop is ONE co-partitioned join
    (frontier → neighbors) + distinct + anti-join against the settled
    set. The frontier is checkpointed per hop (O(1) plan), convergence
    is an aggregate count of the new frontier. Rounds = eccentricity of
    the source (small-world graphs: a handful), each a bounded-size
    shuffle — no per-node driver state, so 10^9-edge graphs ride the
    same plan.
    """
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = _arcs(edges, src, dst, p)
    # seed schema derives from the edge table (as pagerank does for
    # sources) — a hardcoded 'node long' coerced string/int node ids and
    # broke the frontier join for non-long graphs
    from pyspark.sql.types import IntegerType, StructField, StructType

    first = edges.sparkSession.createDataFrame(
        [(source, 0)],
        schema=StructType(
            [
                StructField("node", sym.schema["a"].dataType),
                StructField("dist", IntegerType()),
            ]
        ),
    )
    dist = first.repartition(p, "node").transform(_pin)
    frontier = dist
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("dist", F.lit(h))
            .repartition(p, "node")
            .transform(_pin)
        )
        if nxt.count() == 0:
            break
        dist = dist.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return dist


def common_neighbor_pairs(
    edges: DataFrame,
    min_common: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = 1000,
    adamic_adar: bool = False,
    jaccard: bool = False,
) -> DataFrame:
    """Link prediction by common-neighbor count: non-adjacent node pairs
    (u, v) with ≥ ``min_common`` shared neighbors → (u, v, n_common) —
    the classic candidate generator for missing KG edges.

    ``adamic_adar=True`` adds the Adamic-Adar score column
    ``aa_score = Σ_{n ∈ Γ(u)∩Γ(v)} 1/ln(deg(n))`` — the same wedge join
    with each center weighted by its inverse log-degree (rare shared
    neighbors count more), at the cost of one extra degree join on the
    center key (co-partitioned: the adjacency is already hashed on it).
    Degrees are computed on the UNCAPPED graph (the true deg(n)); the
    cap only limits which centers generate wedges.

    ``jaccard=True`` adds ``jaccard = n_common / (deg(u) + deg(v) −
    n_common)`` — neighborhood overlap normalized by neighborhood size,
    so a 2-common-neighbor pair of degree-3 nodes outranks one between
    hubs. Costs two joins of the (already min_common-filtered,
    anti-joined) PAIR table against the node-degree table — the pair
    table is the small side by construction, never the wedge stream.
    With ``max_degree`` set, n_common counts wedges through capped
    centers only while deg(u)/deg(v) stay TRUE degrees (same contract
    as aa_score): the score is then a lower bound, never inflated.

    Shape: ONE self-join of the symmetrized adjacency on the center
    node (every wedge u–n–v with u<v), count per (u, v), anti-join
    against existing edges. Wedge fan-out is Σ deg(n)², so hubs are the
    scale hazard — ``max_degree`` drops center nodes wider than the cap
    before the join (a 10^6-degree hub contributes 10^12 wedges and
    zero link-prediction signal; same guard philosophy as the minhash
    bucket cap, mirror it in any oracle).
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = _arcs(edges, src, dst, p)
    # the cap limits WEDGE CENTERS only; adjacency for the anti-join
    # must stay uncapped, else hub-incident edges would resurface as
    # "predicted" links
    centers = sym
    if max_degree is not None:
        ok = (
            sym.groupBy("a").agg(F.count("*").alias("_d"))
            .where(F.col("_d") <= max_degree)
            .select("a")
        )
        centers = sym.join(ok, "a", "left_semi")
    deg = None
    if adamic_adar or jaccard:
        deg = sym.groupBy("a").agg(F.count("*").alias("_deg"))
    aggs = [F.count("*").alias("n_common")]
    if adamic_adar:
        centers = centers.join(deg, "a")  # co-partitioned on a
        aggs.append(
            F.sum(1.0 / F.log(F.col("l._deg"))).alias("aa_score")
        )
    wedges = (
        centers.alias("l")
        .join(centers.alias("r"), F.col("l.a") == F.col("r.a"))
        .where(F.col("l.b") < F.col("r.b"))
        .groupBy(F.col("l.b").alias("u"), F.col("r.b").alias("v"))
        .agg(*aggs)
    )
    existing = sym.where(F.col("a") < F.col("b")).select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    pairs = (
        wedges.join(existing, ["u", "v"], "left_anti")
        .where(F.col("n_common") >= min_common)
    )
    if jaccard:
        pairs = (
            pairs.join(
                deg.select(F.col("a").alias("u"), F.col("_deg").alias("_du")),
                "u",
            )
            .join(
                deg.select(F.col("a").alias("v"), F.col("_deg").alias("_dv")),
                "v",
            )
            .withColumn(
                "jaccard",
                F.col("n_common")
                / (F.col("_du") + F.col("_dv") - F.col("n_common")),
            )
            .drop("_du", "_dv")
        )
    return pairs


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    num_partitions: int | None = None,
    weight_col: str | None = None,
    self_weight: float = 1.0,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) over the undirected graph of ``edges`` →
    ``(node, label)`` where ``label`` is the community id (the min node
    id the community converged on).

    Semantics (pinned for determinism — the classic async LPA is
    order-dependent, useless for oracles):

    * every node starts labeled with itself;
    * each round, every node SIMULTANEOUSLY adopts the label most
      frequent among its neighbors plus ONE self-vote (the self-vote is
      the standard damping against two-coloring oscillation on
      bipartite-ish regions), ties broken by the SMALLEST label;
    * exactly ``n_iter`` rounds — a fixed count, like ``pagerank``,
      so reruns are bit-identical.

    ``weight_col``: optional non-negative edge-weight column — WEIGHTED
    voting: each neighbor's label votes with the edge weight instead of
    1, plus a ``self_weight`` self-vote (same damping role; scale it to
    the graph's weight regime — the 1.0 default matches unit weights).
    Determinism is preserved the hard way: weights accumulate in
    DECIMAL(27,9), whose addition is EXACT and order-independent, so
    the per-label vote totals — and therefore the min-label tie-breaks —
    cannot drift with partitioning the way double sums would. Parallel
    edges sum their weights (unlike the unweighted path, which dedups
    them — a multi-edge IS a stronger tie once weights exist); negative
    weights raise (a negative vote has no LPA semantics).

    Scale shape mirrors ``pagerank``: the symmetrized edge table is
    hash-partitioned on the probe key once and pinned, the labels join
    reuses that exchange, and a lazy per-round ``localCheckpoint``
    keeps the plan O(1) in rounds. Each round costs two keyed
    aggregates — the vote count (over the edge stream, the big one,
    with map-side partials) and the per-node argmax (over ≤ one row
    per (node, distinct neighbor label) — already vote-collapsed, so
    far smaller). No driver-side state beyond the loop counter; at
    10^12 edges every structure here is a keyed table.
    """
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    _dec = "decimal(27,9)"
    if weight_col is None:
        sym = _arcs(edges, src, dst, p).select(
            F.col("a").alias("s"), F.col("b").alias("d")
        )
        ew = self_w = F.lit(1)
    else:
        n_neg = edges.where(F.col(weight_col) < 0).count()
        if n_neg:
            raise ValueError(
                f"label_propagation weight_col={weight_col!r} has {n_neg} "
                "negative weights — a negative vote has no LPA semantics"
            )
        half = edges.select(
            F.col(src).alias("s"),
            F.col(dst).alias("d"),
            F.col(weight_col).cast(_dec).alias("ew"),
        ).where(F.col("s") != F.col("d"))
        sym = (
            half.union(half.select(F.col("d").alias("s"),
                                   F.col("s").alias("d"), "ew"))
            .groupBy("s", "d")
            .agg(F.sum("ew").cast(_dec).alias("ew"))  # parallel edges sum
            .repartition(p, "s")
            .transform(_pin)
        )
        ew, self_w = F.col("ew"), F.lit(self_weight).cast(_dec)
    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .repartition(p, "node")
        .localCheckpoint()
    )
    for _ in range(n_iter):
        votes = sym.join(
            labels.withColumnRenamed("node", "s"), "s"
        ).select(F.col("d").alias("node"), "label", ew.alias("w"))
        self_votes = labels.select("node", "label", self_w.alias("w"))
        # argmax-by-count, ties to the smallest label, as ONE aggregate:
        # min(struct(-count, label)) — no per-node window, no sort
        labels = (
            votes.union(self_votes)
            .groupBy("node", "label")
            .agg(F.sum("w").alias("cnt"))
            .groupBy("node")
            .agg(
                F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label")))
                .alias("top")
            )
            .select("node", F.col("top.label").alias("label"))
            .transform(_pin, eager=False)
        )
    return labels


def modularity_df(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    weight_col: str | None = None,
) -> DataFrame:
    """Newman modularity Q of a community partition over the undirected
    simple graph of ``edges``, as a ONE-ROW DataFrame
    ``(q double, two_m long, intra2 long, unlabeled long)``:
    Q = Σ_c [ e_c/m − (d_c/2m)² ] where e_c is the intra-community edge
    count, d_c the community's total degree and m the undirected edge
    count — the standard quality score for ``label_propagation`` output
    (Q > 0.3 ≈ real structure).

    ``weight_col``: the weighted generalization (Newman 2004, "Analysis
    of weighted networks"): e_c → intra-community weight, d_c → weighted
    degree (strength), m → total edge weight W. Weight sums accumulate
    in DECIMAL(27,9) — EXACT, order-independent — so Q cannot drift with
    partitioning; the one rounding in the score, the per-community
    strength square d_c², happens once per community at fixed decimal
    precision (a scalar op on exact inputs — identical on every run),
    never inside a float sum. Parallel edges sum their weights (matching
    ``label_propagation(weight_col=...)``; the unweighted path dedups);
    negative weights raise. In weighted mode ``two_m``/``intra2`` come
    back as DECIMAL(38,9) (exact — integral whenever the weights are;
    cast to long is then lossless), ``unlabeled`` stays an arc COUNT.

    Fully relational — ONE lazy plan, no driver-side scalars:
    symmetrize once, tag each directed arc with its endpoint labels via
    two label joins (labels are usually broadcast-size relative to the
    edge set; Catalyst/AQE picks the strategy), then a single global
    aggregate folds all three Σ terms. The degree² term reuses the SAME
    labeled-arc relation (one per-community roll-up), so the whole score
    is 2 shuffles beyond the joins regardless of graph size. Integer
    numerators (two_m, intra2, Σd_c²) are carried exactly and divided
    once at the end — deterministic across partitionings.

    ``unlabeled`` counts graph nodes missing from ``communities`` —
    surfaced in the row (and raised on by the float wrapper) because a
    silent drop would bias Q.
    """
    if weight_col is None:
        sym = (
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .where(F.col("a") != F.col("b"))
            .union(
                edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
                .where(F.col("a") != F.col("b"))
            )
            .distinct()
            .withColumn("w", F.lit(1))
        )
    else:
        n_neg = edges.where(F.col(weight_col) < 0).count()
        if n_neg:
            raise ValueError(
                f"modularity weight_col={weight_col!r} has {n_neg} "
                "negative weights — weighted modularity is defined over "
                "non-negative weights"
            )
        half = edges.select(
            F.col(src).alias("a"),
            F.col(dst).alias("b"),
            F.col(weight_col).cast("decimal(27,9)").alias("w"),
        ).where(F.col("a") != F.col("b"))
        sym = (
            half.union(half.select(F.col("b").alias("a"),
                                   F.col("a").alias("b"), "w"))
            .groupBy("a", "b")
            .agg(F.sum("w").cast("decimal(27,9)").alias("w"))
        )
    labels = communities.select(
        F.col(node_col).alias("a"), F.col(label_col).alias("la")
    )
    tagged = sym.join(labels, "a", "left").join(
        labels.select(F.col("a").alias("b"), F.col("la").alias("lb")),
        "b",
        "left",
    )
    # Σ over directed arcs: Σw = 2m (count when unweighted), la==lb
    # weight = 2·e_intra, missing-label arcs → unlabeled endpoints
    # (counted per arc; any nonzero means the partition is partial and
    # Q is untrustworthy)
    per_comm = (
        tagged.where(F.col("la").isNotNull())
        .groupBy("la")
        .agg(F.sum("w").alias("d_c"))
    )
    totals = tagged.agg(
        F.sum("w").alias("two_m"),
        F.sum(
            F.when(
                F.col("la").isNotNull() & (F.col("la") == F.col("lb")),
                F.col("w"),
            ).otherwise(F.lit(0))
        ).alias("intra2"),
        F.sum(F.when(F.col("la").isNull(), 1).otherwise(0)).alias(
            "unlabeled"
        ),
    )
    dsq = per_comm.agg(
        F.coalesce(F.sum(F.col("d_c") * F.col("d_c")), F.lit(0)).alias(
            "dsq"
        )
    )
    out_num = "long" if weight_col is None else "decimal(38,9)"
    # divisions in DOUBLE on the exact (order-independent) numerators —
    # a decimal division here would truncate Q at the result scale
    i2, tm, dq = (F.col(c).cast("double") for c in ("intra2", "two_m", "dsq"))
    return totals.crossJoin(dsq).select(
        F.when(F.col("two_m") > 0, i2 / tm - dq / (tm * tm))
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("q"),
        F.col("two_m").cast(out_num).alias("two_m"),
        F.col("intra2").cast(out_num).alias("intra2"),
        F.col("unlabeled").cast("long").alias("unlabeled"),
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    weight_col: str | None = None,
) -> float:
    """Float convenience wrapper over :func:`modularity_df` — one Spark
    action. Raises if any graph node has no community label."""
    row = modularity_df(
        edges, communities, src=src, dst=dst,
        node_col=node_col, label_col=label_col, weight_col=weight_col,
    ).first()
    if row["unlabeled"]:
        raise ValueError(
            f"{row['unlabeled']} arc endpoints have no community label — "
            "modularity over a partial partition is biased"
        )
    return float(row["q"])


def hits(
    edges: DataFrame,
    n_iter: int = 5,
    normalize: str | None = "l1",
    src: str = "src",
    dst: str = "dst",
    num_partitions: int | None = None,
) -> DataFrame:
    """Kleinberg's HITS hubs-and-authorities (JACM 1999) over a
    DIRECTED arc set → ``(node, hub, authority)``: authority(v) =
    Σ hub(u) over in-arcs (u, v), hub(u) = Σ authority(v) over
    out-arcs, iterated ``n_iter`` times from the all-ones hub vector
    (the reference KG has no link-analysis stage; this ranks entities
    of the materialized triples graph the same way pagerank does,
    but with the hub/authority asymmetry that citation-shaped KGs
    want).

    ``normalize='l1'`` (default) rescales both vectors to sum 1 each
    round — the production form, numerically stable at any scale; the
    rescale joins a broadcast 1-row total, never a driver collect.
    Normalization only changes SCALE (each update is linear), so
    ``normalize=None`` runs the raw recurrence in exact LONG
    arithmetic: the scores are then integer path counts —
    authority_k(v) = #(alternating out/in walks of length 2k ending
    at v) — which is what a cross-engine value-exact oracle can
    replay join-for-join. Bounded by (d_max²)^k: keep ``n_iter``
    small in this mode (the q_graph_profile row uses 2).

    Scale shape: the deduped arc table is pinned TWICE, hash-
    partitioned on the hub side and on the authority side, so each
    half-round is ONE co-partitioned join + ONE aggregation exchange
    — 2 shuffles per iteration; state is strictly (node, score) rows
    and every round is severed with a lazy checkpoint (linear
    chain, k=1 references — outside the Spark 4 stats-rewrite blowup
    documented at :func:`_sever`)."""
    if n_iter < 1:
        raise ValueError("hits: n_iter must be >= 1")
    if normalize not in ("l1", None):
        raise ValueError("hits: normalize must be 'l1' or None")
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    arcs_s = e.repartition(p, "s").transform(_pin)
    arcs_d = arcs_s.repartition(p, "d").transform(_pin)
    nodes = (
        arcs_s.select(F.col("s").alias("node"))
        .union(arcs_s.select(F.col("d").alias("node")))
        .distinct()
        .repartition(p, "node")
        .transform(_pin)
    )
    num = "double" if normalize == "l1" else "long"
    one = F.lit(1.0) if normalize == "l1" else F.lit(1).cast("long")
    hub = nodes.select("node", one.alias("score"))
    auth = None
    for _ in range(n_iter):
        auth = (
            arcs_s.join(hub, arcs_s["s"] == hub["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum("score").cast(num).alias("score"))
        )
        if normalize == "l1":
            tot = auth.agg(F.sum("score").alias("_t"))
            auth = auth.crossJoin(F.broadcast(tot)).select(
                "node", (F.col("score") / F.col("_t")).alias("score")
            )
        _audit_plan("hits_auth_half", auth)
        auth = auth.transform(_pin, eager=False)
        hub = (
            arcs_d.join(auth, arcs_d["d"] == auth["node"])
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("score").cast(num).alias("score"))
        )
        if normalize == "l1":
            tot = hub.agg(F.sum("score").alias("_t"))
            hub = hub.crossJoin(F.broadcast(tot)).select(
                "node", (F.col("score") / F.col("_t")).alias("score")
            )
        _audit_plan("hits_hub_half", hub)
        hub = hub.transform(_pin, eager=False)
    zero = F.lit(0.0) if normalize == "l1" else F.lit(0).cast("long")
    return (
        nodes.join(hub.withColumnRenamed("score", "hub"), "node", "left")
        .join(auth.withColumnRenamed("score", "authority"), "node", "left")
        .select(
            "node",
            F.coalesce("hub", zero).alias("hub"),
            F.coalesce("authority", zero).alias("authority"),
        )
    )


def _sever(df: DataFrame) -> DataFrame:
    """Materialize ``df`` (local checkpoint) and rebuild it from the
    checkpointed JVM RDD via the public ``createDataFrame(RDD[Row],
    schema)`` API — a COMPLETE logical-plan break, stats included.

    Why ``localCheckpoint`` alone is not enough here: Spark 4's
    ``LogicalRDD.fromDataset`` keeps a stats/constraints REWRITE of the
    origin plan (``rewriteStatsAndConstraints``), evaluated through the
    origin's children — so a loop that chains checkpoints (louvain's
    sweeps: the new label table references the previous one ~4 times)
    makes each checkpoint's stats estimation re-walk rewritten copies
    of the whole history: cost ≈ branching^rounds. Observed: louvain
    level 3 hung for minutes inside ``localCheckpoint`` in
    ``SizeInBytesOnlyStatsPlanVisitor`` on a 14-node graph. The RDD
    round-trip (JVM-side row conversion only — no Python crossing, one
    extra map over the node-sized table) yields a LogicalRDD with
    default stats and NO origin reference, restoring O(plan) cost per
    round. PageRank/LPA tolerate the rewrite because their round plans
    reference the previous state once or twice over few fixed rounds;
    any operator chaining ≥3 references per round for many rounds needs
    this severing."""
    ck = df.localCheckpoint()
    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(
        ck._jdf.javaRDD(), ck._jdf.schema()
    )
    return DataFrame(jdf, spark)


def louvain(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    resolution: float = 1.0,
    max_levels: int = 4,
    max_sweeps: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Louvain community detection (Blondel et al. 2008) over the
    undirected graph of ``edges`` → ``(node, label)``; ``label`` is the
    smallest member node id of the final community (the same canonical
    choice as :func:`label_propagation` / connected components).

    Semantics — a SYNCHRONOUS, DERANDOMIZED variant, pinned so reruns
    and engine replays are bit-identical (the classic sequential
    algorithm is visit-order-dependent, useless for oracles):

    * **Local-moving phase**: every node starts as its own community;
      each sweep, the nodes of one md5-parity class (alternating —
      ``md5(node) % 2 == sweep % 2``) SIMULTANEOUSLY evaluate the
      standard modularity gain of joining each neighboring community
      ``c``: maximize ``2m·k_i→c − resolution·k_i·Σ_tot(c∖i)`` (the
      ΔQ numerator — Σ_tot of the node's CURRENT community is evaluated
      without the node itself, per Blondel §2). Ties prefer staying,
      then the smallest community id. Parity alternation is the
      synchronous-oscillation damper: the classic failure mode (two
      adjacent nodes swap into each other's community forever, each
      seeing the other's stale label) needs both to move in one sweep.
      Sweeps stop early when a sweep moves nothing, else after
      ``max_sweeps``.
    * **Contraction phase**: communities collapse to supernodes, edge
      weights sum, intra-community mass becomes self-loops (counted
      TWICE in the supernode's strength, the standard convention); the
      moving phase reruns on the contracted graph, up to ``max_levels``
      or until a level moves nothing.

    Weights accumulate in DECIMAL(27,9) — exact and order-independent —
    and the gain comparison converts each EXACT sum to double once per
    candidate (scalar ops on identical inputs are identical on every
    run), so the argmax, the tie-breaks, and therefore the whole
    partition are partitioning-invariant. Parallel input edges sum
    their weights; self-loops contribute 2w to strength (python-louvain
    convention); negative weights raise.

    Scale shape per sweep: the pinned symmetric arc table joins the
    label table (ONE co-partitioned join — pagerank's shuffle), one
    (node, cand_community) map-side-combined aggregate, one per-node
    argmax via ``min(struct(...))``, one label-sized strength roll-up —
    no driver state beyond one move-count scalar per sweep and the 2m
    scalar per level. Contraction shrinks the graph geometrically, so
    level 0 dominates: total cost ≈ max_sweeps pagerank rounds. The
    community-sized tables (Σ_tot) are label-cardinality, never
    corpus-cardinality.
    """
    if max_levels < 1 or max_sweeps < 1:
        raise ValueError("louvain: max_levels and max_sweeps must be ≥ 1")
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    _dec = "decimal(27,9)"
    w0 = (
        F.col(weight_col).cast(_dec)
        if weight_col is not None
        else F.lit(1).cast(_dec)
    )
    if weight_col is not None:
        n_neg = edges.where(F.col(weight_col) < 0).count()
        if n_neg:
            raise ValueError(
                f"louvain: weight_col={weight_col!r} has {n_neg} negative "
                "weights — modularity optimization needs non-negative weights"
            )
    lvl = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
            w0.alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.sum("w").cast(_dec).alias("w"))
        .repartition(p, "a")
    )
    lvl = _sever(lvl)
    if lvl.limit(1).count() == 0:
        raise ValueError("louvain: empty edge set")

    def _parity(col):
        return (
            F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10)
            .cast("long") % 2
        )

    mapping = None  # (orig, comm) composed through levels
    for _level in range(max_levels):
        half = lvl.where(F.col("a") != F.col("b"))
        sym = (
            half.select(F.col("a").alias("s"), F.col("b").alias("d"), "w")
            .union(
                half.select(F.col("b").alias("s"), F.col("a").alias("d"), "w")
            )
            .repartition(p, "s")
            .transform(_pin)
        )
        selfw = lvl.where(F.col("a") == F.col("b")).select(
            F.col("a").alias("node"), F.col("w").alias("ws")
        )
        deg = sym.groupBy("s").agg(F.sum("w").cast(_dec).alias("kd"))
        strength = (
            lvl.select(F.col("a").alias("node"))
            .union(lvl.select(F.col("b").alias("node")))
            .distinct()
            .join(deg.withColumnRenamed("s", "node"), "node", "left")
            .join(selfw, "node", "left")
            .select(
                "node",
                (
                    F.coalesce(F.col("kd"), F.lit(0).cast(_dec))
                    + F.lit(2) * F.coalesce(F.col("ws"), F.lit(0).cast(_dec))
                ).cast(_dec).alias("k"),
            )
            .repartition(p, "node")
            .transform(_pin)
        )
        two_m = float(strength.agg(F.sum("k")).first()[0])
        if two_m <= 0:
            if mapping is None:
                # zero total weight on the FIRST level (all-zero
                # weight_col passes the negative guard): modularity is
                # undefined, no move can improve it — return the
                # identity partition instead of crashing on
                # mapping.groupBy(None) (round-5 review fix)
                nodes = (
                    lvl.select(F.col("a").alias("orig"))
                    .union(lvl.select(F.col("b").alias("orig")))
                    .distinct()
                )
                mapping = nodes.withColumn("comm", F.col("orig"))
            break
        labels = strength.select(
            "node", F.col("node").alias("label")
        ).localCheckpoint(eager=False)
        level_moves = 0
        zero_streak = 0
        for sweep in range(max_sweeps):
            mover = _parity(F.col("node")) == F.lit(sweep % 2)
            arcs = sym.where(_parity(F.col("s")) == F.lit(sweep % 2)).join(
                labels.select(
                    F.col("node").alias("d"), F.col("label").alias("cd")
                ),
                "d",
            ).select(F.col("s").alias("node"), "cd", "w")
            stay = labels.where(mover).select(
                "node", F.col("label").alias("cd"),
                F.lit(0).cast(_dec).alias("w"),
            )
            cand = (
                arcs.union(stay)
                .groupBy("node", "cd")
                .agg(F.sum("w").cast(_dec).alias("kin"))
            )
            tot = (
                labels.join(strength, "node")
                .groupBy("label")
                .agg(F.sum("k").cast(_dec).alias("tot"))
            )
            scored = (
                cand.join(tot.withColumnRenamed("label", "cd"), "cd")
                .join(strength, "node")
                .join(labels, "node")
                .select(
                    "node",
                    "cd",
                    "label",
                    (
                        F.lit(two_m) * F.col("kin").cast("double")
                        - F.lit(resolution)
                        * F.col("k").cast("double")
                        * F.when(
                            F.col("cd") == F.col("label"),
                            (F.col("tot") - F.col("k")).cast("double"),
                        ).otherwise(F.col("tot").cast("double"))
                    ).alias("score"),
                )
            )
            picked = (
                scored.groupBy("node")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("score")).alias("ns"),
                            F.when(F.col("cd") == F.col("label"), 0)
                            .otherwise(1)
                            .alias("pref"),
                            F.col("cd").alias("cd"),
                        )
                    ).alias("top"),
                    F.min("label").alias("cur"),
                )
                .select(
                    "node", F.col("top.cd").alias("label"), "cur"
                )
            )
            _audit_plan("louvain_sweep", picked)
            picked = picked.localCheckpoint()
            moved = picked.where(F.col("label") != F.col("cur")).count()
            labels = _sever(
                labels.where(~mover)
                .select("node", "label")
                .union(picked.select("node", "label"))
            )
            level_moves += moved
            # converged only when BOTH parity classes quiesce on the
            # same state: one zero-move sweep leaves the other parity's
            # last decisions un-reevaluated, so require two in a row
            zero_streak = zero_streak + 1 if moved == 0 else 0
            if zero_streak == 2:
                break
        # compose the node→community mapping through this level
        lab = labels.select(
            F.col("node").alias("_n"), F.col("label").alias("_l")
        )
        if mapping is None:
            mapping = lab.select(
                F.col("_n").alias("orig"), F.col("_l").alias("comm")
            )
        else:
            mapping = mapping.join(
                lab, mapping.comm == lab._n
            ).select("orig", F.col("_l").alias("comm"))
        mapping = mapping.localCheckpoint()
        if level_moves == 0:
            break
        # contraction: communities become supernodes, weights sum,
        # intra-community mass becomes self-loops
        la = labels.select(F.col("node").alias("a"), F.col("label").alias("ca"))
        lb = labels.select(F.col("node").alias("b"), F.col("label").alias("cb"))
        lvl = (
            lvl.join(la, "a")
            .join(lb, "b")
            .select(
                F.least(F.col("ca"), F.col("cb")).alias("a"),
                F.greatest(F.col("ca"), F.col("cb")).alias("b"),
                "w",
            )
            .groupBy("a", "b")
            .agg(F.sum("w").cast(_dec).alias("w"))
            .repartition(p, "a")
        )
        lvl = _sever(lvl)
    # canonical community id = min original member node id
    canon = mapping.groupBy("comm").agg(F.min("orig").alias("label"))
    return mapping.join(canon, "comm").select(
        F.col("orig").alias("node"), "label"
    )



# --------------------------------------------------------------- HyperBall
#
# Distance-distribution analytics via per-node distinct-count sketches
# iterated along edges (HyperANF / HyperBall, Boldi & Vigna WWW'11,
# ICDMW'13). Two sketch backends, same relational loop:
#
# * "kmv" (default): bottom-k minhash (KMV) as a sorted array<long> of
#   the k smallest xxhash64 values in the ball. Union = flatten →
#   array_distinct → array_sort → slice k — a PURE SET OPERATION, so
#   the kept array (and therefore every estimate) is bit-identical
#   under any partitioning, merge order, or core count. EXACT while
#   the ball holds < k members (the array is then the whole ball);
#   beyond that the classic (k−1)/u_k estimator, rel-err ≈ 1/√(k−2)
#   (k=1024 ≈ 3%). State ≤ 8k bytes/node.
# * "hll": Spark's datasketches HLL built-ins (hll_sketch_agg /
#   hll_union_agg / hll_sketch_estimate) — tighter error per byte
#   (1.04/√2^lg_k; lg_k=12 ≈ 1.6% at 4 KiB/node) and the natural
#   choice at extreme node counts. CAVEAT, measured not theoretical:
#   union replays coupons into the gadget's HIP accumulator in arrival
#   order, so estimates in the dense TRANSIENT regime vary run-to-run
#   by ~0.1–0.2% with partitioning (hops whose balls are converged or
#   sparse are stable). Use for scale, not for pinned outputs.
#
# The loop shape is identical to a pagerank round: one co-partitioned
# gather join + one groupBy-union per hop, pinned arc table, lazily
# checkpointed state, O(1) plan size, one LONG scalar to the driver
# per hop.

_LONG_SPAN = 1.8446744073709552e19  # 2^64 as double
_LONG_MIN_D = 9.223372036854776e18  # |LONG_MIN| as double


def _kmv_est(col, k):
    """Estimated distinct count from a sorted bottom-k array: exact
    size below k; else (k−1)/u_k with u_k = the k-th smallest hash
    mapped to (0,1). Every input is deterministic ⇒ so is the output."""
    u_k = (F.element_at(col, k).cast("double") + F.lit(_LONG_MIN_D)) / F.lit(
        _LONG_SPAN
    )
    return F.when(F.size(col) < k, F.size(col).cast("double")).otherwise(
        F.lit(float(k - 1)) / u_k
    )


def _ball_init(sym, p, sketch, lg_k, k):
    """(node, sk) initial state: each node's sketch holds {node}."""
    nodes = (
        sym.select(F.col("a").alias("node"))
        .union(sym.select(F.col("b").alias("node")))
        .distinct()
    )
    if sketch == "kmv":
        init = nodes.select(
            "node", F.array(F.xxhash64("node")).alias("sk")
        )
    else:
        init = nodes.groupBy("node").agg(
            F.hll_sketch_agg("node", F.lit(lg_k)).alias("sk")
        )
    return init.repartition(p, "node").transform(_pin)


def _ball_union_agg(sketch, k):
    """The groupBy aggregate merging gathered sketches per node."""
    if sketch == "kmv":
        return F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("sk")))),
            1,
            k,
        ).alias("sk")
    return F.hll_union_agg("sk").alias("sk")


def _ball_est(sketch, k):
    """Per-node ball-size estimate column (LONG)."""
    if sketch == "kmv":
        return F.round(_kmv_est(F.col("sk"), k)).cast("long")
    return F.hll_sketch_estimate("sk")


def _check_sketch_args(sketch, lg_k, k):
    if sketch not in ("kmv", "hll"):
        raise ValueError(f"sketch={sketch!r} is not 'kmv' or 'hll'")
    if sketch == "hll" and not 4 <= lg_k <= 21:
        raise ValueError(f"lg_k={lg_k} outside the HLL range [4, 21]")
    if sketch == "kmv" and k < 8:
        raise ValueError(f"k={k} — bottom-k needs k ≥ 8 to estimate")


def hyperball_profile(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 16,
    sketch: str = "kmv",
    k: int = 1024,
    lg_k: int = 12,
    directed: bool = False,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """ONE HyperBall run (Boldi & Vigna, ICDMW'13; HyperANF, Boldi, Rosa
    & Vigna, WWW'11) → ``(nf_df, hc_df)``: the neighborhood function
    N(t) = |{(u,v) : dist(u,v) ≤ t}| as rows (hop int, n_pairs long),
    AND the per-node harmonic centrality H(v) = Σ_{u≠v} 1/dist(v,u) as
    (node, centrality double, ball long). Per-node distinct-count
    sketches of the t-ball are union-merged along arcs each hop; with
    b_t(v) = |ball(v,t)|, N(t) = Σ_v b_t(v) and
    H(v) = Σ_t (b_t(v) − b_{t−1}(v)) / t. The NF totals are exactly the
    convergence scalars the centrality loop computes anyway, and the
    per-node running state (previous ball, harmonic sum) rides the same
    merge aggregate as the sketch union (gathered rows carry NULL state,
    ``max`` selects the node's own), so one run costs one gather join +
    one merge groupBy per hop. Exact all-pairs BFS is O(n·m).

    ``sketch`` picks a backend of the section comment above (``"kmv"``
    is deterministic and exact below k; ``"hll"`` wobbles in transient
    hops — its per-hop increments are clamped at 0). ``directed=True``
    gathers along out-arcs (out-ball NF and centrality).

    Runs to convergence (totals stable), bounded by ``max_hops``; the
    returned NF includes the first stable hop.
    """
    _check_sketch_args(sketch, lg_k, k)
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = _arcs(edges, src, dst, p, key="b", directed=directed)
    est = _ball_est(sketch, k)
    state = (
        _ball_init(sym, p, sketch, lg_k, k)
        .select(
            "node", "sk",
            F.lit(1).cast("long").alias("ball"),  # b_0(v) = |{v}| = 1
            F.lit(0.0).alias("hc"),
        )
        .localCheckpoint()
    )
    totals = [state.count()]  # N(0) = n nodes
    for t in range(1, max_hops + 1):
        gathered = sym.join(
            state.select(F.col("node").alias("b"), "sk"), "b"
        ).select(
            F.col("a").alias("node"), "sk",
            F.lit(None).cast("long").alias("ball"),
            F.lit(None).cast("double").alias("hc"),
        )
        merged = (
            gathered.union(state.select("node", "sk", "ball", "hc"))
            .groupBy("node")
            .agg(
                _ball_union_agg(sketch, k),
                # only the node's own row is non-NULL — max() selects it
                F.max("ball").alias("prev_ball"),
                F.max("hc").alias("hc"),
            )
        )
        state = merged.select(
            "node", "sk",
            est.alias("ball"),
            (
                F.col("hc")
                + F.greatest(
                    est - F.col("prev_ball"), F.lit(0)
                ).cast("double")
                / F.lit(float(t))
            ).alias("hc"),
        ).transform(_pin, eager=False)
        totals.append(
            int(state.agg(F.sum("ball").cast("long")).first()[0])
        )
        if totals[-1] == totals[-2]:
            break
    nf = spark.createDataFrame(
        [(h, n) for h, n in enumerate(totals)], "hop int, n_pairs long"
    )
    return nf, state.select(
        "node", F.col("hc").alias("centrality"), F.col("ball").alias("ball")
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    num_partitions: int | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph → ``(node,
    component)``, where the label is the MINIMUM node id inside the
    SCC (deterministic, same convention as
    ``canonicalize.connected_components`` — which this is NOT: CC
    ignores direction; SCC needs mutual reachability, a genuinely
    harder parallel problem).

    Trim + forward-min coloring + per-color backward gather — the
    coloring algorithm of Orzan (2004), the Multistep/FW-BW family of
    Slota, Rajamanickam & Madduri (IPDPS'14), in relational form. Per
    outer round:

    1. TRIM — nodes with no in-arc or no out-arc in the active
       subgraph cannot sit on a cycle: they are singleton SCCs,
       removed iteratively (two semi-joins per sweep). Real KG graphs
       are mostly trivial SCCs, so this deletes the bulk up front.
    2. COLOR — propagate the minimum reaching id forward to fixpoint:
       ``color(v) ← min(color(v), min over arcs u→v of color(u))``.
       Each sweep is ONE co-partitioned arc join + min-groupBy; the
       convergence scalar is the count of strictly improved colors
       (works for string ids too — no sum tricks). At fixpoint the
       color classes partition the graph by "minimum id that reaches
       v", and each class contains exactly one root r with
       ``color(r) = r``.
    3. GATHER — SCC(r) = nodes of color r that reach r back:
       ONE multi-source backward BFS keyed by (color, node) over the
       color-preserving arcs extracts EVERY root's SCC simultaneously
       (frontier join + anti-join per hop, same shape as
       :func:`reachability`). r is provably the minimum member id
       (any smaller member would have recolored r), so the emitted
       label is canonical.

    Settled nodes leave the active set; the loop repeats on the rest.
    Every round removes at least every color root's SCC, so rounds are
    bounded by the depth of the condensation DAG — small for real
    graphs (trim eats the chains); ``max_rounds`` guards pathological
    inputs with a clear error rather than a silent spin. All per-round
    state is checkpointed DataFrames partitioned on the probe key;
    driver state is one scalar per sweep.
    """
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # node universe from the RAW edges: a node incident only to
    # self-loops has no arc after the a != b cut but is still its own
    # singleton SCC (every node belongs to exactly one) — trim emits it
    active = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
        .repartition(p, "node")
        .transform(_pin)
    )
    done = []  # per-round (node, component) deltas, each checkpointed

    def settle(state):
        active, arcs = state
        if active.count() == 0:
            return state, True
        # restrict arcs to the active subgraph (both endpoints)
        arcs = (
            arcs.join(
                active.select(F.col("node").alias("a")), "a", "left_semi"
            )
            .join(active.select(F.col("node").alias("b")), "b", "left_semi")
            .repartition(p, "a")
            .transform(_pin)
        )
        # 1. TRIM: peel in/out-degree-0 nodes iteratively
        while True:
            keep = (
                active.join(
                    arcs.select(F.col("a").alias("node")).distinct(),
                    "node",
                    "left_semi",
                )
                .join(
                    arcs.select(F.col("b").alias("node")).distinct(),
                    "node",
                    "left_semi",
                )
                .repartition(p, "node")
                .transform(_pin)
            )
            trimmed = (
                active.join(keep, "node", "left_anti")
                .select("node", F.col("node").alias("component"))
                .localCheckpoint()
            )
            if trimmed.count() == 0:
                break
            done.append(trimmed)
            active = keep
            arcs = (
                arcs.join(
                    active.select(F.col("node").alias("a")), "a", "left_semi"
                )
                .join(
                    active.select(F.col("node").alias("b")),
                    "b",
                    "left_semi",
                )
                .repartition(p, "a")
                .transform(_pin)
            )
        if active.count() == 0:
            return (active, arcs), True
        # 2. COLOR: forward min-id propagation to fixpoint
        colors = (
            active.select("node", F.col("node").alias("color"))
            .repartition(p, "node")
            .localCheckpoint()
        )
        while True:
            cand = (
                arcs.join(
                    colors.select(F.col("node").alias("a"), "color"), "a"
                )
                .groupBy("b")
                .agg(F.min("color").alias("c_in"))
            )
            merged = (
                colors.join(
                    cand, colors["node"] == cand["b"], "left"
                )
                .select(
                    "node",
                    "color",
                    F.least(
                        F.col("color"), F.coalesce("c_in", "color")
                    ).alias("ncolor"),
                )
                .repartition(p, "node")
                .transform(_pin)
            )
            improved = merged.where(
                F.col("ncolor") < F.col("color")
            ).count()
            colors = merged.select("node", F.col("ncolor").alias("color"))
            if improved == 0:
                break
        # 3. GATHER: backward BFS from every color root, keyed by color
        ca = colors.select(
            F.col("node").alias("a"), F.col("color").alias("color_a")
        )
        cb = colors.select(
            F.col("node").alias("b"), F.col("color").alias("color_b")
        )
        carcs = (
            arcs.join(ca, "a")
            .join(cb, "b")
            .where(F.col("color_a") == F.col("color_b"))
            .select("a", "b", F.col("color_a").alias("fc"))
            .repartition(p, "b")
            .localCheckpoint()
        )
        settled = (
            colors.where(F.col("node") == F.col("color"))
            .select(F.col("color").alias("fc"), "node")
            .repartition(p, "node")
            .transform(_pin)
        )
        frontier = settled
        while True:
            fr = frontier.select(
                F.col("fc").alias("gc"), F.col("node").alias("fn")
            )
            nxt = (
                fr.join(
                    carcs,
                    (F.col("gc") == F.col("fc"))
                    & (F.col("fn") == F.col("b")),
                )
                .select(F.col("gc").alias("fc"), F.col("a").alias("node"))
                .distinct()
                .join(settled, ["fc", "node"], "left_anti")
                .repartition(p, "node")
                .transform(_pin)
            )
            if nxt.count() == 0:
                break
            settled = settled.unionByName(nxt).localCheckpoint()
            frontier = nxt
        done.append(
            settled.select(
                "node", F.col("fc").alias("component")
            ).localCheckpoint()
        )
        active = (
            active.join(settled.select("node"), "node", "left_anti")
            .repartition(p, "node")
            .transform(_pin)
        )
        return (active, arcs), False

    # the emptiness check runs at the TOP of each round, so a run whose
    # last allowed round settles everything converges on the re-probe
    active, _ = fixpoint(
        (active, _arcs(edges, src, dst, p, directed=True)),
        settle,
        max_rounds,
        "strongly_connected_components",
    )
    if not done:  # edgeless input (only self-loops / empty)
        return active.select(
            "node", F.col("node").alias("component")
        )
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out


def _roots(
    arcs: DataFrame, sources, fn: str, all_nodes: bool = True
) -> DataFrame:
    """Normalize a multi-source spec into one deduped ``root`` column
    typed from the arc table (shared by every multi-source traversal —
    shortest_paths / random_walks / node2vec_walks /
    betweenness_centrality / reachability). ``sources`` may be ``None``
    (default universe: both arc endpoints when ``all_nodes``, else only
    nodes with an out-arc — the walk generators' convention, where a
    dead-end root would emit just its trivial step-0 row), a DataFrame
    (first column), or a plain id list. An explicitly empty list raises
    here; an empty DataFrame is caught by the caller's seed count."""
    if sources is None:
        out = arcs.select(F.col("a").alias("root"))
        if all_nodes:
            out = out.union(arcs.select(F.col("b").alias("root")))
        return out.distinct()
    if isinstance(sources, DataFrame):
        return sources.select(
            F.col(sources.columns[0]).alias("root")
        ).distinct()
    seeds = list(dict.fromkeys(sources))  # dedupe, keep order
    if not seeds:
        raise ValueError(f"{fn}: empty source set")
    from pyspark.sql.types import StructField, StructType

    return arcs.sparkSession.createDataFrame(
        [(s,) for s in seeds],
        schema=StructType([StructField("root", arcs.schema["a"].dataType)]),
    )


def shortest_paths(
    edges: DataFrame,
    sources,
    weight_col: str | None = None,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
    max_hops: int = 32,
    num_partitions: int | None = None,
) -> DataFrame:
    """Weighted multi-source shortest path costs → ``(root, node,
    dist)`` — minimum total weight over paths of at most ``max_hops``
    arcs (with enough hops: true SSSP; the loop stops early at the
    fixpoint). ``weight_col=None`` is hop counting (then this equals
    :func:`bfs_distances` semantics, multi-source). Negative weights
    raise — synchronous relaxation needs non-negativity for the
    monotone-improvement argument below.

    Distributed Bellman–Ford with a DELTA frontier: round h relaxes
    only arcs out of nodes whose tentative cost IMPROVED in round h−1
    (initially the roots), so settled regions stop generating traffic
    — on small-world graphs the frontier sweeps outward exactly like
    BFS, and total relaxation volume approaches O(|closure|). Per
    round: ONE co-partitioned arc join + a (root, node) min-groupBy +
    a left join against the running best + an anti-join/union update.
    After round h the table holds the exact minimum over ≤h-hop paths
    (induction on synchronous relaxation), which is what the bounded
    oracle checks; rounds are bounded by the hop length of the longest
    shortest path. Integer weights stay exact longs end-to-end —
    cross-engine-pinnable; floats work but sum in double.
    """
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    wcol = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        and dict(edges.dtypes)[weight_col] in ("int", "bigint", "smallint", "tinyint")
        else (
            F.col(weight_col).cast("double")
            if weight_col is not None
            else F.lit(1).cast("long")
        )
    )
    base = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"), wcol.alias("w")
    )
    if not directed:
        base = base.union(
            edges.select(
                F.col(dst).alias("a"), F.col(src).alias("b"), wcol.alias("w")
            )
        )
    arcs = (
        base.where(F.col("a") != F.col("b"))
        # parallel arcs: only the cheapest can ever matter
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .repartition(p, "a")
        .transform(_pin)
    )
    if arcs.where(F.col("w") < 0).count() > 0:
        raise ValueError("shortest_paths: negative weights unsupported")
    roots = _roots(arcs, sources, "shortest_paths")
    zero = F.lit(0).cast(dict(arcs.dtypes)["w"])
    dist = (
        roots.select("root", F.col("root").alias("node"), zero.alias("dist"))
        .repartition(p, "node")
        .transform(_pin)
    )
    if dist.count() == 0:
        raise ValueError("shortest_paths: empty source set")
    frontier = dist
    for _h in range(max_hops):
        cand = (
            frontier.join(arcs, frontier["node"] == arcs["a"])
            .select(
                "root",
                F.col("b").alias("node"),
                (F.col("dist") + F.col("w")).alias("nd"),
            )
            .groupBy("root", "node")
            .agg(F.min("nd").alias("nd"))
        )
        cur = dist.select(
            F.col("root").alias("r2"),
            F.col("node").alias("n2"),
            F.col("dist").alias("cur"),
        )
        improved = (
            cand.join(
                cur,
                (F.col("root") == F.col("r2"))
                & (F.col("node") == F.col("n2")),
                "left",
            )
            .where(F.col("cur").isNull() | (F.col("nd") < F.col("cur")))
            .select("root", "node", F.col("nd").alias("dist"))
            .repartition(p, "node")
            .transform(_pin)
        )
        if improved.count() == 0:
            break
        dist = (
            dist.join(improved.select("root", "node"), ["root", "node"], "left_anti")
            .unionByName(improved)
            .repartition(p, "node")
            .localCheckpoint()
        )
        frontier = improved
    return dist


def random_walks(
    edges: DataFrame,
    sources=None,
    walk_length: int = 10,
    num_walks: int = 1,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic uniform random walks → ``(root, walk, step,
    node)`` — the corpus generator for DeepWalk/node2vec-style graph
    embeddings (Perozzi et al. KDD'14): ``num_walks`` walks of
    ``walk_length`` steps from every source node, to be fed to a
    skip-gram trainer as "sentences".

    DERANDOMIZED: the step from node v is neighbor number
    ``md5(v ⊕ step ⊕ root ⊕ walk) mod deg(v)`` in the canonical
    (sorted-neighbor) adjacency ranking — no RNG state, so walks are
    reproducible across runs, partitionings, AND engines (md5 is
    portable; the driver oracle replays the identical walk in SQL).
    Walk quality matches a seeded PRNG for embedding purposes: the
    choice varies per (node, step, root, walk), which is exactly the
    independence the corpus needs.

    Relational iteration: adjacency is ranked ONCE (row_number over
    neighbors, co-partitioned with the degree table on the node key);
    each step is ONE co-partitioned join of the walk state against
    (deg ⋈ adj) — state is (|sources| · num_walks) rows per step, so
    the full-graph DeepWalk config costs n rows/step/walk, linear and
    bounded. Directed dead ends end their walk early (no match, row
    absent from later steps). Per-step checkpoints keep the plan O(1).
    """
    if walk_length < 0 or num_walks < 1:
        raise ValueError("random_walks: walk_length ≥ 0, num_walks ≥ 1")
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    arcs = _arcs(edges, src, dst, p, directed=directed)
    from pyspark.sql import Window

    adj = (
        arcs.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("a").orderBy("b")
            )
            - 1,
        )
        .repartition(p, "a")
        .transform(_pin)
    )
    deg = (
        adj.groupBy("a")
        .agg(F.count("*").alias("dg"))
        .repartition(p, "a")
        .transform(_pin)
    )
    roots = _roots(arcs, sources, "random_walks", all_nodes=False)
    state = (
        roots.select(
            "root",
            F.explode(
                F.array(*[F.lit(w) for w in range(num_walks)])
            ).alias("walk"),
            F.lit(0).alias("step"),
            F.col("root").alias("node"),
        )
        .repartition(p, "node")
        .transform(_pin)
    )
    if state.count() == 0:
        raise ValueError("random_walks: empty source set")
    parts = [state]
    for t in range(walk_length):
        # 8 hex chars = 32 draw bits (same width as node2vec_walks):
        # 16 bits would zero the step probability of neighbors ranked
        # ≥ 65536 on big hubs and carry ~2x modulo bias by deg ~44k
        idx = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "_", "node", F.lit(t), "root", "walk"
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("dg")
        )
        # deg first (1 row/node) to materialize the chosen index, THEN
        # a 2-key equi-join picks exactly one adjacency row — never a
        # deg-sized fan-out (a hub visit costs one probe, not deg rows)
        chosen = (
            state.join(deg, state["node"] == deg["a"])
            .select("root", "walk", "node", idx.alias("idx"))
        )
        state = (
            chosen.join(
                adj,
                (chosen["node"] == adj["a"])
                & (chosen["idx"] == adj["rn"]),
            )
            .select(
                "root",
                "walk",
                F.lit(t + 1).alias("step"),
                F.col("b").alias("node"),
            )
            .repartition(p, "node")
            .transform(_pin)
        )
        if state.isEmpty():
            break
        parts.append(state)
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out


def node2vec_walks(
    edges: DataFrame,
    sources=None,
    walk_length: int = 10,
    num_walks: int = 1,
    p: float = 1.0,
    q: float = 1.0,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Second-order biased walks (node2vec, Grover & Leskovec KDD'16)
    → ``(root, walk, step, node)`` — the (p, q) generalization of
    :func:`random_walks`: stepping from v with previous node t, the
    unnormalized weight of candidate x is 1/p if x = t (return), 1 if
    x is adjacent to t (BFS-ish), else 1/q (DFS-ish). Low q explores
    outward (structural roles), low p stays local (communities).

    Derandomized like :func:`random_walks`: weights are quantized to
    integers (round(3600/p), 3600, round(3600/q), floored at 1 so no
    step ever has zero total mass), and the choice is
    ``md5(node ⊕ step ⊕ root ⊕ walk) mod Σweights`` against the
    cumulative weight in sorted-neighbor order — reproducible across
    runs and partitionings, replayable by any engine with md5.

    Cost model (inherent to node2vec, not this formulation): the
    biased choice needs EVERY neighbor's weight, so a step costs
    Σ deg(v_t) candidate rows — the relational twin of the original's
    per-node alias tables. Per step: one co-partitioned adjacency
    join (the fan-out), one (prev, cand) adjacency-flag join against
    the arc set, and one (root, walk) window for the cumulative pick —
    all bounded by the fan-out, checkpointed per step. The first step
    is uniform (prev initialized to the root: nothing equals prev, and
    every candidate is adjacent to it — weight 3600 each), matching
    the paper.
    """
    if walk_length < 0 or num_walks < 1:
        raise ValueError("node2vec_walks: walk_length ≥ 0, num_walks ≥ 1")
    if p <= 0 or q <= 0:
        raise ValueError("node2vec_walks: p, q must be > 0")
    w_ret = max(1, round(3600.0 / p))
    w_in = 3600
    w_out = max(1, round(3600.0 / q))
    spark = edges.sparkSession
    pn = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    arcs = _arcs(edges, src, dst, pn, directed=directed)
    # 32-bit-draw ceiling (round-5 review): the md5 draw addresses at
    # most 2^32 of cumulative weight — a hub whose Σ(quantized weight)
    # exceeds that would NEVER choose its highest-ranked neighbors
    # (silent sampling bias). Validate once against the max degree so
    # the failure is loud; the draw replay (oracle + python twins) is
    # exact below the ceiling.
    max_w = max(w_ret, w_in, w_out)
    max_deg = arcs.groupBy("a").count().agg(F.max("count")).first()[0] or 0
    if max_deg * max_w >= 2 ** 32:
        raise ValueError(
            f"node2vec_walks: max degree {max_deg} x max quantized "
            f"weight {max_w} exceeds the 32-bit draw space — reduce "
            "the p/q extremity or pre-cap hub degrees"
        )
    roots = _roots(arcs, sources, "node2vec_walks", all_nodes=False)
    state = (
        roots.select(
            "root",
            F.explode(
                F.array(*[F.lit(w) for w in range(num_walks)])
            ).alias("walk"),
            F.col("root").alias("node"),
            F.col("root").alias("prev"),
        )
        .repartition(pn, "node")
        .transform(_pin)
    )
    if state.count() == 0:
        raise ValueError("node2vec_walks: empty source set")
    from pyspark.sql import Window

    out_parts = [
        state.select("root", "walk", F.lit(0).alias("step"), "node")
    ]
    flag_arcs = arcs.select(
        F.col("a").alias("px"), F.col("b").alias("cy"),
        F.lit(1).alias("is_adj"),
    )
    for t in range(walk_length):
        cand = (
            state.join(arcs, state["node"] == arcs["a"])
            .select("root", "walk", "node", "prev", F.col("b").alias("cand"))
            .join(
                flag_arcs,
                (F.col("prev") == F.col("px"))
                & (F.col("cand") == F.col("cy")),
                "left",
            )
            .select(
                "root",
                "walk",
                "node",
                "cand",
                F.when(F.col("cand") == F.col("prev"), F.lit(w_ret))
                .when(F.col("is_adj").isNotNull(), F.lit(w_in))
                .otherwise(F.lit(w_out))
                .cast("long")
                .alias("w"),
            )
        )
        wspec = Window.partitionBy("root", "walk").orderBy("cand")
        picked = (
            cand.withColumn(
                "cum",
                F.sum("w").over(
                    wspec.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
            .withColumn(
                "total",
                F.sum("w").over(
                    wspec.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                ),
            )
            .withColumn(
                "idx",
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "_", "node", F.lit(t), "root", "walk"
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("total"),
            )
            .where(
                (F.col("cum") - F.col("w") <= F.col("idx"))
                & (F.col("idx") < F.col("cum"))
            )
        )
        state = (
            picked.select(
                "root",
                "walk",
                F.col("cand").alias("node"),
                F.col("node").alias("prev"),
            )
            .repartition(pn, "node")
            .transform(_pin)
        )
        if state.isEmpty():
            break
        out_parts.append(
            state.select("root", "walk", F.lit(t + 1).alias("step"), "node")
        )
    out = out_parts[0]
    for d in out_parts[1:]:
        out = out.unionByName(d)
    return out


def betweenness_centrality(
    edges: DataFrame,
    sources=None,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    max_hops: int = 32,
    num_partitions: int | None = None,
) -> DataFrame:
    """Betweenness AND stress centrality via batched multi-source
    Brandes (Brandes 2001; the variants recursion from Brandes 2008) →
    ``(node, betweenness, stress)``.

    * ``betweenness(v)`` = Σ over processed roots s of the pair
      dependency δ_s(v) = Σ_t σ_st(v)/σ_st — Brandes' accumulation,
      float (the ratios are genuinely rational).
    * ``stress(v)`` = Σ_{s,t} σ_st(v) — the NUMBER of shortest paths
      through v (Shimbel 1953). Computed by the all-INTEGER recursion
      φ(v) = Σ_{w ∈ succ_sp(v)} (1 + φ(w)), stress contribution
      σ_sv·φ(v): every intermediate is an exact long, so the result is
      partitioning-invariant and PINNABLE, unlike float betweenness
      whose sum order drifts. (Proof of the recursion: φ(v) counts
      SP-DAG paths v→t summed over all t, and σ_st(v) = σ_sv·paths(v→t).)

    ``sources=None`` runs EXACT centrality (every node a root);
    a list/DataFrame runs the Brandes–Pich sampled approximation —
    sums are over the given roots only (rescale by n/|S| for the
    estimator). Directed=False symmetrizes; the undirected convention
    then counts each unordered (s,t) pair twice (divide by 2 to match
    e.g. networkx).

    Shape: the forward phase is the (root, node)-keyed multi-source BFS
    of :func:`reachability` with one extra map-side-combinable
    ``sum(sigma)`` per hop (path counts merge additively across
    predecessors). The backward phase walks the stored per-level
    frontiers deepest-first: per level ONE co-partitioned arc join +
    ONE (root, node) aggregation computes δ and φ for every root at
    once. Total rounds = 2 × max source eccentricity, each a bounded
    shuffle; per-level states are checkpointed (O(1) plan growth), and
    the only driver state is the level count. σ/φ are exact longs —
    overflow needs >9e18 shortest paths through one node from the root
    set, far past any real sparse graph at max_hops-bounded depth.
    """
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    arcs = _arcs(edges, src, dst, p, directed=directed)
    roots = _roots(arcs, sources, "betweenness_centrality")
    # ---- forward: per-level (root, node, sigma) ----
    lvl0 = (
        roots.select(
            "root",
            F.col("root").alias("node"),
            F.lit(1).cast("long").alias("sigma"),
        )
        .repartition(p, "node")
        .transform(_pin)
    )
    if lvl0.count() == 0:
        raise ValueError("betweenness_centrality: empty source set")
    levels = [lvl0]
    settled = lvl0.select("root", "node")
    frontier = lvl0
    for _h in range(1, max_hops + 1):
        nxt = (
            frontier.join(arcs, frontier["node"] == arcs["a"])
            .select("root", F.col("b").alias("node"), "sigma")
            .groupBy("root", "node")
            .agg(F.sum("sigma").alias("sigma"))
            .join(settled, ["root", "node"], "left_anti")
            .repartition(p, "node")
            .transform(_pin)
        )
        if nxt.count() == 0:
            break
        levels.append(nxt)
        settled = settled.unionByName(nxt.select("root", "node"))
        frontier = nxt
    # ---- backward: deepest level first, δ and φ together ----
    deepest = levels[-1].select(
        "root", "node", "sigma",
        F.lit(0.0).alias("delta"),
        F.lit(0).cast("long").alias("phi"),
    ).localCheckpoint(eager=False)
    states = [deepest]
    below = deepest
    for h in range(len(levels) - 2, -1, -1):
        succ = below.select(
            F.col("root").alias("r2"),
            F.col("node").alias("w2"),
            F.col("sigma").alias("sigma_w"),
            F.col("delta").alias("delta_w"),
            F.col("phi").alias("phi_w"),
        )
        # arcs out of level h whose head sits one level deeper (same
        # root) are exactly the SP-DAG successor arcs — deeper levels
        # were settled later, same-level arcs don't match any w below
        contrib = (
            levels[h]
            .join(arcs, levels[h]["node"] == arcs["a"])
            .select("root", "node", "sigma", F.col("b").alias("w"))
            .join(
                succ,
                (F.col("root") == F.col("r2"))
                & (F.col("w") == F.col("w2")),
            )
            .groupBy("root", "node")
            .agg(
                F.sum(
                    (F.lit(1.0) + F.col("delta_w")) / F.col("sigma_w")
                ).alias("dsum"),
                F.sum(F.lit(1).cast("long") + F.col("phi_w")).alias("phi"),
            )
        )
        state = (
            levels[h]
            .join(contrib, ["root", "node"], "left")
            .select(
                "root",
                "node",
                "sigma",
                (
                    F.col("sigma").cast("double")
                    * F.coalesce("dsum", F.lit(0.0))
                ).alias("delta"),
                F.coalesce("phi", F.lit(0).cast("long")).alias("phi"),
            )
            .repartition(p, "node")
            .transform(_pin, eager=False)
        )
        states.append(state)
        below = state
    allstate = states[0]
    for s in states[1:]:
        allstate = allstate.unionByName(s)
    return (
        allstate.where(F.col("node") != F.col("root"))
        .groupBy("node")
        .agg(
            F.sum("delta").alias("betweenness"),
            F.sum(F.col("sigma") * F.col("phi")).alias("stress"),
        )
    )


def reachability(
    edges: DataFrame,
    sources=None,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
    max_hops: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """Bounded multi-source reachability closure → ``(root, node,
    dist)``: every node reachable from each root within ``max_hops``
    arcs, at its MINIMUM hop distance (the root itself at dist 0).
    ``sources=None`` closes over every node — the depth-bounded
    transitive closure itself. The KG use is ontology / type-hierarchy
    closure (subclass-of, part-of chains), where depth is bounded by
    the hierarchy's design; an unbounded closure of a dense graph is
    O(n²) OUTPUT and no physical plan fixes that — callers own
    ``max_hops``.

    Semi-naive datalog evaluation (the textbook TC plan): only the
    DELTA frontier of newly discovered (root, node) pairs joins the arc
    table each round — never the full closure — so join input across
    all rounds is O(|closure|) pair-rows, not O(|closure| · rounds).
    Per hop: ONE co-partitioned join (frontier hash-partitioned on
    ``node``, arcs pinned on the probe key) + a round-local distinct +
    one (root, node) anti-join against the settled set. The settled set
    is a UNION of per-hop checkpointed deltas — each round WRITES
    O(|delta|), not O(|closure|) (vs re-checkpointing the running
    union); the anti-join still probes the full closure, which is the
    semi-naive lower bound. Frontier checkpointed per hop → O(1) plan;
    driver state is one scalar count per round.

    ``sources`` accepts a one-column DataFrame or a python list; node
    id type derives from the arc table (string ids work). Duplicate
    roots collapse; an explicit empty source set raises.
    """
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    arcs = _arcs(edges, src, dst, p, directed=directed)
    roots = _roots(arcs, sources, "reachability")
    first = (
        roots.select(
            "root", F.col("root").alias("node"), F.lit(0).alias("dist")
        )
        .repartition(p, "node")
        .transform(_pin)
    )
    if first.count() == 0:
        raise ValueError("reachability: empty source set")
    parts = [first]
    settled = first
    frontier = first
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(arcs, frontier["node"] == arcs["a"])
            .select("root", F.col("b").alias("node"))
            .distinct()
            .join(settled, ["root", "node"], "left_anti")
            .withColumn("dist", F.lit(h))
            .repartition(p, "node")
            .transform(_pin)
        )
        if nxt.count() == 0:
            break
        parts.append(nxt)
        # settled is a view over checkpointed deltas — no data rewrite
        settled = settled.unionByName(nxt)
        frontier = nxt
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out


def negative_triples(
    triples: DataFrame,
    n_neg: int = 1,
    corrupt: str = "tail",
    entities: DataFrame | None = None,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Filtered negative sampling for KG-embedding training (the
    corrupt-one-side protocol of Bordes et al. 2013 TransE, with the
    "filtered" candidate set of its evaluation: corrupted triples that
    happen to be TRUE triples are discarded, never emitted as
    negatives).

    For each distinct true (h, r, t) and draw j < ``n_neg``, the
    replacement entity is ``pool[md5(h|r|t|side|j) mod |pool|]`` — the
    package's derandomized-draw convention (random_walks /
    node2vec_walks): no RNG state, so the sample is a pure function of
    the graph, reproducible across runs, partitionings AND engines (a
    SQL oracle replays every draw). ``corrupt`` ∈ {'tail','head',
    'both'}; 'both' emits n_neg draws per side, per the paper's
    Bernoulli-free baseline.

    ``entities`` (single-column) overrides the candidate pool; default
    is the distinct subj∪obj inventory. The pool is ranked once by a
    global row_number ordered on the entity id — the pool is
    VOCABULARY-sized (the same bounded-dictionary argument as tfidf's
    df table and alias_priors), so the single-partition rank sort is
    bounded; the ranked pool then equi-joins the draws on the computed
    index (one probe per draw, never a pool-sized fan-out).

    Output: (subj, pred, obj, side, j) — negatives only. Scale: one
    explode (n_neg×), one broadcast-sized rank join, one anti-join
    against the true set keyed on all three columns; no cross product
    anywhere.
    """
    from pyspark.sql import Window

    if corrupt not in ("tail", "head", "both"):
        raise ValueError("corrupt must be 'tail', 'head', or 'both'")
    if n_neg < 1:
        raise ValueError("n_neg must be >= 1")
    tri = triples.select(
        F.col(subj).alias("h"), F.col(pred).alias("r"), F.col(obj).alias("t")
    ).distinct()
    if entities is not None:
        pool = entities.select(
            F.col(entities.columns[0]).alias("entity")
        ).distinct()
    else:
        pool = (
            tri.select(F.col("h").alias("entity"))
            .union(tri.select(F.col("t").alias("entity")))
            .distinct()
        )
    pool = pool.withColumn(
        "rk", F.row_number().over(Window.orderBy("entity")) - 1
    ).localCheckpoint()
    n_pool = pool.count()
    if n_pool == 0:
        raise ValueError("negative_triples: empty entity pool")
    draws = tri.select(
        "h",
        "r",
        "t",
        F.explode(F.array(*[F.lit(j) for j in range(n_neg)])).alias("j"),
    )
    sides = ("tail", "head") if corrupt == "both" else (corrupt,)
    outs = []
    for side in sides:
        ix = (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", "h", "r", "t", F.lit(side), "j")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.lit(n_pool)
        )
        cand = (
            draws.withColumn("ix", ix)
            .join(F.broadcast(pool), F.col("ix") == F.col("rk"))
            .select(
                (F.col("entity") if side == "head" else F.col("h")).alias("h"),
                "r",
                (F.col("entity") if side == "tail" else F.col("t")).alias("t"),
                F.lit(side).alias("side"),
                "j",
            )
        )
        outs.append(cand)
    neg = outs[0]
    for o in outs[1:]:
        neg = neg.unionByName(o)
    # filtered setting: a corrupted triple that IS a true triple (incl.
    # the original when the draw lands on the uncorrupted entity) is
    # dropped
    neg = neg.join(tri, ["h", "r", "t"], "left_anti")
    return neg.select(
        F.col("h").alias(subj),
        F.col("r").alias(pred),
        F.col("t").alias(obj),
        "side",
        "j",
    )


def wl_labels(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    node_labels: DataFrame | None = None,
) -> DataFrame:
    """1-dimensional Weisfeiler–Leman color refinement (Weisfeiler &
    Leman 1968; the WL subtree-kernel of Shervashidze et al. JMLR 2011)
    — canonical node fingerprints: after ``rounds`` iterations two
    nodes carry the same label iff 1-WL cannot distinguish their
    rooted r-hop neighborhoods. The primitive behind graph kernels,
    structural-role discovery, and structure-level graph dedup
    (identical label MULTISETS ⇒ 1-WL-equivalent graphs).

        label₀(v)   = node_labels (or '0')
        labelᵣ₊₁(v) = md5(labelᵣ(v) || '|' ||
                          ','-join(sort(multiset{labelᵣ(u) : u ∈ N(v)})))

    md5 as the injective-enough hash makes labels portable: a SQL twin
    (string_agg ORDER BY) reproduces every label byte-for-byte, and
    labels are independent of partitioning by construction.

    Shuffle shape per round: ONE neighbor-gather groupBy (collect_list
    + array_sort) and one co-partitioned label join; plans stay O(1) in
    rounds via localCheckpoint. Hub cost: the gathered string is
    O(deg·33) bytes — at web scale cap hub degrees upstream (the same
    Σdeg² philosophy as common_neighbor_pairs) or seed ``node_labels``
    with degree classes to converge faster.

    Known 1-WL limit (documented, tested): regular graphs of equal
    degree sequence can be indistinguishable (C₆ vs 2×C₃) — that is the
    algorithm, not a defect.
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if not directed:
        e = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    e = e.distinct().localCheckpoint()
    nodes = e.select(F.col("s").alias("node")).union(
        e.select(F.col("d").alias("node"))
    ).distinct()
    if node_labels is not None:
        nl = node_labels.select(
            F.col(node_labels.columns[0]).alias("node"),
            F.col(node_labels.columns[1]).cast("string").alias("label"),
        )
        labels = nodes.join(nl, "node", "left").select(
            "node", F.coalesce("label", F.lit("0")).alias("label")
        )
    else:
        labels = nodes.select("node", F.lit("0").alias("label"))
    labels = labels.transform(_pin)
    for _ in range(rounds):
        nbr = e.join(labels, e["d"] == labels["node"]).select(
            F.col("s").alias("node"), F.col("label").alias("nl")
        )
        gathered = nbr.groupBy("node").agg(
            F.concat_ws(",", F.array_sort(F.collect_list("nl"))).alias("ns")
        )
        labels = (
            labels.join(gathered, "node", "left")
            .select(
                "node",
                F.md5(
                    F.concat(
                        F.col("label"),
                        F.lit("|"),
                        F.coalesce(F.col("ns"), F.lit("")),
                    )
                ).alias("label"),
            )
            .transform(_pin)
        )
    return labels


def transe_rank_eval(
    test: DataFrame,
    entity_emb: DataFrame,
    rel_emb: DataFrame,
    known: DataFrame | None = None,
    corrupt: str = "tail",
    model: str = "transe",
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    node_col: str = "node",
    vec_col: str = "vec",
) -> DataFrame:
    """Filtered TransE ranking evaluation (Bordes et al. NeurIPS 2013
    §4 protocol): for each test triple, rank the true ``corrupt`` side
    among ALL candidate entities by the TransE distance, excluding
    corrupted triples that appear in ``known`` (the filtered setting —
    ``known`` defaults to the test set itself). Returns the test
    triples + ``rank`` (long).

    Distance is the SQUARED L2 ‖e_h + e_r − e_t‖² — rank-equivalent to
    the paper's L2 (sqrt is monotone) and, with integer-valued
    embeddings, exactly reproducible across engines. Rank = 1 + the
    number of STRICTLY better filtered candidates (optimistic tie
    handling, documented; ties are measure-zero for trained floats and
    the self-candidate can never be strictly better, so no self
    special-case is needed).

    ``model='distmult'`` swaps the scoring function for DistMult's
    trilinear product (Yang et al. ICLR 2015): score(h, r, t) =
    Σᵢ hᵢ·rᵢ·tᵢ, HIGHER is better — a strictly-better candidate has a
    strictly greater score. The physical plan is identical: the
    per-test target vector becomes the elementwise product of the
    fixed-side and relation embeddings (the trilinear form factors as
    dot(target, candidate), for head corruption too — the product is
    symmetric in h and t), so only the fold expression changes.

    Physical plan, all JVM expressions (zip_with + aggregate — no UDF):
    the test side (joined to its h/r/true-candidate vectors) is
    BROADCAST against the entity table — eval sets are small by
    definition while the entity table may be huge, so the |T|·|E|
    score stream is generated partition-locally over E and immediately
    collapsed by a map-side-combined count per test triple; the only
    wide exchanges are the filtered anti-join on (h, r, cand) and the
    final |T|-row gather. Nothing is ever collected to the driver.
    """
    if corrupt not in ("tail", "head"):
        raise ValueError("transe_rank_eval: corrupt must be tail|head")
    if model not in ("transe", "distmult"):
        raise ValueError("transe_rank_eval: model must be transe|distmult")
    fixed, ranked = (subj, obj) if corrupt == "tail" else (obj, subj)
    if known is None:
        known = test
    ent = entity_emb.select(
        F.col(node_col).alias("_cand"), F.col(vec_col).alias("_cvec")
    )
    sgn = F.lit(1.0) if corrupt == "tail" else F.lit(-1.0)
    if model == "distmult":
        # trilinear target: fixed ∘ relation; score = dot(target, cand)
        target_c = F.zip_with("_fvec", "_rvec", lambda x, y: x * y)

        def _measure(vec):
            return F.aggregate(
                F.zip_with("_target", vec, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )

        better_cmp = ">"
    else:
        # translation vector: h + r for tail corruption; for head
        # ranking we rank candidates c by ‖c + r − t‖² = ‖(t − r) − c‖²,
        # i.e. the same zip_with shape against target (t − r).
        target_c = F.zip_with("_fvec", "_rvec", lambda x, y: x + sgn * y)

        def _measure(vec):
            return F.aggregate(
                F.zip_with("_target", vec, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )

        better_cmp = "<"
    t0 = (
        # distinct: a duplicated test triple would DOUBLE every
        # (test, candidate) score row and both copies would rank
        # 2·n_better+1 instead of n_better+1 (round-5 review fix,
        # matching negative_triples' input dedup). Triples whose
        # entity/relation lacks an embedding drop in the inner joins —
        # they cannot be scored; compare the output row count to the
        # test count when loss matters.
        test.select(subj, pred, obj).distinct()
        .join(
            entity_emb.select(
                F.col(node_col).alias(fixed), F.col(vec_col).alias("_fvec")
            ),
            fixed,
        )
        .join(
            rel_emb.select(
                F.col(node_col).alias(pred), F.col(vec_col).alias("_rvec")
            ),
            pred,
        )
        .join(
            entity_emb.select(
                F.col(node_col).alias(ranked), F.col(vec_col).alias("_tvec")
            ),
            ranked,
        )
        .withColumn("_target", target_c)
        .withColumn("_d2true", _measure("_tvec"))
        .select(subj, pred, obj, "_target", "_d2true")
    )
    scores = (
        ent.join(F.broadcast(t0), how="cross")
        .withColumn("_d2", _measure("_cvec"))
        .where(
            F.col("_d2") < F.col("_d2true")
            if better_cmp == "<"
            else F.col("_d2") > F.col("_d2true")
        )
        .select(subj, pred, obj, "_cand")
    )
    # filtered protocol: drop candidates forming a KNOWN true triple
    kn = known.select(
        F.col(subj).alias("_ks"), F.col(pred).alias("_kp"),
        F.col(obj).alias("_ko"),
    )
    if corrupt == "tail":
        cond = [
            scores[subj] == kn["_ks"], scores[pred] == kn["_kp"],
            scores["_cand"] == kn["_ko"],
        ]
    else:
        cond = [
            scores["_cand"] == kn["_ks"], scores[pred] == kn["_kp"],
            scores[obj] == kn["_ko"],
        ]
    better = scores.join(kn, cond, "left_anti")
    counts = better.groupBy(subj, pred, obj).agg(
        F.count("*").alias("_nbetter")
    )
    return (
        t0.select(subj, pred, obj)
        .join(counts, [subj, pred, obj], "left")
        .select(
            subj, pred, obj,
            (F.coalesce("_nbetter", F.lit(0)) + 1).cast("long").alias("rank"),
        )
    )


def condensation(
    edges: DataFrame,
    components: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    num_partitions: int | None = None,
) -> DataFrame:
    """Condensation of a directed graph: contract every SCC to one
    node and keep the distinct between-component arcs — the result is
    a DAG by construction (any cycle through two components would
    merge them), which is what makes it useful: cycle-free dependency
    orders, topological layering, and the bow-tie/reachability
    analyses that only make sense on a DAG.

    ``components`` accepts a precomputed ``(node, component)``
    assignment (the :func:`strongly_connected_components` output
    contract) to skip the SCC run. Plan: two co-keyed label-lookup
    joins on the arc endpoints + one distinct — the arc table is
    touched once; self-arcs inside a component drop out with the
    ``!=`` filter. Output: ``(src, dst)`` over component labels
    (minimum member id, inherited from the SCC convention)."""
    comp = (
        components
        if components is not None
        else strongly_connected_components(
            edges, src=src, dst=dst, num_partitions=num_partitions
        )
    )
    cs = comp.select(
        F.col("node").alias("_ns"), F.col("component").alias("_cs")
    )
    cd = comp.select(
        F.col("node").alias("_nd"), F.col("component").alias("_cd")
    )
    return (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .join(cs, F.col("_s") == F.col("_ns"))
        .join(cd, F.col("_d") == F.col("_nd"))
        .where(F.col("_cs") != F.col("_cd"))
        .select(F.col("_cs").alias("src"), F.col("_cd").alias("dst"))
        .distinct()
    )


def katz_centrality(
    edges: DataFrame,
    alpha=0.1,
    n_iter: int = 8,
    src: str = "src",
    dst: str = "dst",
    num_partitions: int | None = None,
) -> DataFrame:
    """Katz centrality (Katz, Psychometrika 1953): x = Σ_k α^k (Aᵀ)^k 1
    — attenuated counts of ALL incoming walks, the centrality between
    plain in-degree (k=1) and eigenvector centrality (α → 1/λ_max);
    unlike PageRank there is no degree normalization, so prolific
    linkers transfer full weight. Iterated ``n_iter`` times as
    x ← α·Aᵀx + 1 from x₀ = 1; diverges if α ≥ 1/λ_max — callers own
    α, the classic guard is α < 1/√(max degree).

    ``alpha`` as a float runs in doubles. As a ``(num, den)`` INTEGER
    tuple it runs the scaled recurrence y_t = num·Aᵀy_{t−1} + den^t
    (y_t = den^t·x_t) in EXACT LONG arithmetic — ``katz_num`` is then
    an engine/partitioning-exact pin and ``katz`` = y/den^k the float
    view; magnitudes grow like (num·d_max)^k, so keep n_iter small in
    this mode (the oracle row uses 2).

    Scale shape: pagerank's — arcs deduped and pinned on the source
    key, one co-partitioned join + one aggregation exchange per
    round, node-row state, lazy-checkpoint severed (k=1 chain)."""
    if n_iter < 1:
        raise ValueError("katz_centrality: n_iter must be >= 1")
    exact = isinstance(alpha, (tuple, list))
    if exact:
        num, den = int(alpha[0]), int(alpha[1])
        if num <= 0 or den <= 0:
            raise ValueError("katz_centrality: exact alpha needs num, den > 0")
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .repartition(p, "s")
        .transform(_pin)
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .repartition(p, "node")
        .transform(_pin)
    )
    one = F.lit(1).cast("long") if exact else F.lit(1.0)
    x = nodes.select("node", one.alias("x"))
    for t in range(1, n_iter + 1):
        contrib = (
            e.join(x, e["s"] == x["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum("x").alias("_c"))
        )
        if exact:
            step = F.lit(num) * F.coalesce("_c", F.lit(0)) + F.lit(
                den
            ).cast("long") ** t
            step = step.cast("long")
        else:
            step = F.lit(float(alpha)) * F.coalesce("_c", F.lit(0.0)) + 1.0
        x = (
            nodes.join(contrib, "node", "left")
            .select("node", step.alias("x"))
            .transform(_pin, eager=False)
        )
    if exact:
        return x.select(
            "node",
            F.col("x").alias("katz_num"),
            (F.col("x") / F.lit(float(den ** n_iter))).alias("katz"),
        )
    return x.select("node", F.col("x").alias("katz"))


def bipartite_project(
    edges: DataFrame,
    over: str,
    node: str,
    max_over_degree: int | None = None,
    weighted: bool = False,
) -> DataFrame:
    """One-mode projection of a bipartite incidence table: nodes are
    the ``node`` column's values, and an undirected arc (a, b), a < b,
    exists whenever both touch the same ``over`` value — the
    co-occurrence graph builder behind every "co-X" analysis in this
    package (parts co-ordered, terms co-occurring, entities
    co-mentioned). Output: distinct ``(src, dst)`` with src < dst.

    Scale shape: ONE self-equi-join on the ``over`` key + a distinct.
    The quadratic hazard is a HOT over-node (an order containing 10⁴
    parts emits ~10⁸ pairs); ``max_over_degree`` drops over-nodes
    above the cap BEFORE the join — the same hub-cap reasoning as
    ``common_neighbor_pairs``/``ngram_jaccard_pairs``' df_cap, and
    like those it changes the result (documented: capped hubs
    contribute no pairs), so it is opt-in.

    ``weighted=True`` returns ``(src, dst, w)`` with w = the number of
    shared over-values (the co-occurrence count — the standard
    weighted projection), via a groupBy-count instead of the distinct:
    same shuffle bill."""
    inc = edges.select(F.col(over).alias("_o"), F.col(node).alias("_n"))
    if max_over_degree is not None:
        ok = (
            inc.groupBy("_o")
            .agg(F.count("*").alias("_d"))
            .where(F.col("_d") <= max_over_degree)
            .select("_o")
        )
        inc = inc.join(ok, "_o", "left_semi")
    l, r = inc.alias("l"), inc.alias("r")
    pairs = (
        l.join(r, "_o")
        .where(F.col("l._n") < F.col("r._n"))
        .select(F.col("l._n").alias("src"), F.col("r._n").alias("dst"))
    )
    if weighted:
        return pairs.groupBy("src", "dst").agg(F.count("*").alias("w"))
    return pairs.distinct()


def local_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz 1998) →
    ``(node, degree, n_triangles, lcc)`` with lcc = 2·T(v) /
    (deg·(deg−1)) and degree-1 nodes at 0.0 — the node-level
    complement to the global wedge count already in the profile
    (degree and T(v) are exact longs, so the float lcc is derivable
    and the integers pin).

    Same degree-ordered orientation as :func:`triangle_count` — per-
    node out-degree bounded O(√m), wedge fan-out O(m^1.5) — but the
    closing join KEEPS the wedge center, so each triangle emits its
    three corners once (center u, endpoints v, w) and one exploded
    groupBy yields exact per-node triangle counts. Three keyed
    shuffles total (wedges, closure, corner count)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .union(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = (
        o1.join(o2, "u")
        .where(
            (F.col("o1.dv") < F.col("o2.dv"))
            | (
                (F.col("o1.dv") == F.col("o2.dv"))
                & (F.col("o1.v") < F.col("o2.v"))
            )
        )
        .select(
            F.col("u").alias("c"),
            F.col("o1.v").alias("u"),
            F.col("o2.v").alias("v"),
        )
    )
    tri = wedges.join(oriented.select("u", "v"), ["u", "v"], "left_semi")
    corners = tri.select(
        F.explode(F.array("c", "u", "v")).alias("n")
    ).groupBy("n").agg(F.count("*").alias("n_triangles"))
    return (
        deg.join(corners, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("deg").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.when(
                F.col("deg") >= 2,
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )
