"""Canonicalization: connected-components entity resolution over the
mention–candidate graph (north_star; SURVEY.md §2.8 J-row "north_star
additions").

Algorithm: iterative *hash-to-min* label propagation on DataFrames —
every node adopts the minimum component label in its closed neighborhood
until fixpoint. On the bipartite mention↔entity candidate graph the
diameter is tiny (stars bridged by shared entities), so convergence is
typically ≤ 4 rounds; a ``max_iter`` cap guards pathological graphs.

Scale mechanics (north_rule):
* the symmetrized edge table is HASH-partitioned on the join key ONCE
  and checkpointed; every round's join then reuses that partitioning
  (no re-shuffle of the big side, no per-round range-sampling job —
  ``repartitionByRange`` was measured 1.7× slower end-to-end because
  the range partitioner runs a sampling pass per call);
* labels are hash-partitioned on ``node`` with the SAME partition count,
  so the per-round join is co-partitioned; AQE skew-join splitting
  covers hot entities on the shuffled side;
* ``localCheckpoint`` each round truncates lineage so plan size stays
  O(1) in rounds (iterative DataFrame jobs otherwise re-plan the whole
  history);
* convergence test is an aggregate (count of label changes), not a
  collect of data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from ..plans.fixpoint import fixpoint
from ..plans.pin import pin as _pin

# column types the driver-side union-find fast path handles (total order
# in Python matches Spark's for these; anything else falls back to the
# distributed rounds)
_LOCAL_CC_TYPES = {"bigint", "int", "smallint", "tinyint", "string"}


def _local_cc_limit() -> int:
    """Edge-count ceiling for the driver-side union-find fast path
    (0 disables). The dup/alias graphs this package feeds CC are tiny
    islands even at corpus scale, so most invocations sit far below any
    reasonable ceiling; the distributed rounds remain the path for
    graph-scale inputs. ~500k edges ≈ a few tens of MB on the driver."""
    return int(os.environ.get("SPARK_GRAFT_CC_LOCAL_EDGES", "500000"))


def _driver_union_find(e: DataFrame, pdf, dtype) -> DataFrame:
    """Union-find over ``pdf``, the collected (pandas) rows of the edge
    frame ``e(a, b)``; component = min node of each set (union links
    the larger root under the smaller, so every root is its set's
    minimum — the exact label the distributed hash-to-min rounds
    converge to). The edge list has no NULL endpoint
    (``connected_components`` rewrites them first).

    An empty edge list returns ``e``'s own projection under a false
    filter, which the optimizer folds to an empty ``LocalRelation``:
    ``createDataFrame`` of an empty pandas frame skips Arrow and plans a
    Python RDD, which costs a job of its own when read."""
    import pandas as pd

    if pdf.empty:
        return e.select(
            F.col("a").alias("node"), F.col("a").alias("component")
        ).where(F.lit(False))
    a_name, b_name = pdf.columns[0], pdf.columns[1]
    parent: dict = {}

    def find(x):
        r = x
        while True:
            p = parent.get(r, r)
            if p == r:
                break
            r = p
        while x != r:
            parent[x], x = r, parent.get(x, x)
        return r

    for a, b in zip(pdf[a_name].tolist(), pdf[b_name].tolist()):
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    nodes = set(pdf[a_name].tolist())
    nodes.update(pdf[b_name].tolist())
    node_list = list(nodes)
    out = pd.DataFrame(
        {"node": node_list, "component": [find(x) for x in node_list]}
    )
    schema = StructType(
        [StructField("node", dtype, True), StructField("component", dtype, True)]
    )
    return e.sparkSession.createDataFrame(out, schema=schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    num_partitions: int | None = None,
    num_edges: int | None = None,
    local_edge_limit: int | None = None,
) -> DataFrame:
    """edges(src, dst) undirected → (node, component) with component =
    min node id (lexicographic) in the component.

    NULL is not a node: an edge with one NULL endpoint keeps its other
    endpoint as a node (it becomes a self-loop), an edge with two NULL
    endpoints is dropped. Both paths below see the same rewritten edges.

    ``num_partitions`` pins the co-partitioning width (default:
    ``spark.sql.shuffle.partitions``).

    Adaptive driver fast path (the tokenizer-training pattern): below
    ``local_edge_limit`` edges (default ``$SPARK_GRAFT_CC_LOCAL_EDGES``,
    500k; 0 disables) the edge list is collected and solved with
    union-find on the driver — identical labels (property-tested), no
    per-round job waves. Pass ``num_edges`` when the caller already
    knows the count; otherwise one bounded ``limit(n+1)`` collect both
    decides and, when it fits, is the edge list solved. Dup-pair /
    alias graphs are tiny islands even at corpus scale, so production runs mostly take the
    fast path too; graph-scale inputs exceed the cap and run the
    distributed hash-to-min rounds below, driven to their fixpoint by
    ``plans.fixpoint``. Only that distributed path materializes the
    edges: symmetrized in one pass, in its pinned edge table. The
    bounded collect computes them itself.

    An empty edge list returns zero rows of the id type as an empty
    ``LocalRelation`` (no Python RDD, no job): a left join against it,
    as in :func:`canonical_entities`, folds away in the optimizer.
    """
    spark = edges.sparkSession
    lim = _local_cc_limit() if local_edge_limit is None else local_edge_limit
    s_type = edges.schema[src].dataType
    d_type = edges.schema[dst].dataType
    e = edges.select(
        F.coalesce(F.col(src), F.col(dst)).alias("a"),
        F.coalesce(F.col(dst), F.col(src)).alias("b"),
    ).where(F.col("a").isNotNull())
    if lim > 0 and s_type == d_type and s_type.simpleString() in _LOCAL_CC_TYPES:
        if num_edges is None:
            pdf = e.limit(lim + 1).toPandas()  # Arrow-accelerated collect
            if len(pdf) <= lim:
                return _driver_union_find(e, pdf, s_type)
        elif num_edges <= lim:
            return _driver_union_find(e, e.toPandas(), s_type)
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    # symmetrize once, in one pass over the edges (each row emits both
    # directions, so the caller's edge lineage runs once, inside this
    # pin); hash-partition on the PROBE key b so each round's join
    # reuses this exchange (pin keeps the partitioning).
    # Self-loops stay: they keep nodes whose only edge is one.
    both_ways = F.explode(F.array(
        F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
        F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
    )).alias("ab")
    sym = (
        e.select(both_ways)
        .select("ab.a", "ab.b")
        .distinct()
        .repartition(p, "b")
        .transform(_pin)
    )

    # initial label: min(self, neighbors)
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("comp"))
        .withColumnRenamed("a", "node")
        .repartition(p, "node")
        .transform(_pin)
    )

    def hop(labels):
        # propagate min label through edges; track per-node change inline so
        # convergence needs no extra join-job per round
        neighbor_label = (
            sym.join(labels, sym.b == labels.node, "inner")
            .select(F.col("a").alias("node"), F.col("comp"))
        )
        new_labels = (
            neighbor_label.union(labels.select("node", "comp"))
            .repartition(p, "node")
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.max("comp").alias("old_max"))
            .withColumn("changed", F.col("comp") != F.col("old_max"))
            .transform(_pin)
        )
        changed = new_labels.where("changed").limit(1).count()
        return new_labels.select("node", "comp"), changed == 0

    # one-hop min-label propagation converges in O(component diameter)
    # rounds; stopping with labels still changing would return SPLIT
    # components, so ``fixpoint`` raises instead
    labels = fixpoint(labels, hop, max_iter, "connected_components")
    return labels.select("node", F.col("comp").alias("component"))


def canonical_entities(links: DataFrame) -> DataFrame:
    """links(mention_id, entity_id) → entities(entity_id, canonical_id).

    Mentions act as bridges: entity ids linked from the same mention
    collapse. Rather than running CC on the full bipartite graph (nodes =
    mentions + entities; at 10^12 docs the mention side dwarfs the entity
    side), project to the ENTITY graph first: each mention contributes a
    star from its minimum candidate entity — same components, |entities|
    nodes instead of |mentions| + |entities|. The projection is one
    aggregation on mention_id (range/AQE-partitioned shuffle).

    Links scored with one entity per mention (``score_links``' default
    ``top_k=1``, the pipeline's case) project to zero edges: every
    entity is its own canonical id, ``connected_components`` returns an
    empty ``LocalRelation`` and the left join below folds away. The
    edges are not checkpointed here: the bounded fast-path collect
    reads them once, and past its cap ``connected_components``
    materializes them once, in the pinned edge table of its rounds.
    """
    star = links.groupBy("mention_id").agg(
        F.min("entity_id").alias("root"),
        F.collect_set("entity_id").alias("ents"),
    )
    edges = star.select(
        F.col("root").alias("src"), F.explode("ents").alias("dst")
    ).where(F.col("src") != F.col("dst")).distinct()
    singletons = links.select("entity_id").distinct()
    cc = connected_components(edges)
    return (
        singletons.join(cc, singletons.entity_id == cc.node, "left")
        .select(
            "entity_id",
            F.coalesce(F.col("component"), F.col("entity_id")).alias("canonical_id"),
        )
    )
    # (round-6 probe, rejected: eagerly pinning this output hands AQE
    # exact sizes and turned the downstream triples join's SMJ into a
    # broadcast — but the materialization cost ~1.8 s here vs ~1.2 s
    # saved there on the bench corpus. Left lazy.)


def bcubed(
    labels: DataFrame,
    pred_col: str = "pred_label",
    gold_col: str = "gold_label",
) -> DataFrame:
    """B-cubed extrinsic clustering evaluation (Bagga & Baldwin 1998;
    the standard entity-resolution / coreference quality metric —
    Amigó et al. 2009 showed it is the only common metric satisfying
    all four clustering-evaluation constraints). Input: one row per
    item with its predicted and gold cluster labels. Per item,
    precision = |C(e) ∩ G(e)| / |C(e)|; B³ P/R are the means, folded
    through the contingency table so nothing item-level survives:

        P = (1/N) Σ_{c,g} n_cg² / |C_c|      R = ... / |G_g|

    Plan shape: ONE (pred, gold) groupBy with map-side combine builds
    the contingency table; cluster sizes re-aggregate THAT table (the
    vocabulary-sized-table trick — items are scanned once); one global
    aggregate emits everything. Output: 1 row (n_items, n_cells,
    p_pin, r_pin, precision, recall, f1) where p_pin/r_pin are the
    EXACT longs Σ (10⁶·n_cg²) div size — order-independent and
    partitioning-invariant, the pinnable twins of the float means
    (float sums drift in the last ulp with partitioning; the pins
    can't).
    """
    cells = (
        labels.select(
            F.col(pred_col).alias("c"), F.col(gold_col).alias("g")
        )
        .groupBy("c", "g")
        .agg(F.count("*").alias("n"))
    )
    psz = cells.groupBy("c").agg(F.sum("n").alias("csz"))
    gsz = cells.groupBy("g").agg(F.sum("n").alias("gsz"))
    j = cells.join(psz, "c").join(gsz, "g")
    return j.agg(
        F.sum("n").cast("long").alias("n_items"),
        F.count("*").cast("long").alias("n_cells"),
        # (10⁶·n²) div size, computed as q·10⁶ + (r·10⁶) div size with
        # q = n² div size, r = n² mod size — identical value (Euclidean
        # decomposition), but every intermediate stays < 2⁶³ for cells
        # up to n ≈ 3·10⁹ items instead of overflowing long at
        # n ≈ 3·10⁶ as the direct 10⁶·n² product did (round-5 review
        # fix; DuckDB's hugeint twin computes the direct form, which
        # equals this exactly)
        F.sum(F.expr(
            "((n * n) div csz) * 1000000 + (((n * n) % csz) * 1000000) div csz"
        )).cast("long").alias("p_pin"),
        F.sum(F.expr(
            "((n * n) div gsz) * 1000000 + (((n * n) % gsz) * 1000000) div gsz"
        )).cast("long").alias("r_pin"),
        (F.sum(F.col("n") * F.col("n") / F.col("csz")) / F.sum("n")).alias(
            "precision"
        ),
        (F.sum(F.col("n") * F.col("n") / F.col("gsz")) / F.sum("n")).alias(
            "recall"
        ),
    ).withColumn(
        "f1",
        F.when(
            F.col("precision") + F.col("recall") > 0,
            2 * F.col("precision") * F.col("recall")
            / (F.col("precision") + F.col("recall")),
        ).otherwise(F.lit(0.0)),
    )


def pairwise_er(
    labels: DataFrame,
    pred_col: str = "pred_label",
    gold_col: str = "gold_label",
) -> DataFrame:
    """Pairwise entity-resolution evaluation (the pair-counting family
    — Rand 1971 / the standard record-linkage pair P/R/F1, Menestrina
    et al. VLDB 2010's pairwise measure): a pair of items is a true
    positive iff BOTH clusterings co-cluster it, so

        TP = Σ_{c,g} C(n_cg, 2)   pred_pairs = Σ_c C(|C_c|, 2)
        gold_pairs = Σ_g C(|G_g|, 2)
        P = TP/pred_pairs   R = TP/gold_pairs

    Complements :func:`bcubed`: pairwise is the metric linkage papers
    report, B³ the one coreference papers report — and they disagree
    exactly on over-merging penalties, which is why ER QA wants both.

    Plan shape (bcubed's discipline): ONE (pred, gold) contingency
    groupBy with map-side combine; cluster sizes re-aggregate THAT
    table (items are scanned once); three global sums. Every count is
    an exact LONG — order/partitioning/engine-invariant, directly
    pinnable — and the P/R/F1 floats are computed once from the exact
    integers in the final 1-row projection."""
    cells = (
        labels.groupBy(
            F.col(pred_col).alias("_p"), F.col(gold_col).alias("_g")
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    # C(c,2) with the even factor halved BEFORE multiplying: the
    # product then peaks at c²/2, pushing long overflow from
    # c ≈ 3.0·10⁹ to c ≈ 4.3·10⁹ — the point where C(c,2) itself
    # exceeds int64, i.e. exact for every cluster size the output type
    # can represent at all (round-5 review; bound documented, a larger
    # range would need a decimal output schema)
    c2 = lambda c: F.sum(F.expr(  # noqa: E731
        f"CASE WHEN {c} % 2 = 0 THEN ({c} div 2) * ({c} - 1) "
        f"ELSE {c} * (({c} - 1) div 2) END"
    )).cast("long")
    tp = cells.agg(
        c2("n").alias("tp"), F.sum("n").cast("long").alias("n_items")
    )
    pp = (
        cells.groupBy("_p").agg(F.sum("n").alias("sz"))
        .agg(c2("sz").alias("pred_pairs"))
    )
    gp = (
        cells.groupBy("_g").agg(F.sum("n").alias("sz"))
        .agg(c2("sz").alias("gold_pairs"))
    )
    prec = F.when(
        F.col("pred_pairs") > 0, F.col("tp") / F.col("pred_pairs")
    ).otherwise(F.lit(1.0))
    rec = F.when(
        F.col("gold_pairs") > 0, F.col("tp") / F.col("gold_pairs")
    ).otherwise(F.lit(1.0))
    return (
        tp.crossJoin(pp)
        .crossJoin(gp)
        .select(
            "n_items",
            "tp",
            "pred_pairs",
            "gold_pairs",
            prec.alias("precision"),
            rec.alias("recall"),
            F.when(
                (F.col("pred_pairs") > 0) | (F.col("gold_pairs") > 0),
                2.0 * F.col("tp")
                / (F.col("pred_pairs") + F.col("gold_pairs")),
            )
            .otherwise(F.lit(1.0))
            .alias("f1"),
        )
    )
