"""Triple materialization (north_star: "(subj, pred, obj) triples into a
partitioned graph table"; FIXTURES.md §6 schema).

Predicates emitted:
* ``mentioned_in``   (canonical entity → doc)      one per linked mention
* ``has_type``       (canonical entity → etype)     distinct
* ``co_occurs_with`` (entity ↔ entity, same sentence, subj < obj)

``part`` is a stable hash partition of subj — the graph table's physical
partitioning key, so at 100 TB each partition holds a contiguous slice of
the subject space and per-partition lineage/counters are meaningful.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _with_part(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn("part", F.pmod(F.hash("subj"), F.lit(n_parts)).cast("int"))


def materialize_triples(
    mentions: DataFrame,
    links: DataFrame,
    entities: DataFrame,
    n_parts: int = 64,
) -> DataFrame:
    """mentions(mention_id, doc_id, span_idx, sent_idx, surface, etype),
    links(mention_id, entity_id), entities(entity_id, canonical_id)
    → triples(subj, pred, obj, doc_id, part)."""
    linked = (
        mentions.join(links, "mention_id")
        .join(entities, "entity_id")
        .select(
            "mention_id",
            "doc_id",
            "span_idx",
            "sent_idx",
            "etype",
            F.col("canonical_id").alias("subj"),
        )
        # materialized once: three plan branches read it (the fused
        # mentioned_in/has_type pass + both co-occurrence join sides);
        # without this the mention⋈link⋈entity subtree executes 3×.
        # EAGER (round 3): with a lazy checkpoint the first downstream
        # job materializes it mid-flight, so AQE plans the co-occurrence
        # self-join with unknown stats (intermittently picked the slow
        # strategy — measured 4.5 s typical vs 27 s outlier); eager
        # materialization hands AQE exact sizes before the join strategy
        # is chosen.
        # Plain localCheckpoint, NOT pin (round 6): the AQE-off planning
        # window inside pin froze this subtree's entities join as a
        # SortMergeJoin forever — with AQE on, the runtime sizes of the
        # links/entities shuffle stages let AQE pick broadcast when (and
        # only when) a side is actually small, which is the scale-
        # adaptive behavior we want; linked's output partitioning
        # (entity-hash from the last join) is useless to the downstream
        # subj/doc-keyed consumers, so pin's partitioning preservation
        # buys nothing here.
        .localCheckpoint()
    )
    # mentioned_in + has_type fused into ONE pass over `linked`: both
    # deduplicate on (subj, pred, obj, doc_id), so a single explode +
    # distinct replaces two scans + two exchanges of the join subtree
    out = linked.select(
        "subj",
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("mentioned_in").alias("pred"),
                    F.col("doc_id").alias("obj"),
                ),
                F.struct(
                    F.lit("has_type").alias("pred"),
                    F.col("etype").alias("obj"),
                ),
            )
        ).alias("po"),
    ).select(
        "subj", F.col("po.pred").alias("pred"), F.col("po.obj").alias("obj"),
        "doc_id",
    )
    left = linked.alias("l")
    right = linked.alias("r")
    co = left.join(
        right,
        (F.col("l.doc_id") == F.col("r.doc_id"))
        & (F.col("l.span_idx") == F.col("r.span_idx"))
        & (F.col("l.sent_idx") == F.col("r.sent_idx"))
        & (F.col("l.subj") < F.col("r.subj")),
    ).select(
        F.col("l.subj").alias("subj"),
        F.lit("co_occurs_with").alias("pred"),
        F.col("r.subj").alias("obj"),
        F.col("l.doc_id").alias("doc_id"),
    )
    out = out.unionByName(co)
    # ONE distinct over the union instead of one per branch (round 6):
    # the branches' predicate spaces are disjoint (mentioned_in/has_type
    # vs co_occurs_with), so distinct(union) == union(distincts) — same
    # rows, one exchange fewer
    return _with_part(out.distinct(), n_parts)


# --------------------------------------------------------------- RDF export

# IRI percent-encoding: '%' FIRST (or already-encoded octets double-
# encode), then the N-Triples-forbidden IRI chars (RDF 1.1 N-Triples
# grammar IRIREF excludes space, <>, ", {}, |, ^, `, \).
_IRI_ESCAPES = (
    ("%", "%25"), (" ", "%20"), ("<", "%3C"), (">", "%3E"), ('"', "%22"),
    ("\\", "%5C"), ("|", "%7C"), ("^", "%5E"), ("`", "%60"),
    ("{", "%7B"), ("}", "%7D"),
)
# literal escapes: backslash FIRST, then quote and the control chars the
# canonical form writes as two-char escapes (ECHAR in the grammar).
_LIT_ESCAPES = (
    ("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"),
    ("\t", "\\t"),
)


def _chain_replace(col: Column, pairs) -> Column:
    for a, b in pairs:
        col = F.replace(col, F.lit(a), F.lit(b))
    return col


def iri_col(col: Column, base: str, segment: str) -> Column:
    """``<base><segment>/<percent-encoded value>`` wrapped in angle
    brackets — a valid RDF 1.1 IRIREF for any input string."""
    return F.concat(
        F.lit(f"<{base}{segment}/"), _chain_replace(col, _IRI_ESCAPES),
        F.lit(">"),
    )


def to_ntriples(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    base: str = "http://kg.local/",
    literal_preds: tuple[str, ...] = ("has_type",),
    graph_col: str | None = None,
) -> DataFrame:
    """Serialize the KG table to W3C RDF 1.1 N-Triples lines (or
    N-Quads when ``graph_col`` names a provenance column — the pipeline
    emits ``doc_id``, giving per-document named graphs) — the
    interchange sink that makes the materialized graph loadable by any
    RDF store.

    Subjects and predicates become IRIs under ``base`` with full
    percent-encoding of the IRIREF-forbidden set; objects of predicates
    in ``literal_preds`` serialize as escaped literals (ECHAR escapes:
    backslash first, then quote/LF/CR/TAB), all other objects as entity
    IRIs. Pure Column expressions (chained ``replace`` — JVM-side,
    whole-stage codegen, no UDF), so a SQL oracle replays every byte
    and the md5 of each line is cross-engine pinnable.

    Output: the input's columns plus ``line``. Write with
    ``df.select("line").write.text(path)`` — partition by the existing
    ``part`` column for the 100 TB layout.
    """
    s = iri_col(F.col(subj_col), base, "entity")
    p = iri_col(F.col(pred_col), base, "rel")
    lit_obj = F.concat(
        F.lit('"'), _chain_replace(F.col(obj_col), _LIT_ESCAPES), F.lit('"')
    )
    o = (
        F.when(
            F.col(pred_col).isin(*literal_preds), lit_obj
        ).otherwise(iri_col(F.col(obj_col), base, "entity"))
        if literal_preds
        else iri_col(F.col(obj_col), base, "entity")
    )
    parts = [s, F.lit(" "), p, F.lit(" "), o]
    if graph_col is not None:
        parts += [F.lit(" "), iri_col(F.col(graph_col), base, "graph")]
    line = F.concat(*parts, F.lit(" ."))
    return triples.withColumn("line", line)


def kg_profile(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    top_predicates: int = 20,
) -> DataFrame:
    """One-call KG health report over a materialized triples table —
    the numbers a KG owner checks after every pipeline run, as tagged
    ``(stat, k, v)`` rows:

    * ``count`` rows — n_triples / n_subjects / n_predicates /
      n_objects / n_entities (subj ∪ obj),
    * ``pred`` rows — the ``top_predicates`` largest predicates by
      triple count (k = predicate name; deterministic count-then-name
      ordering),
    * ``outdeg_gini`` — Gini concentration of subject out-degrees
      (:func:`~golden_horse_spark.operators.salting.gini` over the
      degree table), v = round(gini · 10⁶): the skew verdict that
      says whether the resolution/join stages need salting.

    Cost: ONE pass for the global counts (map-side combined
    aggregate), one (pred) groupBy reusing map-side combine, one
    degree groupBy + the vocabulary-sized gini window — nothing
    corpus-sized is sorted or collected."""
    from .salting import gini as _gini

    s, p, o = F.col(subj), F.col(pred), F.col(obj)
    counts = triples.agg(
        F.count("*").alias("n_triples"),
        F.countDistinct(s).alias("n_subjects"),
        F.countDistinct(p).alias("n_predicates"),
        F.countDistinct(o).alias("n_objects"),
    )
    n_entities = (
        triples.select(s.alias("e"))
        .union(triples.select(o.alias("e")))
        .distinct()
        .agg(F.count("*").alias("n"))
    )
    rows = counts.crossJoin(n_entities).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("k"),
                        F.col(colname).cast("long").alias("v"),
                    )
                    for name, colname in (
                        ("n_triples", "n_triples"),
                        ("n_subjects", "n_subjects"),
                        ("n_predicates", "n_predicates"),
                        ("n_objects", "n_objects"),
                        ("n_entities", "n"),
                    )
                ]
            )
        ).alias("r")
    ).select(
        F.lit("count").alias("stat"), F.col("r.k").alias("k"),
        F.col("r.v").alias("v"),
    )
    preds = (
        triples.groupBy(p.alias("k"))
        .agg(F.count("*").alias("v"))
        .orderBy(F.col("v").desc(), "k")
        .limit(top_predicates)
        .select(F.lit("pred").alias("stat"), "k", F.col("v").cast("long"))
    )
    deg = triples.groupBy(s.alias("_n")).agg(F.count("*").alias("d"))
    gz = _gini(deg, "d").select(
        F.lit("outdeg_gini").alias("stat"),
        F.lit("gini_ppm").alias("k"),
        F.round(F.col("gini") * 1_000_000).cast("long").alias("v"),
    )
    return rows.unionByName(preds).unionByName(gz)
