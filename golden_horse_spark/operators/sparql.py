"""SPARQL-style basic-graph-pattern (BGP) evaluation over a
``(subj, pred, obj)`` triples table, compiled to Catalyst-native joins.

The reference pipeline materializes its KG as flat triples
(`theano_src` has no query layer — this is the downstream consumer the
north rule's "graph materialize" stage exists FOR), so the query
surface here is defined by the W3C specs, not the reference:

* ``sparql_select``  — SPARQL 1.1 BGP + FILTER + OPTIONAL + DISTINCT
  (W3C REC sparql11-query §5, §6, §17), evaluated as a selectivity-
  ordered chain of hash joins over variable columns.
* ``OneOrMore`` / ``ZeroOrMore`` / ``ZeroOrOne`` / ``Inv`` / ``Seq`` /
  ``Alt`` / ``NegatedSet`` — the full §9.1 property-path algebra
  (``p+ p* p? ^p p/q p|q !(p|…)``), arbitrarily nested; closures are
  backed by the semi-naive datalog closure in
  :func:`~golden_horse_spark.operators.graph.reachability` and are
  cycle/self-loop-faithful (``p+`` contains ``(x, x)`` for x on a
  cycle). ``sparql_ask`` / ``sparql_describe`` give the §16.3/§16.4
  query forms.
* ``rdfs_closure`` — the ρdf entailment subset of RDFS (Muñoz,
  Pérez & Gutierrez, "Minimal deductive systems for RDF", ESWC 2007):
  subClassOf/subPropertyOf transitivity, subPropertyOf instance
  propagation, domain/range typing, subClassOf type inheritance.

Scale design (the part Spark owns):

* Each triple pattern is a FILTER over the one physical triples table —
  constants reach the parquet scan as pushed predicates (`pred` is the
  KG table's partition column in `plans/pipeline.py`, so a bound
  predicate prunes partitions before any I/O).
* Join order is static greedy (most-bound pattern first, then grow the
  binding set only through patterns that share a variable — no
  cartesian products unless explicitly allowed); sizes after filtering
  are unknowable at plan time, so join STRATEGY (broadcast vs shuffle,
  skew split) is left to AQE, which re-plans on the real post-filter
  stats. This mirrors how Jena/Virtuoso order BGPs by bound-term
  heuristics when no stats exist.
* The ρdf closure never iterates over the instance data: the ontology
  (schema triples) is closed first with the bounded TC operator, then
  broadcast — instance triples are touched by exactly three broadcast
  joins + one distinct, regardless of rounds the schema TC needed.
  At 100 TB of instance triples and a few thousand schema triples this
  is one shuffle (the final distinct) end to end.

Deviation from full SPARQL, documented: ``ZeroOrMore`` binds the
zero-length endpoints from the NODE UNIVERSE OF THAT PREDICATE's arcs
(plus any already-bound side), not from every term in the graph — the
spec's "all terms" zero-path is a cross join against the dictionary
and is never what a KG user means at scale.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..plans.fixpoint import fixpoint


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _vname(term: str) -> str:
    return term[1:]


@dataclass(frozen=True)
class OneOrMore:
    """Property path ``path+`` (one or more arcs). ``pred`` may be a
    predicate name or any nested path expression (Inv/Seq/Alt/…)."""

    pred: object


@dataclass(frozen=True)
class ZeroOrMore:
    """Property path ``path*`` (zero or more arcs; zero-length
    endpoints restricted to the path's node universe)."""

    pred: object


@dataclass(frozen=True)
class Inv:
    """Inverse path ``^p`` (sparql11-query §9.1): traverse ``p``
    object→subject. ``path`` may be nested."""

    path: object


class Seq:
    """Sequence path ``p1/p2/…``: the relational composition of the
    member paths — ONE equi-join per step (dst of step i = src of step
    i+1), each member evaluated as its own pushed-filter arc set."""

    def __init__(self, *paths):
        if len(paths) < 2:
            raise ValueError("Seq needs at least two member paths")
        self.paths = paths


class Alt:
    """Alternation path ``p1|p2|…``: the UNION of the member arc sets
    (distinct — a path is a set of endpoint pairs)."""

    def __init__(self, *paths):
        if len(paths) < 2:
            raise ValueError("Alt needs at least two member paths")
        self.paths = paths


@dataclass(frozen=True)
class ZeroOrOne:
    """Property path ``path?`` (sparql11-query §9.1 ZeroOrOnePath):
    the path's arc set plus the zero-length identity rows — restricted,
    like ``p*``, to the path's node universe (module-docstring
    deviation)."""

    pred: object


class NegatedSet:
    """Negated property set ``!(p1|p2|…)`` (§9.1 NegatedPropertySet):
    arcs of every triple whose predicate is NOT one of the members —
    ONE scan of the triples table with a pushed ``NOT IN`` filter.
    Forward predicate members only; the spec's inverse members
    (``!(^p)``) are not supported and raise."""

    def __init__(self, *preds):
        if not preds:
            raise ValueError("NegatedSet needs at least one predicate")
        if not all(isinstance(p, str) for p in preds):
            raise ValueError(
                "NegatedSet members must be forward predicate names"
            )
        self.preds = preds


def _path_arcs(triples, path, subj, pred, obj, max_hops: int = 10) -> DataFrame:
    """Evaluate a path expression to its arc set ``(src, dst)``.
    Plain predicates are pushed filters on the one triples table;
    Inv swaps endpoints; Seq chains equi-joins; Alt unions; nested
    ``+``/``*`` recurse through the bounded semi-naive closure. Every
    combinator is a plain relational operator, so Catalyst/AQE plan
    the whole path as one join tree."""
    if isinstance(path, str):
        return (
            triples.where(F.col(pred) == F.lit(path))
            .select(F.col(subj).alias("src"), F.col(obj).alias("dst"))
            .distinct()
        )
    if isinstance(path, Inv):
        inner = _path_arcs(triples, path.path, subj, pred, obj, max_hops)
        return inner.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    if isinstance(path, Seq):
        acc = _path_arcs(triples, path.paths[0], subj, pred, obj, max_hops)
        for nxt in path.paths[1:]:
            step = _path_arcs(triples, nxt, subj, pred, obj, max_hops)
            acc = (
                acc.alias("l")
                .join(step.alias("r"), F.col("l.dst") == F.col("r.src"))
                .select(
                    F.col("l.src").alias("src"), F.col("r.dst").alias("dst")
                )
            )
        return acc.distinct()
    if isinstance(path, Alt):
        out = None
        for m in path.paths:
            arcs = _path_arcs(triples, m, subj, pred, obj, max_hops)
            out = arcs if out is None else out.unionByName(arcs)
        return out.distinct()
    if isinstance(path, NegatedSet):
        return (
            triples.where(~F.col(pred).isin(list(path.preds)))
            .select(F.col(subj).alias("src"), F.col(obj).alias("dst"))
            .distinct()
        )
    if isinstance(path, ZeroOrOne):
        arcs = _path_arcs(triples, path.pred, subj, pred, obj, max_hops)
        ident = (
            arcs.select("src")
            .union(arcs.select(F.col("dst").alias("src")))
            .distinct()
            .withColumn("dst", F.col("src"))
        )
        return arcs.unionByName(ident).distinct()
    if isinstance(path, (OneOrMore, ZeroOrMore)):
        arcs = _path_arcs(triples, path.pred, subj, pred, obj, max_hops)
        return _closure_pairs(
            arcs, None, isinstance(path, ZeroOrMore), max_hops
        )
    raise ValueError(f"unsupported path expression: {path!r}")


def _closure_pairs(
    arcs: DataFrame, sources, zero: bool, max_hops: int
) -> DataFrame:
    """Arbitrary-length path pairs ``(src, dst)`` over an arc set —
    SPARQL ``p+`` / ``p*`` (sparql11-query §9.1 ALP), spec-faithful on
    cycles AND self-loops: ``(x, x)`` is a ``p+`` solution whenever x
    lies on a cycle, which a plain BFS ``dist >= 1`` filter misses
    (the shortest closure distance from x back to x is 0, and
    ``reachability`` drops self-loop arcs by design). Formulation:
    ``p+`` = (dist>=0 closure over loop-free arcs) equi-JOINED with
    one more arc from the ORIGINAL arc set — a length-k walk followed
    by one arc is exactly the length>=1 path set. ``p*`` adds the
    identity rows of the path's node universe (restricted to
    ``sources`` when single-source). One extra co-partitioned
    equi-join over the closure; no new shuffle class, and the
    single-source cone optimization is preserved."""
    from .graph import reachability

    loopless = arcs.where(F.col("src") != F.col("dst"))
    universe = (
        arcs.select("src")
        .union(arcs.select(F.col("dst").alias("src")))
        .distinct()
    )
    if sources is not None:
        universe = universe.where(F.col("src").isin(list(sources)))
    ident = universe.select(
        F.col("src").alias("root"), F.col("src").alias("node")
    )
    if loopless.limit(1).count() == 0:
        closure0 = ident
    else:
        closure0 = (
            reachability(
                loopless,
                sources=sources,
                directed=True,
                max_hops=max(0, max_hops - 1),
            )
            .select("root", "node")
            .unionByName(ident)
            .distinct()
        )
    pairs = (
        closure0.alias("c")
        .join(arcs.alias("e"), F.col("c.node") == F.col("e.src"))
        .select(F.col("c.root").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
    )
    if zero:
        pairs = pairs.unionByName(
            ident.select(
                F.col("root").alias("src"), F.col("node").alias("dst")
            )
        ).distinct()
    return pairs


def _pattern_vars(pat) -> set:
    return {_vname(t) for t in pat if _is_var(t)}


def _n_bound(pat) -> int:
    return sum(0 if _is_var(t) else 1 for t in pat)


def _scan_pattern(
    triples: DataFrame,
    pat,
    subj: str,
    pred: str,
    obj: str,
    max_path_hops: int,
) -> DataFrame:
    """One triple pattern → a DataFrame whose columns are the pattern's
    variable names (constants become pushed filters; a pattern with no
    variables becomes a 0/1-row gate with a single ``_gate`` column)."""
    s, p, o = pat
    if isinstance(p, (OneOrMore, ZeroOrMore, ZeroOrOne, Inv, Seq, Alt,
                      NegatedSet)):
        return _scan_path(triples, pat, subj, pred, obj, max_path_hops)
    df = triples.select(
        F.col(subj).alias("_s"), F.col(pred).alias("_p"), F.col(obj).alias("_o")
    )
    for col, term in (("_s", s), ("_p", p), ("_o", o)):
        if not _is_var(term):
            df = df.where(F.col(col) == F.lit(term))
    # repeated variable inside one pattern (?x p ?x) → equality filter
    names = {}
    out_cols = []
    for col, term in (("_s", s), ("_p", p), ("_o", o)):
        if not _is_var(term):
            continue
        v = _vname(term)
        if v in names:
            df = df.where(F.col(col) == F.col(names[v]))
        else:
            names[v] = col
            out_cols.append(F.col(col).alias(v))
    if not out_cols:
        # fully-ground pattern: ASK-style gate. limit(1) keeps it a
        # broadcastable single row; an empty gate empties the result.
        return df.limit(1).select(F.lit(1).alias("_gate"))
    return df.select(*out_cols)


def _scan_path(
    triples: DataFrame,
    pat,
    subj: str,
    pred: str,
    obj: str,
    max_path_hops: int,
) -> DataFrame:
    """``?s p+ ?o`` / ``?s p* ?o`` via the bounded semi-naive closure.

    The closure is computed over ONLY the arcs of that predicate (a
    pushed filter on the partition column), from the bound side when
    one end is a constant (single-source — the frontier never grows
    past that root's cone) or from every node otherwise.
    """
    s, p, o = pat
    if isinstance(p, (OneOrMore, ZeroOrMore)):
        # closure path: arcs of the (possibly nested) inner path, then
        # the cycle-faithful closure pairs — single-source when the
        # subject is a constant (the frontier never grows past that
        # root's cone)
        arcs = _path_arcs(triples, p.pred, subj, pred, obj, max_path_hops)
        sources = [s] if not _is_var(s) else None
        pairs = _closure_pairs(
            arcs, sources, isinstance(p, ZeroOrMore), max_path_hops
        ).select(F.col("src").alias("_s"), F.col("dst").alias("_o"))
    else:
        # non-closure path expression (Inv / Seq / Alt): its arc set IS
        # the pattern's solution pairs
        pairs = _path_arcs(triples, p, subj, pred, obj, max_path_hops).select(
            F.col("src").alias("_s"), F.col("dst").alias("_o")
        )
    for col, term in (("_s", s), ("_o", o)):
        if not _is_var(term):
            pairs = pairs.where(F.col(col) == F.lit(term))
    names = {}
    out_cols = []
    for col, term in (("_s", s), ("_o", o)):
        if not _is_var(term):
            continue
        v = _vname(term)
        if v in names:
            pairs = pairs.where(F.col(col) == F.col(names[v]))
        else:
            names[v] = col
            out_cols.append(F.col(col).alias(v))
    if not out_cols:
        return pairs.limit(1).select(F.lit(1).alias("_gate"))
    return pairs.select(*out_cols)


def _join_group(scans: list, allow_cartesian: bool) -> DataFrame:
    """Greedy bound-first join of compiled pattern scans: start at the
    most selective, extend only through shared variables. Fully-ground
    gate patterns sort LAST (they carry no variables, so they must
    attach as broadcast cross-gates onto an existing binding set)."""
    order = sorted(
        range(len(scans)),
        key=lambda i: ("_gate" in scans[i][0].columns, -scans[i][1]),
    )
    remaining = [scans[i] for i in order]
    acc_df, _ = remaining.pop(0)
    acc_vars = set(acc_df.columns) - {"_gate"}
    while remaining:
        pick = None
        for i, (df, _) in enumerate(remaining):
            if (set(df.columns) - {"_gate"}) & acc_vars:
                pick = i
                break
        if pick is None:
            gates = [
                i for i, (df, _) in enumerate(remaining)
                if "_gate" in df.columns
            ]
            if gates:
                pick = gates[0]  # gates never share vars; always joinable
            elif not allow_cartesian:
                raise ValueError(
                    "sparql_select: disconnected BGP (cartesian product); "
                    "pass allow_cartesian=True to permit it"
                )
            else:
                pick = 0
        df, _ = remaining.pop(pick)
        shared = sorted((set(df.columns) - {"_gate"}) & acc_vars)
        if "_gate" in df.columns:
            acc_df = acc_df.join(F.broadcast(df), how="cross").drop("_gate")
        elif shared:
            acc_df = acc_df.join(df, on=shared, how="inner")
        else:
            acc_df = acc_df.crossJoin(df)
        acc_vars |= set(df.columns) - {"_gate"}
    return acc_df.drop("_gate") if "_gate" in acc_df.columns else acc_df


def sparql_select(
    triples: DataFrame,
    patterns,
    *,
    where: str | None = None,
    optional=(),
    not_exists=(),
    minus=(),
    values=None,
    bind=None,
    select=None,
    distinct: bool = True,
    allow_cartesian: bool = False,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    max_path_hops: int = 10,
) -> DataFrame:
    """Evaluate a SPARQL SELECT over a triples DataFrame.

    ``patterns``: list of ``(s, p, o)`` triple patterns — strings
    starting with ``?`` are variables, anything else is a constant;
    ``p`` may be :class:`OneOrMore`/:class:`ZeroOrMore` for property
    paths. ``where``: a FILTER as a Spark SQL boolean expression over
    the variable names (e.g. ``"length(c) > 10"``). ``optional``: a
    list of pattern groups, each left-joined on its shared variables
    (SPARQL OPTIONAL; unmatched rows carry nulls). ``not_exists`` /
    ``minus``: lists of pattern groups removing solutions (§8.3): each
    compiles to ONE left-anti join on the shared variables — for
    groups whose only free variables are shared ones the two
    constructs coincide (the common case); a MINUS group sharing NO
    variable removes nothing (per spec) while NOT EXISTS would be a
    correlated filter — that divergent case raises
    NotImplementedError rather than silently picking one. ``values``:
    inline data (W3C sparql11-query §10.2) as ``(("?v", …), [row, …])``
    — joined into the solution set on the shared variables (broadcast:
    VALUES blocks are literal and tiny by construction; with NO shared
    variable it is the spec's cartesian extension). ``bind``: dict
    ``{"?new": sql_expr}`` (§10.1 BIND/extend) — each expression is a
    Spark SQL string over the variable names (no ``?``), applied after
    OPTIONAL so it can see optional bindings, before FILTER.
    Evaluation order: BGP → VALUES → OPTIONAL → BIND → NOT EXISTS /
    MINUS → FILTER → projection → DISTINCT. ``select``:
    ordered output variables (default: all, sorted). ``distinct``:
    SPARQL SELECT DISTINCT (default True — set membership, the
    algebra's default for comparing against SQL twins).

    Returns one column per selected variable.
    """
    if not patterns:
        raise ValueError("sparql_select: empty pattern list")
    if not any(_pattern_vars(p) for p in patterns):
        raise ValueError(
            "sparql_select: every pattern is fully ground (ASK form); "
            "SELECT needs at least one variable"
        )
    scans = [
        (
            _scan_pattern(triples, p, subj, pred, obj, max_path_hops),
            _n_bound(p),
        )
        for p in patterns
    ]
    out = _join_group(scans, allow_cartesian)
    bgp_vars = set(out.columns)
    if values is not None:
        vvars, vrows = values
        names = [_vname(v) if _is_var(v) else v for v in vvars]
        if not names or not vrows:
            raise ValueError("sparql_select: VALUES needs vars and rows")
        rows = [
            tuple(r) if isinstance(r, (tuple, list)) else (r,) for r in vrows
        ]
        try:
            # infer literal types so e.g. integer VALUES equi-join a
            # long-typed KG column exactly (round-5 review fix: the
            # hardcoded string schema rejected non-string literals and
            # forced implicit-cast joins on typed graphs)
            vdf = triples.sparkSession.createDataFrame(rows, list(names))
        except (TypeError, ValueError):
            # all-None columns defeat inference — fall back to strings
            vdf = triples.sparkSession.createDataFrame(
                rows, ", ".join(f"{n} string" for n in names)
            )
        shared = sorted(set(names) & bgp_vars)
        if shared:
            out = out.join(F.broadcast(vdf), on=shared, how="inner")
        else:
            out = out.crossJoin(F.broadcast(vdf))
        bgp_vars |= set(names)
    for group in optional:
        g_scans = [
            (
                _scan_pattern(triples, p, subj, pred, obj, max_path_hops),
                _n_bound(p),
            )
            for p in group
        ]
        g = _join_group(g_scans, allow_cartesian)
        shared = sorted(set(g.columns) & bgp_vars)
        if not shared:
            raise ValueError(
                "sparql_select: OPTIONAL group shares no variable with the BGP"
            )
        out = out.join(g, on=shared, how="left")
        bgp_vars |= set(g.columns)
    if bind:
        for var, expr in bind.items():
            v = _vname(var) if _is_var(var) else var
            if v in bgp_vars:
                raise ValueError(
                    f"sparql_select: BIND target ?{v} is already bound "
                    "(SPARQL §10.1 forbids rebinding)"
                )
            out = out.withColumn(v, F.expr(expr))
            bgp_vars.add(v)
    for kind, groups in (("not_exists", not_exists), ("minus", minus)):
        for group in groups:
            g_scans = [
                (
                    _scan_pattern(triples, p, subj, pred, obj, max_path_hops),
                    _n_bound(p),
                )
                for p in group
            ]
            g = _join_group(g_scans, allow_cartesian)
            shared = sorted(set(g.columns) & bgp_vars)
            if not shared:
                if kind == "minus":
                    continue  # spec: disjoint MINUS removes nothing
                raise NotImplementedError(
                    "sparql_select: NOT EXISTS group sharing no variable "
                    "is a correlated existence filter — not supported"
                )
            out = out.join(g.select(*shared).distinct(), shared, "left_anti")
    if where is not None:
        out = out.where(F.expr(where))
    cols = select if select is not None else sorted(out.columns)
    out = out.select(*[_vname(c) if _is_var(c) else c for c in cols])
    return out.distinct() if distinct else out


def sparql_union(
    triples: DataFrame,
    groups,
    *,
    select=None,
    distinct: bool = True,
    **kwargs,
) -> DataFrame:
    """SPARQL UNION (§6.2): evaluate each pattern group as its own BGP
    and take the union of solution sequences — groups may bind
    DIFFERENT variable sets; variables absent from a branch come back
    null in that branch's rows (the spec's unbound). ``select`` defaults
    to the sorted union of all branches' variables. Each branch accepts
    nothing fancier than the plain BGP (compose with sparql_select's
    OPTIONAL/FILTER by pre-building branches if needed)."""
    if not groups:
        raise ValueError("sparql_union: empty group list")
    branches = [
        sparql_select(triples, g, distinct=False, **kwargs) for g in groups
    ]
    all_vars = sorted({c for b in branches for c in b.columns})
    # unbound nulls take the type the variable has where it IS bound
    vtypes = {}
    for b in branches:
        for f in b.schema.fields:
            vtypes.setdefault(f.name, f.dataType)
    out = None
    for b in branches:
        aligned = b.select(
            *[
                F.col(v) if v in b.columns
                else F.lit(None).cast(vtypes[v]).alias(v)
                for v in all_vars
            ]
        )
        out = aligned if out is None else out.unionByName(aligned)
    cols = select if select is not None else all_vars
    out = out.select(*[_vname(c) if _is_var(c) else c for c in cols])
    return out.distinct() if distinct else out


def sparql_ask(triples: DataFrame, patterns, **kwargs) -> bool:
    """SPARQL ASK (sparql11-query §16.3): does at least one solution
    exist? Evaluates the group pattern with an early-exit ``limit(1)``
    — one row fetched, never a full materialization. Accepts every
    ``sparql_select`` option. Fully-ground pattern lists (the pure
    existence check SELECT refuses) are supported: each ground pattern
    becomes a 0/1-row gate and ASK is true iff every gate is non-empty;
    group-level options (where/optional/not_exists/minus/values/bind)
    need variable bindings and raise ValueError on that path rather
    than being silently ignored.
    """
    kwargs.pop("distinct", None)  # ASK is existence; DISTINCT is a no-op
    all_ground = not any(_pattern_vars(p) for p in patterns)
    if all_ground:
        # the per-pattern gate path cannot apply group-level options
        # (they need variable bindings to act on) — refuse rather than
        # silently ignore them on fully-ground pattern lists
        unsupported = [
            k for k in ("where", "optional", "not_exists", "minus",
                        "values", "bind", "select")
            if kwargs.get(k) not in (None, (), [], {})
        ]
        if unsupported:
            raise ValueError(
                "sparql_ask: group-level options not supported for "
                f"fully-ground pattern lists: {unsupported}"
            )
        for p in patterns:
            g = _scan_pattern(
                triples, p,
                kwargs.get("subj", "subj"), kwargs.get("pred", "pred"),
                kwargs.get("obj", "obj"), kwargs.get("max_path_hops", 10),
            )
            if g.limit(1).count() == 0:
                return False
        return True
    out = sparql_select(triples, patterns, distinct=False, **kwargs)
    return out.limit(1).count() > 0


def sparql_describe(
    triples: DataFrame,
    terms,
    patterns=None,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    incoming: bool = True,
    **kwargs,
) -> DataFrame:
    """SPARQL DESCRIBE (sparql11-query §16.4): every triple mentioning
    the described resources. The spec leaves the description form
    implementation-defined; this emits the symmetric one-hop
    description — all outgoing triples of each term plus (with
    ``incoming=True``) all triples pointing AT it — the form Jena/
    Virtuoso default to for bnode-free graphs.

    ``terms`` is a list of constants, a one-column DataFrame, or a
    single ``?var`` name combined with ``patterns`` (the
    ``DESCRIBE ?x WHERE {…}`` form: the group pattern runs through
    ``sparql_select`` and the variable's bindings become the resource
    set). The resource set is deduped and broadcast — two broadcast
    semi-joins against the triples table, zero shuffles of the big
    side."""
    from pyspark.sql.functions import broadcast

    if isinstance(terms, str) and _is_var(terms):
        if patterns is None:
            raise ValueError(
                "DESCRIBE ?var needs a WHERE group (patterns=…)"
            )
        res = sparql_select(
            triples, patterns, select=[terms], distinct=True,
            subj=subj, pred=pred, obj=obj, **kwargs
        ).toDF("_r")
    elif isinstance(terms, DataFrame):
        res = terms.select(F.col(terms.columns[0]).alias("_r")).distinct()
    else:
        terms = list(dict.fromkeys(terms))
        if not terms:
            raise ValueError("DESCRIBE: empty resource set")
        res = triples.sparkSession.createDataFrame(
            [(t,) for t in terms], f"_r {triples.schema[subj].dataType.simpleString()}"
        )
    out = triples.join(
        broadcast(res), triples[subj] == res["_r"], "left_semi"
    )
    if incoming:
        out = out.unionByName(
            triples.join(
                broadcast(res), triples[obj] == res["_r"], "left_semi"
            )
        )
    return out.distinct()


def group_concat(var: str, sep: str = " ") -> str:
    """SPARQL ``GROUP_CONCAT`` as a Spark SQL aggregate expression —
    DETERMINISTIC by construction: the spec leaves concatenation order
    undefined (engine/partitioning-dependent), so this sorts the
    collected values first. ``collect_list`` is bounded by the group's
    value count — same contract as SPARQL itself (a group's
    concatenation is one output string; don't GROUP_CONCAT a
    corpus-sized group)."""
    v = _vname(var) if _is_var(var) else var
    sq = sep.replace("'", "\\'")
    return f"concat_ws('{sq}', sort_array(collect_list({v})))"


def sample_of(var: str) -> str:
    """SPARQL ``SAMPLE`` as a Spark SQL aggregate expression. The spec
    allows ANY member; ``min`` is the deterministic choice (stable
    across runs, partitionings, and engines — the property every oracle
    and every resumable pipeline here relies on)."""
    v = _vname(var) if _is_var(var) else var
    return f"min({v})"


def sparql_agg(
    triples: DataFrame,
    patterns,
    aggregates: dict,
    *,
    group_by=(),
    having: str | None = None,
    order_by=(),
    limit: int | None = None,
    offset: int = 0,
    **kwargs,
) -> DataFrame:
    """SPARQL 1.1 GROUP BY / aggregates / HAVING (§11) + the solution
    modifiers ORDER BY / LIMIT / OFFSET (§15) over a BGP.

    ``patterns`` and any keyword accepted by :func:`sparql_select`
    (``optional``, ``values``, ``bind``, ``where``, …) define the group
    graph pattern; aggregation runs over the solution MULTISET
    (§18.5 — never the distinct set, so the group pattern is evaluated
    with ``distinct=False``). ``aggregates`` maps output column →
    Spark SQL aggregate expression over the variable names (no ``?``),
    e.g. ``{"n": "count(*)", "langs": group_concat("?lang", ",")}`` —
    COUNT/SUM/MIN/MAX/AVG are spelled directly; GROUP_CONCAT and
    SAMPLE via the deterministic helpers above. ``group_by``: grouping
    variables (empty = one global group, like SPARQL). ``having``: SQL
    boolean over grouping vars + aggregate outputs. ``order_by``:
    columns, ``-col`` for DESC — ties NOT broken implicitly, pass a
    unique tiebreak column for deterministic LIMIT results.

    Scale shape: ONE hash aggregate with map-side partial combine
    (Catalyst's partial+final split — the same plan a hand-written
    groupBy gets); ``order_by``+``limit`` with ``offset=0`` compiles to
    TakeOrdered (a per-partition top-k then a driver merge — no global
    sort ever materializes). ``offset>0`` requires ``order_by`` and
    pays ONE single-partition row_number window over the aggregated
    (group-count-sized, not corpus-sized) result — OFFSET is a
    presentation-layer modifier; don't page through a billion groups
    with it.
    """
    if not aggregates:
        raise ValueError("sparql_agg: empty aggregates dict")
    if offset and not order_by:
        raise ValueError(
            "sparql_agg: OFFSET without ORDER BY is non-deterministic"
        )
    sol = sparql_select(triples, patterns, distinct=False, **kwargs)
    gvars = [_vname(v) if _is_var(v) else v for v in group_by]
    aggs = [F.expr(e).alias(n) for n, e in aggregates.items()]
    out = sol.groupBy(*gvars).agg(*aggs) if gvars else sol.agg(*aggs)
    if having is not None:
        out = out.where(F.expr(having))
    order_cols = [
        F.col(c[1:]).desc() if c.startswith("-") else F.col(c)
        for c in order_by
    ]
    if offset:
        from pyspark.sql import Window

        w = Window.orderBy(*order_cols)
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") > offset)
        )
        if limit is not None:
            out = out.where(F.col("_rn") <= offset + limit)
        out = out.drop("_rn")
    else:
        if order_cols:
            out = out.orderBy(*order_cols)
        if limit is not None:
            out = out.limit(limit)
    return out


def sparql_construct(
    triples: DataFrame,
    patterns,
    template,
    **kwargs,
) -> DataFrame:
    """SPARQL CONSTRUCT (W3C sparql11-query §16.2): evaluate the BGP
    (same options as :func:`sparql_select`), then instantiate each
    ``(s, p, o)`` template triple once per solution — variables pull
    from the binding, constants are literal. Output is the constructed
    GRAPH: ``(subj, pred, obj)``, distinct (a graph is a set).

    The bindings subtree is materialized once via a lazy localCheckpoint
    when the template has >1 triple — otherwise every template arm
    re-executes the whole BGP join chain.
    """
    if not template:
        raise ValueError("sparql_construct: empty template")
    used = set()
    for tpl in template:
        used |= {_vname(t) for t in tpl if _is_var(t)}
    bind = sparql_select(triples, patterns, **kwargs)
    missing = used - set(bind.columns)
    if missing:
        raise ValueError(
            f"sparql_construct: template variables {sorted(missing)} "
            "not bound by the pattern"
        )
    bind = bind.select(*sorted(used)).distinct()
    if len(template) > 1:
        bind = bind.localCheckpoint(eager=False)
    arms = []
    for s, p, o in template:
        arms.append(
            bind.select(
                (F.col(_vname(s)) if _is_var(s) else F.lit(s)).alias("subj"),
                (F.col(_vname(p)) if _is_var(p) else F.lit(p)).alias("pred"),
                (F.col(_vname(o)) if _is_var(o) else F.lit(o)).alias("obj"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.distinct()


# ---------------------------------------------------------------------------
# SHACL-lite constraint validation
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ShMinCount:
    """Every instance of ``target_class`` must have ≥ ``n`` values of
    ``path`` (SHACL sh:minCount against a sh:targetClass). Catches the
    zero case — the constraint SQL alone can't see absent rows."""

    id: str
    target_class: str
    path: str
    n: int = 1


@dataclass(frozen=True)
class ShMaxCount:
    """No focus node may have > ``n`` values of ``path``
    (sh:maxCount; ``n=1`` = functional property). ``target_class``
    optionally restricts the focus set."""

    id: str
    path: str
    n: int = 1
    target_class: str | None = None


@dataclass(frozen=True)
class ShPattern:
    """Every value of ``path`` must match ``regex`` (sh:pattern,
    Java/Spark `rlike` semantics — anchor explicitly for full-match)."""

    id: str
    path: str
    regex: str


@dataclass(frozen=True)
class ShClass:
    """The ``on`` end ('subj' or 'obj') of every ``path`` triple must
    be rdf:type ``cls`` (sh:class on a property shape — i.e. a CHECKED
    domain/range, where rdfs_closure would instead INFER the type)."""

    id: str
    path: str
    cls: str
    on: str = "subj"


def shacl_validate(
    triples: DataFrame,
    shapes,
    *,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    type_pred: str = "rdf:type",
) -> DataFrame:
    """Validate the graph against SHACL-lite shapes → violation report
    ``(constraint, focus, value)`` (empty = conforms). Run it AFTER
    :func:`rdfs_closure` to validate against entailed types — the
    closure infers, the validator checks, which is the W3C-recommended
    division of labor (SHACL does not do RDFS inference itself).

    Physical shape per constraint, all scan-pushed on the ``pred``
    partition column: MinCount = typed-targets left-join a map-side-
    combined per-focus count; MaxCount = groupBy-HAVING (+ optional
    semi-join on the target class); Pattern = a pure JVM rlike filter
    (no shuffle at all); Class = one anti-join against the typed set.
    Violations are expected to be rare at 100 TB, so every constraint's
    output is tiny even when its input scan is the full table.
    """
    t = triples.select(
        F.col(subj).alias("s"), F.col(pred).alias("p"), F.col(obj).alias("o")
    )

    def typed(cls: str) -> DataFrame:
        return (
            t.where((F.col("p") == type_pred) & (F.col("o") == cls))
            .select(F.col("s").alias("focus"))
            .distinct()
        )

    outs = []
    for sh in shapes:
        if isinstance(sh, ShMinCount):
            cnt = (
                t.where(F.col("p") == sh.path)
                .groupBy(F.col("s").alias("focus"))
                .agg(F.count("*").alias("_c"))
            )
            v = (
                typed(sh.target_class)
                .join(cnt, "focus", "left")
                .where(F.coalesce("_c", F.lit(0)) < sh.n)
                .select(
                    F.lit(sh.id).alias("constraint"),
                    "focus",
                    F.coalesce("_c", F.lit(0)).cast("string").alias("value"),
                )
            )
        elif isinstance(sh, ShMaxCount):
            base = t.where(F.col("p") == sh.path)
            if sh.target_class is not None:
                base = base.join(
                    typed(sh.target_class).withColumnRenamed("focus", "s"),
                    "s",
                    "left_semi",
                )
            v = (
                base.groupBy(F.col("s").alias("focus"))
                .agg(F.count("*").alias("_c"))
                .where(F.col("_c") > sh.n)
                .select(
                    F.lit(sh.id).alias("constraint"),
                    "focus",
                    F.col("_c").cast("string").alias("value"),
                )
            )
        elif isinstance(sh, ShPattern):
            v = (
                t.where(
                    (F.col("p") == sh.path) & ~F.col("o").rlike(sh.regex)
                )
                .select(
                    F.lit(sh.id).alias("constraint"),
                    F.col("s").alias("focus"),
                    F.col("o").alias("value"),
                )
                .distinct()
            )
        elif isinstance(sh, ShClass):
            side = "s" if sh.on == "subj" else "o"
            if sh.on not in ("subj", "obj"):
                raise ValueError(f"ShClass.on must be subj|obj, got {sh.on}")
            v = (
                t.where(F.col("p") == sh.path)
                .select(F.col(side).alias("focus"))
                .distinct()
                .join(typed(sh.cls), "focus", "left_anti")
                .select(
                    F.lit(sh.id).alias("constraint"),
                    "focus",
                    F.lit(None).cast("string").alias("value"),
                )
            )
        else:
            raise TypeError(f"unknown shape: {sh!r}")
        outs.append(v)
    if not outs:
        raise ValueError("shacl_validate: empty shape list")
    out = outs[0]
    for v in outs[1:]:
        out = out.unionByName(v)
    return out


def rdfs_closure(
    triples: DataFrame,
    *,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    sco: str = "rdfs:subClassOf",
    spo: str = "rdfs:subPropertyOf",
    dom: str = "rdfs:domain",
    rng: str = "rdfs:range",
    type_pred: str = "rdf:type",
    max_hops: int = 16,
    collect_threshold: int = 100_000,
    _in_meta_pass: bool = False,
) -> DataFrame:
    """ρdf entailment closure (Muñoz/Pérez/Gutierrez ESWC'07): the
    deductive core of RDFS without the axiomatic-triple noise.

    Rules, applied in the fixed order that reaches the fixpoint in ONE
    instance pass (schema first, then instance — the standard
    stratification: spo-propagation can create new dom/rng-eligible
    triples, dom/rng can create new type triples, sco inheritance is
    last and creates only type triples, which no other rule consumes).
    The one exception — an ontology whose spo edges point INTO the ρdf
    vocabulary itself (meta-schema), making rule 3 derive new schema
    triples — is detected and closed by re-running the pass to a
    fixpoint (see the trailing meta block):

    1. ``(a sco b), (b sco c) → (a sco c)``  — transitive closure
    2. ``(p spo q), (q spo r) → (p spo r)``  — transitive closure
    3. ``(x p y), (p spo q) → (x q y)``      — property propagation
    4. ``(x p y), (p dom c) → (x type c)``   — domain typing
    5. ``(x p y), (p rng c) → (y type c)``   — range typing
    6. ``(x type c), (c sco d) → (x type d)`` — class inheritance

    The schema triples (sco/spo/dom/rng rows) are assumed dictionary-
    sized (every real ontology is); their closures are computed with
    the bounded TC operator and BROADCAST into the instance joins, so
    the instance table is scanned once and shuffled once (the closing
    ``distinct``). Returns original ∪ inferred, distinct, in the input
    column names.
    """
    from .graph import reachability

    t = triples.select(
        F.col(subj).alias("s"), F.col(pred).alias("p"), F.col(obj).alias("o")
    )
    if not _in_meta_pass:
        # the pass below references its input ~11 times; checkpointed
        # once, each reference scans the checkpoint instead of
        # re-planning (and re-running) an unmaterialized input's whole
        # lineage. Meta passes receive the previous pass's checkpoint.
        t = t.localCheckpoint()
    schema_preds = (sco, spo, dom, rng)

    spark = triples.sparkSession

    def _tc(edges: DataFrame) -> DataFrame:
        """Transitive closure pairs (a, b), a→…→b, dist ≥ 1.

        Schema graphs are dictionary-sized by assumption, so up to
        ``collect_threshold`` edges the closure runs driver-side (a
        BOUNDED collect — one python BFS over the ontology beats ~10
        checkpoint/count jobs of pure scheduler latency); past the
        threshold it falls back to the distributed semi-naive closure.
        On a CYCLIC schema (mutual subClassOf = class equivalence) the
        driver branch correctly entails the reflexive pairs the cycle
        implies; the distributed fallback omits them (reachability
        never revisits a settled root) — ontologies that large and
        cyclic should be normalized first.
        """
        n = edges.count()
        if n == 0:
            return edges.select(
                F.col("src").alias("a"), F.col("dst").alias("b")
            )
        if n <= collect_threshold:
            adj: dict = {}
            for r in edges.collect():
                adj.setdefault(r[0], set()).add(r[1])
            pairs = []
            for root in adj:
                seen, frontier = set(), {root}
                for _ in range(max_hops):
                    frontier = {
                        b for f in frontier for b in adj.get(f, ())
                    } - seen
                    if not frontier:
                        break
                    seen |= frontier
                pairs.extend((root, b) for b in sorted(seen))
            return spark.createDataFrame(
                pairs, schema=edges.select(
                    F.col("src").alias("a"), F.col("dst").alias("b")
                ).schema,
            )
        return (
            reachability(edges, directed=True, max_hops=max_hops)
            .where("dist >= 1")
            .select(F.col("root").alias("a"), F.col("node").alias("b"))
        )

    sco_edges = t.where(F.col("p") == sco).select(
        F.col("s").alias("src"), F.col("o").alias("dst")
    )
    spo_edges = t.where(F.col("p") == spo).select(
        F.col("s").alias("src"), F.col("o").alias("dst")
    )
    sco_t = _tc(sco_edges)  # (a sco+ b)
    spo_t = _tc(spo_edges)  # (p spo+ q)
    dom_rows = t.where(F.col("p") == dom).select(
        F.col("s").alias("dp"), F.col("o").alias("dc")
    )
    rng_rows = t.where(F.col("p") == rng).select(
        F.col("s").alias("rp"), F.col("o").alias("rc")
    )

    inst = t.where(~F.col("p").isin(*schema_preds))
    # rule 3: instance triples under spo-closed predicates (original
    # predicates stay; the union is the propagated set)
    prop = inst.join(
        F.broadcast(spo_t), inst["p"] == spo_t["a"], "inner"
    ).select("s", F.col("b").alias("p"), "o")
    inst_closed = inst.unionByName(prop)
    # rules 4+5 on the spo-closed instance set
    typed_dom = inst_closed.join(
        F.broadcast(dom_rows), inst_closed["p"] == dom_rows["dp"], "inner"
    ).select("s", F.lit(type_pred).alias("p"), F.col("dc").alias("o"))
    typed_rng = inst_closed.join(
        F.broadcast(rng_rows), inst_closed["p"] == rng_rows["rp"], "inner"
    ).select(
        F.col("o").alias("s"), F.lit(type_pred).alias("p"),
        F.col("rc").alias("o"),
    )
    # rule 6 over ALL type triples (pre-existing + rule-4/5 output)
    all_typed = (
        inst_closed.where(F.col("p") == type_pred)
        .unionByName(typed_dom)
        .unionByName(typed_rng)
    )
    inherited = all_typed.join(
        F.broadcast(sco_t), all_typed["o"] == sco_t["a"], "inner"
    ).select("s", F.lit(type_pred).alias("p"), F.col("b").alias("o"))
    # schema self-closure rows (1, 2) materialize as triples too
    sco_new = sco_t.select(
        F.col("a").alias("s"), F.lit(sco).alias("p"), F.col("b").alias("o")
    )
    spo_new = spo_t.select(
        F.col("a").alias("s"), F.lit(spo).alias("p"), F.col("b").alias("o")
    )
    out = (
        t.unionByName(inst_closed)
        .unionByName(typed_dom)
        .unionByName(typed_rng)
        .unionByName(inherited)
        .unionByName(sco_new)
        .unionByName(spo_new)
        .distinct()
    )
    out = out.select(
        F.col("s").alias(subj), F.col("p").alias(pred), F.col("o").alias(obj)
    )
    # META-SCHEMA fixpoint (round-5 review fix): the one-pass
    # stratification assumes rule 3 never DERIVES schema triples — but
    # an ontology declaring e.g. (myRel spo rdfs:subClassOf) makes
    # rule 3 emit new sco rows that the already-computed sco closure
    # never saw (rules 1/6 would silently under-entail). The trigger
    # is a direct spo edge into the ρdf vocabulary (rule 2 has already
    # closed spo chains, so chained cases surface as direct edges
    # after one pass); when present, re-run the pass until the
    # (distinct, monotone) triple set stops growing.
    meta = (
        t.where(
            (F.col("p") == spo) & F.col("o").isin(*schema_preds)
        ).limit(1).count()
        > 0
    )
    if meta and not _in_meta_pass:
        # checkpoint each pass's output before re-entering (round-6 ADVICE
        # fix): each pass otherwise nests the previous pass's WHOLE
        # plan (joins, broadcasts, distincts) inside its own, so
        # planning cost grows multiplicatively across passes — the
        # checkpoint makes every pass plan against a materialized scan,
        # and its count() doubles as the fixpoint probe's input
        def rerun(state):
            prev_out, prev = state
            nxt = rdfs_closure(
                prev_out, subj=subj, pred=pred, obj=obj, sco=sco, spo=spo,
                dom=dom, rng=rng, type_pred=type_pred, max_hops=max_hops,
                collect_threshold=collect_threshold, _in_meta_pass=True,
            ).localCheckpoint()
            n = nxt.count()
            return (nxt, n), n == prev

        out = out.localCheckpoint()
        out, _ = fixpoint((out, out.count()), rerun, 8, "rdfs_closure")
    return out


def resolve_same_as(
    triples: DataFrame,
    *,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    same_pred: str = "owl:sameAs",
    keep_same_as: bool = False,
) -> DataFrame:
    """owl:sameAs smushing — the triple-level form of the pipeline's
    entity canonicalization: connected components over the (symmetric,
    transitive) sameAs graph pick one canonical id per identity cluster
    (the component minimum — deterministic), then every subject AND
    object is rewritten to its canonical representative. The sameAs
    statements themselves are dropped by default (they are now
    tautologies); ``keep_same_as=True`` preserves them rewritten.
    Output is distinct: statements that differed only via aliases
    collapse to one canonical triple.

    Scale shape: the sameAs edge set is a tiny slice of the KG (it
    only grows with duplicate-identity density, not corpus size), so
    the CC rounds run on that slice alone
    (:func:`~golden_horse_spark.operators.canonicalize.connected_components`
    — co-partitioned hash-to-min rounds); the big table is touched by
    exactly two left joins on the canonical map + one distinct. The
    map is (alias → canonical), component-count-sized; Catalyst/AQE
    broadcasts it when it fits.
    """
    from .canonicalize import connected_components

    t = triples.select(
        F.col(subj).alias("s"), F.col(pred).alias("p"), F.col(obj).alias("o")
    )
    same = t.where(F.col("p") == same_pred)
    rest = t if keep_same_as else t.where(F.col("p") != same_pred)
    if same.limit(1).count() == 0:
        return rest.select(
            F.col("s").alias(subj), F.col("p").alias(pred),
            F.col("o").alias(obj),
        ).distinct()
    cc = connected_components(same, src="s", dst="o")
    smap = (
        cc.where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("_alias"), F.col("component").alias("_canon"))
    )
    out = (
        rest.join(smap, rest["s"] == smap["_alias"], "left")
        .select(
            F.coalesce("_canon", "s").alias("s"), "p", "o",
        )
        .join(smap, F.col("o") == smap["_alias"], "left")
        .select(
            "s", "p", F.coalesce("_canon", "o").alias("o"),
        )
        .distinct()
    )
    return out.select(
        F.col("s").alias(subj), F.col("p").alias(pred), F.col("o").alias(obj)
    )
