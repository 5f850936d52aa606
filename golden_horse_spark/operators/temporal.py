"""Temporal joins Spark SQL lacks as built-ins: as-of join and range
(interval) join. Event/feature pipelines need both constantly (latest
feature value as of event time; points falling inside incident/session
windows), and the naive formulations — inequality theta-joins — plan as
BroadcastNestedLoopJoin and die at scale. These are the shuffle-safe
shapes:

* ``asof_join`` — union + running window. Left and right rows are
  tagged and unioned, then one running ``last(value, ignorenulls)``
  window per key fills each left row with the most recent right value.
  Cost: ONE hash exchange on the key + a sort within partitions —
  identical shape to a plain groupBy, no row multiplication, skew
  bounded by the key's own skew. (Contrast: the join-then-rank
  formulation multiplies rows by the full right-side history before
  ranking.)

* ``range_join`` — bin-bucketed equi-join. Intervals explode to the
  fixed-width time bins they cover; points land in exactly ONE bin, so
  the join is an equi-join on (key, bin) and each (point, interval)
  pair can match at most once — no post-join dedup. Fan-out is
  ceil(interval_len / bin_width) + 1 rows per interval: pick
  ``bin_width`` near the typical interval length so the explode stays
  O(1) per interval while each bucket stays narrow.

Round-4 additions complete the temporal toolkit with the same
one-exchange discipline: ``sessionize`` (gap sessions; lag + running
sum), ``coalesce_intervals`` (validity-interval union via
gaps-and-islands, the temporal-KG canonicalization step),
``scd2_init``/``scd2_apply`` (type-2 dimension versioning: one keyed
join + one anti-join), and ``compact_changelog`` (CDC latest-wins
materialization with tombstones: one window).

None of these exist in the reference (its only joins are dict lookups —
SURVEY.md §2.12); they are the training-pipeline additions the brief
asks for beyond reference parity.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..plans.pin import pin as _pin


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: Optional[Sequence[str]] = None,
    direction: str = "backward",
    strict: bool = False,
    prefix: str = "asof_",
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_ts`` ≤ ``left_ts`` (direction="backward"; "forward" takes
    the smallest ≥) within the same ``on`` key. ``strict`` excludes
    equal timestamps. Left rows with no match get NULLs (left-join
    semantics, like DuckDB's ``ASOF LEFT JOIN``).

    Tie handling at equal (key, ts): the union ordering places the
    right row before the left row iff non-strict, so the window either
    sees it (≤) or provably cannot (<) — no rank/filter pass needed.
    Multiple right rows at the SAME (key, ts) resolve deterministically
    to the GREATEST value struct (field-lexicographic): the window
    ordering carries the payload struct itself as the final tie-break,
    so the result no longer depends on sort stability or partitioning.
    (Requires the value columns to be orderable types — true for all
    scalar/array payloads; not maps.)
    """
    keys = [on] if isinstance(on, str) else list(on)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in keys + [right_ts]]
    left_side = 0 if strict else 1
    right_side = 1 - left_side
    lp = list(left.columns)
    out_cols = [prefix + c for c in value_cols]
    # the carried payload is a STRUCT of the value columns, null for left
    # rows: last(_r, ignorenulls) then means "latest right ROW", so a
    # matched row whose value column happens to be NULL still counts as
    # matched (a bare last(value, ignorenulls) would skip past it to an
    # older right row — wrong as-of semantics)
    r_struct_t = (
        "struct<" +
        ", ".join(
            f"{c}:{right.schema[c].dataType.simpleString()}" for c in value_cols
        ) + ">"
    )
    l_tagged = left.select(
        *[F.col(c) for c in lp],
        F.col(left_ts).alias("_t"),
        F.lit(left_side).alias("_side"),
        F.lit(None).cast(r_struct_t).alias("_r"),
    )
    r_tagged = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lp
            if c not in keys
        ],
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("_t"),
        F.lit(right_side).alias("_side"),
        F.struct(*[F.col(c) for c in value_cols]).alias("_r"),
    )
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"asof_join: direction must be 'backward' or 'forward', "
            f"got {direction!r}"
        )
    t_order = F.col("_t").desc() if direction == "forward" else F.col("_t").asc()
    # final _r tie-break: among right rows sharing (key, ts) the greatest
    # value struct sorts last and wins last() — deterministic across
    # partitionings (left rows all carry NULL _r, so their relative order
    # within a ts group never matters)
    w = (
        Window.partitionBy(*keys)
        .orderBy(t_order, F.col("_side").asc(), F.col("_r").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_tagged.unionByName(r_tagged).withColumn(
        "_rf", F.last("_r", ignorenulls=True).over(w)
    )
    return (
        filled.where(F.col("_side") == left_side)
        .select(
            *lp,
            *[
                F.col("_rf")[c].alias(o)
                for c, o in zip(value_cols, out_cols)
            ],
        )
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: Sequence[str] | str,
    point_ts: str = "ts",
    start_col: str = "t_start",
    end_col: str = "t_end",
    bin_width: float = 1800.0,
) -> DataFrame:
    """Inner-join points to the intervals containing them
    (``start ≤ ts ≤ end``, same ``on`` key) as an EQUI-join on
    (key, time_bin) — never a nested-loop theta join. ``bin_width`` is
    in seconds; intervals longer than it simply cover more bins.
    Output: all point columns + all interval columns (caller keeps the
    names disjoint).
    """
    keys = [on] if isinstance(on, str) else list(on)
    w = float(bin_width)
    # TIMESTAMP_NTZ has no direct double cast; epoch seconds via a
    # timestamp hop (same session tz on both sides of the join, so the
    # binning stays consistent — the exact BETWEEN filter is tz-free)
    def _secs(c):
        return F.col(c).cast("timestamp").cast("double")

    p = points.withColumn("_bin", F.floor(_secs(point_ts) / w).cast("long"))
    iv = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(_secs(start_col) / w).cast("long"),
                F.floor(_secs(end_col) / w).cast("long"),
            )
        ),
    )
    return (
        p.join(iv, keys + ["_bin"])
        .where(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) <= F.col(end_col))
        )
        .drop("_bin")
    )


def sessionize(
    events: DataFrame,
    key: Sequence[str] | str = "user_id",
    ts_col: str = "ts",
    gap: float = 1800.0,
) -> DataFrame:
    """Gap-based sessionization: a new session opens when the time since
    the key's previous event reaches ``gap`` seconds. Adds
    ``session_seq`` (1-based per key). Two stacked window functions
    (lag, running sum) over the SAME (key, ts) ordering — one hash
    exchange + one sort, no joins, no state store.

    Boundary semantics match ``F.session_window`` exactly: session
    windows are half-open ``[start, last_ts + gap)``, so an event at
    precisely ``last_ts + gap`` starts a NEW session (strict ``< gap``
    keeps it in the old one only when the diff is strictly smaller).
    Locked by test_temporal boundary cases.
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(ts_col)
    secs = F.col(ts_col).cast("timestamp").cast("double")
    is_new = F.when(secs - F.lag(secs).over(w) < gap, 0).otherwise(1)
    return events.withColumn("session_seq", F.sum(is_new).over(w))


def coalesce_intervals(
    df: DataFrame,
    key: Sequence[str] | str,
    start_col: str = "valid_from",
    end_col: str = "valid_to",
) -> DataFrame:
    """Union of half-open ``[start, end)`` validity intervals per key
    into maximal disjoint intervals — the temporal-KG canonicalization
    step (a fact asserted by many overlapping sources collapses to its
    coverage spans), and the classic gaps-and-islands shape.

    Two stacked window functions over ONE (key, start, end) ordering —
    a running ``max(end)`` over all PRIOR rows opens a new island
    exactly when the next start clears everything seen so far, then a
    running sum numbers the islands — followed by a groupBy on
    (key, island). Cost: one hash exchange + one sort; the groupBy
    reuses the window's hash partitioning (keys ⊂ group keys), so no
    second exchange. No joins, no row multiplication, skew bounded by
    the key's own skew.

    Touching intervals merge (``[1,3) ∪ [3,5) = [1,5)`` — half-open
    union is contiguous): the island break is strictly
    ``start > max(prior ends)``. Works on any orderable type (ints,
    timestamps); use exact integer epochs (e.g. ``unix_micros``) to
    keep downstream arithmetic float-free. Starts/ends must be
    non-null; end ≥ start is the caller's contract.

    Output: key cols, ``interval_seq`` (1-based per key),
    ``start_col``/``end_col`` (the coalesced bounds), ``n_source``
    (source rows merged into the island).
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(F.col(start_col), F.col(end_col))
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "_new",
        F.when(F.col(start_col) <= prev_max_end, F.lit(0)).otherwise(F.lit(1)),
    )
    islanded = flagged.withColumn("_island", F.sum("_new").over(w))
    return (
        islanded.groupBy(*keys, "_island")
        .agg(
            F.min(start_col).alias(start_col),
            F.max(end_col).alias(end_col),
            F.count(F.lit(1)).alias("n_source"),
        )
        .withColumnRenamed("_island", "interval_seq")
        .select(*keys, "interval_seq", start_col, end_col, "n_source")
    )


def scd2_init(
    snapshot: DataFrame,
    ts,
) -> DataFrame:
    """Open a type-2 dimension from a first snapshot: every row becomes
    the current version ``[ts, null)``. ``valid_to`` takes the type of
    the ``ts`` literal (epoch long, timestamp, batch number, …)."""
    vf = F.lit(ts)
    return snapshot.select(
        "*",
        vf.alias("valid_from"),
        F.lit(None).cast(snapshot.select(vf).schema[0].dataType).alias(
            "valid_to"
        ),
        F.lit(True).alias("is_current"),
    )


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts,
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge — the temporal-KG fact
    versioner Spark has no built-in for: apply a snapshot of
    ``changes`` (key + attribute columns) to a versioned ``dim``
    (key + attrs + valid_from/valid_to/is_current) at time ``ts``.

    Semantics (the standard warehouse contract):

    * a change row whose attrs differ (null-safely) from the key's
      CURRENT version closes that version at ``ts`` and opens a new
      one ``[ts, null)``;
    * a change row identical to the current version is a NO-OP (no
      spurious versions — the subtle bug class in hand-rolled SCD2);
    * a key absent from ``dim`` inserts as a new current version;
    * history rows and untouched current rows pass through unchanged.

    Contract: ``changes`` is a SNAPSHOT — at most one row per key per
    batch (duplicate keys in one batch are ambiguous under any SCD2
    definition; dedupe upstream, e.g. with ``compact_changelog``, if
    the source is a raw change stream).

    Plan shape: ONE full-outer keyed equi-join (current × changes),
    then each joined row emits its 0–2 output versions through a
    single ``inline`` of a case-built struct array — the join runs
    exactly once (the naive closed/untouched/new three-branch form
    re-executes it per branch), there are no windows, and both sides
    shuffle at most once on the key (a broadcast join when the change
    batch is small, the common case for incremental KG maintenance).
    Deletes are out of scope (soft-delete by sending a tombstone attr
    if needed).
    """
    keys = list(key_cols)
    attrs = list(attr_cols)
    cur = dim.where(F.col("is_current"))
    hist = dim.where(~F.col("is_current"))
    vt_type = dim.schema["valid_to"].dataType

    ch = changes.select(
        *keys,
        *[F.col(a).alias(f"_new_{a}") for a in attrs],
        F.lit(True).alias("_chg"),
    )
    j = cur.join(ch, keys, "full")
    differs = F.lit(False)
    for a in attrs:
        differs = differs | ~F.col(a).eqNullSafe(F.col(f"_new_{a}"))

    def _el(attr_src, vf, vt, is_cur):
        return F.struct(
            *[attr_src(a).alias(a) for a in attrs],
            vf.alias("valid_from"),
            vt.cast(vt_type).alias("valid_to"),
            is_cur.alias("is_current"),
        )

    keep_el = _el(F.col, F.col("valid_from"), F.col("valid_to"), F.lit(True))
    closed_el = _el(F.col, F.col("valid_from"), F.lit(ts), F.lit(False))
    new_el = _el(
        lambda a: F.col(f"_new_{a}"), F.lit(ts), F.lit(None), F.lit(True)
    )
    emit = (
        F.when(F.col("_chg").isNull(), F.array(keep_el))  # untouched
        .when(F.col("is_current").isNull(), F.array(new_el))  # insert
        .when(differs, F.array(closed_el, new_el))  # version
        .otherwise(F.array(keep_el))  # no-op change
    )
    out_cols = dim.columns
    applied = j.select(*keys, F.inline(emit)).select(out_cols)
    return hist.select(out_cols).unionByName(applied)


def compact_changelog(
    log: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    op_col: str = "op",
    tombstone: str = "D",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """CDC changelog compaction — materialize the LATEST state of a
    keyed insert/update/delete log (the maintenance path for a
    continuously re-extracted KG table): per key, keep the newest row
    by ``(ts, *tiebreak_cols)``; keys whose newest op is the
    ``tombstone`` disappear from the snapshot.

    ONE window over a single (key, ts desc) ordering — one hash
    exchange + one sort, no joins; skew is the key's own skew.
    Determinism requires the ordering to be total per key: pass
    ``tiebreak_cols`` (e.g. a change-id) when timestamps can tie —
    ties without a tiebreak make "latest" partition-order-dependent,
    which is exactly the nondeterminism this operator exists to avoid.
    """
    keys = list(key_cols)
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        log.withColumn("_rn", F.row_number().over(w))
        # null-safe: a malformed NULL op is NOT a delete — plain != is
        # NULL on NULL input and the filter would silently tombstone
        # the key (round-5 review fix)
        .where((F.col("_rn") == 1) & ~F.col(op_col).eqNullSafe(tombstone))
        .drop("_rn")
    )


def allen_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    l_start: str = "l_start",
    l_end: str = "l_end",
    r_start: str = "r_start",
    r_end: str = "r_end",
    max_gap: Optional[float] = None,
    bin_width: float = 1800.0,
) -> DataFrame:
    """Allen's interval algebra join (Allen, CACM 1983): classify every
    qualifying (left, right) interval pair sharing the ``on`` key into
    one of the 13 Allen relations, emitted in a ``relation`` column.
    The temporal-KG use: conflict detection and qualifier inference
    between fact validity intervals ("served_as overlaps married_to",
    "CEO_of meets chairman_of").

    Semantics: CLOSED intervals ``[s, e]`` with ``s ≤ e`` (degenerate
    points allowed; they classify via the same boundary algebra). By
    default only INTERSECTING-OR-TOUCHING pairs are emitted — the 11
    non-disjoint relations — because unrestricted ``before``/``after``
    is the cartesian product and no physical plan fixes O(n²) OUTPUT.
    Pass ``max_gap`` (same units as the bounds) to also emit disjoint
    pairs separated by at most that gap, classified before/after — the
    bounded form a real pipeline wants ("facts within 90 days").

    Scale shape — same discipline as :func:`range_join`: both sides
    explode to the fixed-width time bins their interval covers (the
    left side widened by ``max_gap`` so near-disjoint pairs still
    share a bin), the pair space is an EQUI-join on (key, bin) — never
    a nested-loop theta join — and each pair survives from exactly ONE
    canonical bin (the bin of the later gap-widened range start), so
    multi-bin double-counts never need a distinct: the join's exchange
    is the only shuffle, and genuinely duplicate input rows are
    preserved (range_join semantics). Fan-out is
    ceil(len/bin_width)+1 rows per interval, so pick ``bin_width``
    near the typical interval length.

    Column contract mirrors ``range_join``: bound columns are named by
    the four parameters, every other column name must be disjoint
    between the two sides; all non-bin columns pass through. Bounds
    may be numeric or timestamps (timestamps compare as exact
    epoch seconds — microsecond precision is within double's 2^53
    integer range).
    """
    keys = [on] if isinstance(on, str) else list(on)
    w = float(bin_width)
    g = 0.0 if max_gap is None else float(max_gap)
    if g < 0:
        raise ValueError("allen_join: max_gap must be >= 0")

    def _num(df, c):
        t = dict(df.dtypes)[c]
        col = F.col(c)
        if t.startswith("timestamp"):
            col = col.cast("timestamp")
        return col.cast("double")

    ls, le = _num(left, l_start), _num(left, l_end)
    rs, re = _num(right, r_start), _num(right, r_end)
    lb = left.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor((ls - F.lit(g)) / w).cast("long"),
                F.floor((le + F.lit(g)) / w).cast("long"),
            )
        ),
    )
    rb = right.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(rs / w).cast("long"), F.floor(re / w).cast("long")
            )
        ),
    )
    joined = lb.join(rb, keys + ["_bin"])
    # re-derive the numeric bounds on the joined frame (names are
    # unambiguous by the column contract)
    ls, le = _num(joined, l_start), _num(joined, l_end)
    rs, re = _num(joined, r_start), _num(joined, r_end)
    # canonical-bin dedup (round-5 review fix): a pair co-occurring in
    # k bins is emitted ONLY from the bin holding max of the two
    # (gap-widened) range starts — always within both sides' bin
    # ranges when they intersect, so exactly one copy survives. Unlike
    # the previous full-row distinct this (a) preserves genuinely
    # duplicate input rows (two identical fact assertions stay two
    # pairs, matching range_join) and (b) deletes the distinct's
    # whole-pair-stream exchange — the join's is the only shuffle.
    canon = F.greatest(
        F.floor((ls - F.lit(g)) / w).cast("long"),
        F.floor(rs / w).cast("long"),
    )
    pairs = joined.where(F.col("_bin") == canon).drop("_bin")
    if max_gap is None:
        # touch-or-intersect only: strict inequality would drop 'meets'
        qualify = (ls <= re) & (rs <= le)
    else:
        qualify = (rs - le <= F.lit(g)) & (ls - re <= F.lit(g))
    # precedence: the structural equal-boundary relations
    # (starts/started_by/finishes/finished_by) are tested BEFORE
    # meets/met_by — for PROPER intervals the two families are
    # mutually exclusive so the order is irrelevant, but a degenerate
    # point interval satisfies both (l=[3,3] vs r=[3,5] is both
    # 'starts' and le==rs), and the boundary algebra classifies it by
    # its shared endpoint structure, not as a bare touch (round-5
    # review fix; the DuckDB twin and the pytest reference mirror this
    # exact order)
    rel = (
        F.when((ls == rs) & (le == re), F.lit("equals"))
        .when(le < rs, F.lit("before"))
        .when(re < ls, F.lit("after"))
        .when((ls == rs) & (le < re), F.lit("starts"))
        .when((ls == rs) & (le > re), F.lit("started_by"))
        .when((le == re) & (ls > rs), F.lit("finishes"))
        .when((le == re) & (ls < rs), F.lit("finished_by"))
        .when(le == rs, F.lit("meets"))
        .when(re == ls, F.lit("met_by"))
        .when((ls > rs) & (le < re), F.lit("during"))
        .when((ls < rs) & (le > re), F.lit("contains"))
        .when(ls < rs, F.lit("overlaps"))
        .otherwise(F.lit("overlapped_by"))
    )
    return pairs.where(qualify).withColumn("relation", rel)


def funnel(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel analysis (the product-analytics classic): how
    many users complete each prefix of ``steps`` IN ORDER —
    first-touch semantics: a user's step-i time is the EARLIEST event
    of type ``steps[i]`` STRICTLY after their step-(i−1) time, so
    out-of-order events never count and repeated events resolve to
    the first qualifying one.

    Returns one row per step: ``(step 1-based, event_type, n_users)``
    — n_users is monotone non-increasing by construction.

    Scale shape: k−1 co-partitioned joins on the user key (each step
    joins ONLY that step's filtered events against the survivors'
    (user, t) frame — one hash exchange per step, no window over the
    full event stream, no per-user event collection); the per-step
    count is a map-side-combined global aggregate. Skew bounded by a
    single user's events of one type."""
    steps = list(steps)
    if not steps:
        raise ValueError("funnel: need at least one step")
    cur = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(F.col(user_col).alias("_u"))
        .agg(F.min(ts_col).alias("_t"))
        # each survivor frame computes once; pin keeps its _u hash
        # partitioning, so the next step's join shuffles only the events
        .transform(_pin, eager=False)
    )
    out = None
    for i, st in enumerate(steps, start=1):
        if i > 1:
            cur = (
                events.where(F.col(type_col) == st)
                .select(
                    F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
                )
                .join(cur, "_u")
                .where(F.col("_ts") > F.col("_t"))
                .groupBy("_u")
                .agg(F.min("_ts").alias("_t"))
                .transform(_pin, eager=False)
            )
        row = cur.agg(F.count("*").alias("n_users")).select(
            F.lit(i).alias("step"),
            F.lit(st).alias("event_type"),
            F.col("n_users").cast("long").alias("n_users"),
        )
        out = row if out is None else out.unionByName(row)
    return out
