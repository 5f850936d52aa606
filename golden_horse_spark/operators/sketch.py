"""Mergeable sketches: exact heavy hitters, Bloom-filter joins, Count-Min.

The hot-surface-form problem from the other side: ``salting.py`` makes
skewed keys cheap to aggregate; this module FINDS them without paying a
full-corpus shuffle. Two passes:

1. **Candidates** — one ``mapInPandas`` sweep runs a Misra–Gries sketch
   (k counters) per PARTITION and emits its ≤ k surviving values. The
   guarantee is the textbook one, applied per partition and composed by
   pigeonhole: if a value's global count exceeds φ·N, then in at least
   one partition its local count exceeds φ·n_p (else the global sum
   could not reach φ·N), and Misra–Gries with k ≥ ⌈1/φ⌉ counters always
   retains any value whose local count exceeds n_p/(k+1) ≤ φ·n_p. So
   the candidate set is a SUPERSET of the true heavy hitters — never a
   miss, only false candidates.
2. **Exact verify** — the bounded candidate set (≤ k·partitions rows
   before distinct) broadcasts back; only matching rows aggregate, with
   map-side combine collapsing each task's contribution to ≤ |cands|
   partial rows. The final filter ``count > φ·N`` makes the output
   EXACT — which is why the DuckDB oracle is a plain GROUP BY/HAVING,
   not an approximation band.

At 10^12 rows the full stream is never shuffled: pass 1 is
shuffle-free (sketches live inside partitions), pass 2 shuffles only
per-task partials over ≤ |candidates| keys. The driver sees one scalar
(N) and the candidate list — both bounded by construction.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _misra_gries_add(counters: dict, key, inc: int, k: int) -> None:
    """WEIGHTED Misra–Gries step (Berinde et al. / the mergeable-
    summaries form): add ``inc`` occurrences of ``key`` into a
    ≤``k``-counter summary. When the summary is full, subtract the
    largest decrement that keeps every counter non-negative
    (min(inc, current minimum)) from ALL counters including the
    provisional new one, and drop zeros — each decrement event removes
    equal mass from ≥ k+1 distinct keys, so every key's undercount is
    ≤ n/(k+1), the classic MG guarantee. The step behind
    :func:`heavy_hitters`' per-partition sweep."""
    if key in counters:
        counters[key] += inc
    elif len(counters) < k:
        counters[key] = inc
    else:
        dec = min(inc, min(counters.values()))
        counters[key] = inc  # provisional: add then rebalance
        for ck in list(counters):
            counters[ck] -= dec
            if counters[ck] <= 0:
                del counters[ck]


def _misra_gries_update(counters: dict, values, k: int) -> dict:
    """k-counter Misra–Gries over a pandas Series chunk: after
    streaming any value sequence through, ``counters`` retains every
    value whose count in the stream so far exceeds n/(k+1).
    Incremental — pass the same dict across chunks of one stream.
    Values are pre-aggregated with ``value_counts`` (C-speed) and fed
    through the shared weighted step — batch-weighted MG admits the
    same guarantee as the per-item classic (summary merge theorem),
    with far fewer python-level iterations per chunk."""
    if not isinstance(values, pd.Series):
        values = pd.Series(list(values), dtype=object)
    for v, cnt in values.value_counts(dropna=False).items():
        _misra_gries_add(counters, v, int(cnt), k)
    return counters


def heavy_hitters(
    df: DataFrame, col: str, threshold_frac: float = 0.01
) -> DataFrame:
    """EXACT φ-heavy-hitters: every value of ``col`` whose row count
    exceeds ``threshold_frac``·N, with its exact count — ``(col, cnt)``,
    deterministic and partitioning-invariant (tested). See module
    docstring for the two-pass guarantee.

    N rides ALONG the sketch sweep (one marker row per partition beside
    the MG survivors, summed from the bounded summary) instead of a
    separate ``df.count()`` — at the module's 10^12-row design point a
    third full pass just for one scalar is the difference between two
    scans and three (round-5 review fix)."""
    if not 0 < threshold_frac < 1:
        raise ValueError(f"threshold_frac must be in (0, 1), got {threshold_frac}")
    k = int(1.0 / threshold_frac) + 1
    field = df.schema[col]
    sk_schema = f"`{col}` {field.dataType.simpleString()}, `_pn` long"

    def sketch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n = 0
        for pdf in batches:
            n += len(pdf)
            _misra_gries_update(counters, pdf[col], k)
        # survivors plus ONE partition-count marker row (col NULL —
        # a NULL candidate could never equi-match in the verify join)
        yield pd.DataFrame(
            {col: list(counters.keys()) + [None],
             "_pn": [0] * len(counters) + [n]}
        )

    sk = df.select(col).mapInPandas(sketch, sk_schema).localCheckpoint()
    n = sk.agg(F.sum("_pn")).first()[0] or 0
    cands = sk.where(F.col(col).isNotNull()).select(col).distinct()
    return (
        df.join(F.broadcast(cands), col, "left_semi")
        .groupBy(col)
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > threshold_frac * n)
    )


# ---------------------------------------------------------------------------
# Count-Min sketch — replayable universal hashing
# ---------------------------------------------------------------------------

# Mersenne prime 2^31 - 1: with a, b, (x mod P) all < 2^31, every
# intermediate of ((a·x + b) mod P) mod width stays under 2^62 — exact
# in BIGINT on ANY engine, so a SQL oracle can replay the sketch
# bit-for-bit (no engine-specific hash like xxhash64 in the loop).
CMS_P = 2_147_483_647

# fixed (a, b) rows — classic LCG multipliers, all < 2^31; depth ≤ 8
CMS_PARAMS = [
    (1_103_515_245, 12_345),
    (22_695_477, 1),
    (69_069, 7),
    (1_664_525, 1_013_904_223),
    (134_775_813, 1),
    (214_013, 2_531_011),
    (16_807, 0),
    (48_271, 0),
]


def _cms_bucket(x, a: int, b: int, width: int):
    return (F.lit(a) * x + F.lit(b)) % F.lit(CMS_P) % F.lit(width)


def count_min_table(
    df: DataFrame, col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-Min sketch of an integer key column as a DataFrame of
    ``(row, bucket, cnt)`` — at most depth·width rows REGARDLESS of the
    input size, fully mergeable (two sketches merge by summing cnt on
    (row, bucket)), built with ONE map-side-combined groupBy whose key
    space is bounded by the sketch dimensions, never by the data.

    Point estimates (count_min_estimate) carry the standard CM
    guarantee: est ≥ true, and est ≤ true + εN with probability
    1 − (1/2)^depth for width = ⌈e/ε⌉ (Cormode & Muthukrishnan 2005).

    Hashing is 2-universal ((a·x + b) mod P) mod width over the
    Mersenne prime P = 2^31 − 1 with FIXED published (a, b) rows —
    deliberately arithmetic-only so the DuckDB oracle replays the
    sketch exactly. Keys are folded to pmod(x, P) first (pmod, not %:
    sign-preserving remainder would put negative keys in negative
    buckets and silently double the sketch's row bound); keys must be
    integral (hash strings to a 31-bit int upstream if needed). NULL
    keys are dropped — they can never equi-match a probe, so counting
    them would only inflate (row, NULL) junk buckets.
    """
    if not 1 <= depth <= len(CMS_PARAMS):
        raise ValueError(f"depth must be in [1, {len(CMS_PARAMS)}]")
    if width < 2:
        raise ValueError("width must be >= 2")
    df = df.where(F.col(col).isNotNull())
    x = F.pmod(F.col(col).cast("long"), F.lit(CMS_P))
    buckets = F.array(
        *[_cms_bucket(x, a, b, width) for a, b in CMS_PARAMS[:depth]]
    )
    return (
        df.select(F.posexplode(buckets).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query a ``count_min_table`` sketch: per probe key, the min
    over its depth buckets — ``(col, est)``. The sketch side is bounded
    (≤ depth·width rows) so it broadcasts; the probe side never
    shuffles more than its own distinct keys. Probes whose buckets are
    absent from the sketch (possible only for keys the data never
    hashed anywhere near) estimate 0 via the left join. NULL probes are
    dropped (the sketch never counts NULL keys — see count_min_table);
    folding matches the sketch side (pmod).

    ``depth`` must not exceed the depth the sketch was BUILT with —
    probing rows the sketch never populated would left-join to null →
    0 → min 0, silently breaking the est ≥ true guarantee for every
    key (round-5 review fix: validated here against the sketch's
    actual max row, a one-scalar aggregate over the ≤ depth·width-row
    sketch)."""
    if not 1 <= depth <= len(CMS_PARAMS):
        raise ValueError(f"depth must be in [1, {len(CMS_PARAMS)}]")
    top = sketch.agg(F.max("row")).first()[0]
    if top is not None and depth > top + 1:
        raise ValueError(
            f"probe depth {depth} exceeds the sketch's built depth "
            f"{top + 1} — estimates over unpopulated rows would be 0"
        )
    x = F.pmod(F.col(col).cast("long"), F.lit(CMS_P))
    buckets = F.array(
        *[_cms_bucket(x, a, b, width) for a, b in CMS_PARAMS[:depth]]
    )
    probes = probes.where(F.col(col).isNotNull())
    pe = probes.select(col).distinct().select(
        col, F.posexplode(buckets).alias("row", "bucket")
    )
    return (
        pe.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join — sketch prefilter, exact result
# ---------------------------------------------------------------------------


def bloom_semi_join(
    big: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 1 << 16,
) -> DataFrame:
    """EXACT semi-join of ``big`` against the key set of ``keys``,
    prefiltered by a partitioned Bloom filter so the exact join touches
    only surviving rows.

    Build: the key side's distinct (row, bucket) bit positions —
    bounded by depth·width by CONSTRUCTION, not by the data — collect
    into ``depth`` packed 64-bit-word masks shipped as literal arrays
    in the plan (width 2^16 → 1024 longs per hash row). Probe: a pure
    JVM expression filter — all ``depth`` bit tests must pass — so the
    big side is never exploded, never shuffled, and whole-stage codegen
    keeps the probe in the scan stage (predicate runs at the source).
    Bloom filters have NO false negatives, so the survivors are a
    superset of the true matches; the final ``left_semi`` against the
    distinct key set makes the result exact — which is why its oracle
    twin is a plain EXISTS, not a tolerance band.

    Use when the key set is too large to broadcast raw but its bitmask
    is small (a 2^16-bit mask summarizes millions of keys in 8 KiB per
    hash row): the exact semi-join then shuffles only the filtered
    survivors. Hashing is the same 2-universal family as the Count-Min
    sketch, with pmod so negative keys probe correctly.
    """
    if not 1 <= depth <= len(CMS_PARAMS):
        raise ValueError(f"depth must be in [1, {len(CMS_PARAMS)}]")
    if width < 64 or width % 64:
        raise ValueError("width must be a positive multiple of 64")
    # same integral-key contract as count_min_table, but enforced: a
    # string key would cast to NULL buckets (opaque driver TypeError)
    # and, worse, mis-filter rows whose cast-to-bigint happens to
    # succeed — hash strings to a 31-bit int upstream instead
    for side, sdf in (("big", big), ("keys", keys)):
        t = dict(sdf.dtypes).get(key_col)
        if t not in ("tinyint", "smallint", "int", "bigint"):
            raise TypeError(
                f"bloom_semi_join: {side}.{key_col} must be an integral "
                f"column (got {t}); hash non-integral keys to a 31-bit "
                "int upstream"
            )

    def buckets_for(x):
        folded = F.pmod(x.cast("long"), F.lit(CMS_P))
        return [
            F.pmod(F.lit(a) * folded + F.lit(b), F.lit(CMS_P)) % F.lit(width)
            for a, b in CMS_PARAMS[:depth]
        ]

    # NULL keys can never equi-match (SQL semantics) but would emit a
    # None bucket that crashes mask building — drop them from the build
    kd = keys.select(key_col).where(F.col(key_col).isNotNull()).distinct()
    bits = (
        kd.select(F.posexplode(F.array(*buckets_for(F.col(key_col)))).alias(
            "row", "bucket"
        ))
        .distinct()
        .collect()
    )  # bounded: ≤ depth·width rows, independent of |keys|
    masks = [[0] * (width // 64) for _ in range(depth)]
    for r in bits:
        masks[r["row"]][r["bucket"] >> 6] |= 1 << (r["bucket"] & 63)

    cond = F.lit(True)
    for i, (a, b) in enumerate(CMS_PARAMS[:depth]):
        bkt_sql = (
            f"pmod({a}L * pmod(cast(`{key_col}` as bigint), {CMS_P}L) "
            f"+ {b}L, {CMS_P}L) % {width}L"
        )
        # two's-complement literal for longs with bit 63 set
        words = ", ".join(
            f"{w - (1 << 64) if w >= (1 << 63) else w}L" for w in masks[i]
        )
        test = F.expr(
            f"((shiftright(element_at(array({words}), "
            f"cast(shiftright({bkt_sql}, 6) as int) + 1), "
            f"cast(({bkt_sql}) & 63 as int))) & 1) = 1"
        )
        cond = cond & test
    survivors = big.where(cond)
    # exact verify on the survivors only; Catalyst picks the strategy
    # (broadcast if kd is small, shuffled hash join otherwise)
    return survivors.join(kd, key_col, "left_semi")
