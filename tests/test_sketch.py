"""Exact heavy hitters (operators/sketch.py): Misra–Gries retention
property, candidate superset guarantee, exactness vs plain groupBy,
partitioning invariance."""

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from golden_horse_spark.operators.sketch import (
    _misra_gries_update,
    heavy_hitters,
)

pytestmark = pytest.mark.spark


@given(
    st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=500),
    st.integers(min_value=1, max_value=12),
)
@settings(max_examples=200, deadline=None)
def test_misra_gries_retention_property(stream, k):
    """Every value with count > n/(k+1) survives — the textbook bound,
    on arbitrary streams, including incremental chunked updates."""
    counters = {}
    mid = len(stream) // 2
    _misra_gries_update(counters, stream[:mid], k)
    _misra_gries_update(counters, stream[mid:], k)
    n = len(stream)
    for v in set(stream):
        if stream.count(v) > n / (k + 1):
            assert v in counters, (v, k, n)
    assert len(counters) <= k


def _skewed_corpus(seed, n=4000):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.25:
            w = "hot"
        elif r < 0.32:
            w = "warm"
        else:
            w = f"tail{rng.randrange(500)}"
        rows.append((i, w))
    return rows


def test_heavy_hitters_exact_vs_groupby(spark):
    from pyspark.sql import functions as F

    rows = _skewed_corpus(5)
    df = spark.createDataFrame(rows, "id long, w string")
    phi = 0.05
    n = len(rows)
    want = sorted(
        (r["w"], r["cnt"])
        for r in df.groupBy("w").agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > phi * n).collect()
    )
    got = sorted(tuple(r) for r in heavy_hitters(df, "w", phi).collect())
    assert got == want and ("hot", sum(1 for _, w in rows if w == "hot")) in got


def test_heavy_hitters_partitioning_invariant(spark):
    """The adversarial case for per-partition sketches: the hot value
    spread thin across many partitions. The pigeonhole superset
    guarantee means the RESULT cannot depend on partitioning."""
    rows = _skewed_corpus(11)
    results = []
    for parts in (1, 7, 32):
        df = spark.createDataFrame(rows, "id long, w string").repartition(parts)
        results.append(
            sorted(tuple(r) for r in heavy_hitters(df, "w", 0.05).collect())
        )
    assert results[0] == results[1] == results[2] and results[0]


def test_candidates_are_superset_and_bounded(spark):
    """The per-partition sweep inside heavy_hitters keeps ≤ k counters
    and retains every value above n_p/(k+1) of its partition, so the
    union of the survivors is a superset of the true heavy hitters —
    which heavy_hitters then returns exactly."""
    from collections import Counter

    rows = _skewed_corpus(23)
    phi = 0.05
    k = int(1 / phi) + 1
    cands = set()
    for part in (rows[i::8] for i in range(8)):
        counters = _misra_gries_update({}, [w for _, w in part], k)
        local = Counter(w for _, w in part)
        assert len(counters) <= k
        assert {w for w, c in local.items() if c > len(part) / (k + 1)} <= set(
            counters
        )
        cands |= set(counters)
    n = len(rows)
    true_hh = {w for w, c in Counter(w for _, w in rows).items() if c > phi * n}
    assert true_hh and true_hh <= cands
    df = spark.createDataFrame(rows, "id long, w string").repartition(8)
    assert {r["w"] for r in heavy_hitters(df, "w", phi).collect()} == true_hh
    with pytest.raises(ValueError):
        heavy_hitters(df, "w", 1.5)


def _py_cms(values, depth, width):
    from golden_horse_spark.operators.sketch import CMS_P, CMS_PARAMS

    table = {}
    for v in values:
        x = v % CMS_P
        for i, (a, b) in enumerate(CMS_PARAMS[:depth]):
            k = (i, (a * x + b) % CMS_P % width)
            table[k] = table.get(k, 0) + 1
    return table


def test_count_min_table_matches_python_replay(spark):
    from golden_horse_spark.operators.sketch import (
        count_min_estimate,
        count_min_table,
    )

    import random

    rng = random.Random(7)
    vals = [rng.randrange(0, 50) for _ in range(2000)] + [3] * 500
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    depth, width = 4, 64
    sk = count_min_table(df, "k", depth=depth, width=width)
    got = {(r["row"], r["bucket"]): r["cnt"] for r in sk.collect()}
    assert got == _py_cms(vals, depth, width)
    # sketch size bound holds regardless of input
    assert sk.count() <= depth * width

    # point estimates: est >= true always; min over rows == python replay
    from collections import Counter

    true = Counter(vals)
    probes = spark.createDataFrame([(v,) for v in set(vals)], "k long")
    est = {
        r["k"]: r["est"]
        for r in count_min_estimate(sk, probes, "k", depth, width).collect()
    }
    for v, t in true.items():
        assert est[v] >= t
    # wide sketch => no collisions on this key space => exact
    sk2 = count_min_table(df, "k", depth=2, width=4096)
    est2 = {
        r["k"]: r["est"]
        for r in count_min_estimate(sk2, probes, "k", 2, 4096).collect()
    }
    assert est2 == dict(true)


def test_count_min_merge_law(spark):
    from golden_horse_spark.operators.sketch import count_min_table
    import pyspark.sql.functions as F

    a = spark.createDataFrame([(i % 11,) for i in range(300)], "k long")
    b = spark.createDataFrame([(i % 7,) for i in range(200)], "k long")
    sk_union = count_min_table(a.union(b), "k", depth=3, width=32)
    merged = (
        count_min_table(a, "k", depth=3, width=32)
        .union(count_min_table(b, "k", depth=3, width=32))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert {tuple(r) for r in sk_union.collect()} == {
        tuple(r) for r in merged.collect()
    }


def test_count_min_rejects_bad_dims(spark):
    from golden_horse_spark.operators.sketch import count_min_table

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        count_min_table(df, "k", depth=99)
    with pytest.raises(ValueError):
        count_min_table(df, "k", width=1)


def test_bloom_semi_join_equals_plain_semi_join(spark):
    import random

    from golden_horse_spark.operators.sketch import bloom_semi_join

    rng = random.Random(99)
    big_rows = [(rng.randrange(-500, 500), f"p{i}") for i in range(3000)]
    key_rows = [(rng.randrange(-500, 500),) for _ in range(80)]
    big = spark.createDataFrame(big_rows, "k long, payload string")
    keys = spark.createDataFrame(key_rows, "k long")
    got = sorted(
        tuple(r) for r in bloom_semi_join(big, keys, "k", depth=3,
                                          width=1024).collect()
    )
    want = sorted(
        tuple(r)
        for r in big.join(keys.distinct(), "k", "left_semi").collect()
    )
    assert got == want and len(got) > 0


def test_bloom_semi_join_rejects_bad_width(spark):
    from golden_horse_spark.operators.sketch import bloom_semi_join

    big = spark.createDataFrame([(1, "x")], "k long, payload string")
    keys = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        bloom_semi_join(big, keys, "k", width=100)


def test_bloom_semi_join_rejects_non_integral_key(spark):
    import pytest

    from golden_horse_spark.operators.sketch import bloom_semi_join

    big = spark.createDataFrame([("a",), ("b",)], "name string")
    keys = spark.createDataFrame([("a",)], "name string")
    with pytest.raises(TypeError, match="integral"):
        bloom_semi_join(big, keys, "name")


def test_bloom_semi_join_null_keys_build_side(spark):
    from golden_horse_spark.operators.sketch import bloom_semi_join

    big = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    keys = spark.createDataFrame(
        [(1,), (None,), (3,)], "k long"
    )
    got = sorted(r["k"] for r in bloom_semi_join(big, keys, "k").collect())
    assert got == [1, 3]


def test_count_min_negative_and_null_keys(spark):
    # negative keys must fold to NON-NEGATIVE buckets (pmod, matching
    # python % semantics); NULL keys are dropped from sketch and probes
    from golden_horse_spark.operators.sketch import (
        count_min_estimate,
        count_min_table,
    )

    vals = [-5, -5, -5, 7, 7, -(2**40)]
    rows = [(v,) for v in vals] + [(None,)]
    df = spark.createDataFrame(rows, "k long")
    depth, width = 3, 32
    sk = count_min_table(df, "k", depth=depth, width=width)
    got = {(r["row"], r["bucket"]): r["cnt"] for r in sk.collect()}
    assert got == _py_cms(vals, depth, width)
    assert all(0 <= b < width for (_, b) in got)

    probes = spark.createDataFrame(
        [(-5,), (7,), (None,)], "k long"
    )
    est = {
        r["k"]: r["est"]
        for r in count_min_estimate(sk, probes, "k", depth, width).collect()
    }
    assert None not in est
    assert est[-5] >= 3 and est[7] >= 2


def test_count_min_estimate_depth_guard(spark):
    """Probing more rows than the sketch was built with would silently
    return est=0 for every key (round-5 review fix): the estimator now
    validates the probe depth against the sketch's actual max row."""
    from golden_horse_spark.operators.sketch import (
        count_min_estimate,
        count_min_table,
    )

    df = spark.createDataFrame([(i % 7,) for i in range(50)], "k long")
    sk = count_min_table(df, "k", depth=4, width=64)
    with pytest.raises(ValueError, match="built depth"):
        count_min_estimate(sk, df, "k", depth=6, width=64)
    with pytest.raises(ValueError, match="depth must be"):
        count_min_estimate(sk, df, "k", depth=9, width=64)
    est = {
        r["k"]: r["est"]
        for r in count_min_estimate(sk, df, "k", depth=3, width=64).collect()
    }
    true = {i: len([x for x in range(50) if x % 7 == i]) for i in range(7)}
    assert all(est[k] >= true[k] for k in true)
