"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — exact brute-force top-k against a query vector:
  one narrow pass (zip_with/aggregate dot product, JVM codegen) + a
  top-k sort, which Spark executes as per-partition TakeOrdered + driver
  merge (no full shuffle).
* ``ivf_topk`` — the scale path: coarse quantization (IVF). Centroids
  come from a driver-side k-means on a sample (deterministic seed);
  vectors are assigned to their nearest centroid once (narrow), and a
  query probes only the closest ``n_probe`` cells — at 10^12 vectors the
  scan touches n_probe/n_cells of the data, and the cell assignment is
  the partition key so each probe is partition-pruned.
* ``lsh_multitable_topk`` — random-hyperplane LSH variant: L tables of
  seeded sign-bit sketches, candidates from matching buckets only.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(vec_col, query: Sequence[float]):
    q = F.array(*[F.lit(float(x)) for x in query])
    return F.aggregate(
        F.zip_with(vec_col, q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(vec_col):
    return F.sqrt(
        F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_topk(
    embeddings: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    qn = float(np.sqrt(np.dot(query, query))) or 1.0
    # try_divide: a zero embedding vector has no defined cosine — it
    # becomes NULL and sorts after every real score (desc is
    # nulls-last), instead of killing the whole query with ANSI
    # DIVIDE_BY_ZERO (round-5 review fix, reproduced live on Spark 4's
    # ANSI-on default; propagated to every *_topk built on this)
    cos = F.try_divide(
        _dot(F.col(vec_col), query), _norm(F.col(vec_col)) * F.lit(qn)
    )
    return (
        embeddings.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _lloyd(x: np.ndarray, n_cells: int, seed: int = 42) -> np.ndarray:
    """Seeded fixed-iteration Lloyd k-means on an in-memory sample."""
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(8):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cents)):
            pts = x[assign == c]
            if len(pts):
                cents[c] = pts.mean(0)
    return cents


def train_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    sample: int = 2000,
    seed: int = 42,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Driver-side mini k-means (Lloyd, fixed iters, seeded) on a sample.
    Centroid count is O(sqrt(N)) at scale; a few KB broadcast.

    The sample is ``limit(sample)`` — a PARTIAL scan (first partitions
    to answer), deliberately: IVF seeding only needs plausible cluster
    shapes, and exact operators built on these cells (blocked near-dup)
    are correct for ANY centroids."""
    rows = embeddings.select(vec_col).limit(sample).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    return _lloyd(x, n_cells, seed)


def assign_cells(
    embeddings: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Add ``cell`` = argmin centroid distance. Pure column math: the
    per-centroid dot products unroll into codegen expressions (n_cells is
    small by construction).

    Shape notes (both measured): argmin via ``array_min`` over
    (rank, cell) structs — a chained ``F.when(cand < best, cand)
    .otherwise(best)`` duplicates the whole accumulated tree at every
    level (expression size 2^n_cells; showed up as multi-MB task
    binaries). And ‖x‖² is constant per row under argmin, so the rank is
    just ``c·c − 2·x·c`` — no per-centroid norm pass over the vector.
    """
    cands = [
        F.struct(
            (F.lit(float(np.dot(c, c))) - 2 * _dot(F.col(vec_col), c)).alias("d"),
            F.lit(ci).alias("c"),
        )
        for ci, c in enumerate(centroids)
    ]
    return embeddings.withColumn("cell", F.array_min(F.array(*cands))["c"])


def ivf_topk(
    embeddings_with_cells: DataFrame,
    centroids: np.ndarray,
    query: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the n_probe nearest cells only (partition-prunable filter)."""
    q = np.asarray(query, dtype=np.float64)
    order = np.argsort(((centroids - q) ** 2).sum(1))[:n_probe]
    cand = embeddings_with_cells.where(F.col("cell").isin(*[int(c) for c in order]))
    return cosine_topk(cand, query, k, id_col, vec_col)


def lsh_multitable_topk(
    embeddings: DataFrame,
    query: Sequence[float],
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table sign-LSH ANN: L independent tables of b seeded
    hyperplane sign-bits; a row is a candidate iff ANY table's bucket
    equals the query's bucket in that table. One narrow codegen pass
    (L·b dot products per row, OR of L equalities) + exact cosine top-k
    over the candidates — no join, no shuffle, no python.

    Tuning (standard LSH math, worth restating because it decides
    whether this helps at all): a neighbor at angle θ matches one table
    with p^b, p = 1−θ/π, so recall = 1−(1−p^b)^L; a RANDOM row costs
    2^−b per table, so the expected scanned fraction is ≈ 1−(1−2^−b)^L.
    High-cosine targets (near-dup, ≥0.9) afford b=8+ and scan ~L/256 of
    the data; moderate targets (~0.3, like generic top-k on isotropic
    synthetic data) force small b — b=5, L=20 gives ~0.8 recall while
    scanning a large fraction here, which is honest: sign-LSH stops
    paying below cosine ≈ 0.5, and IVF (``ivf_topk``) is the better
    scale path there.

    Shape: L·b projections as nested zip_with/aggregate lambdas explode the
    codegen expression tree (measured 67s first-call compile at
    b=4, L=16). All L·b projections are ONE (batch × dim)·(dim × L·b)
    numpy matmul — an Arrow-batched pandas_udf producing a boolean
    candidate mask, then exact cosine top-k over the survivors.
    """
    dim = len(query)
    rng = np.random.RandomState(seed)
    # identical draw order to sampling randn(n_planes, dim) per table
    planes = rng.randn(n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes)
    q_bits = (planes @ np.asarray(query, dtype=np.float64)) > 0
    q_buckets = (q_bits.reshape(n_tables, n_planes) * weights).sum(1)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _is_candidate(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=bool)
        x = np.stack([np.asarray(a, dtype=np.float64) for a in v])
        bits = (x @ planes.T) > 0
        buckets = (bits.reshape(len(x), n_tables, n_planes) * weights).sum(2)
        return pd.Series((buckets == q_buckets).any(axis=1))

    return cosine_topk(
        embeddings.where(_is_candidate(F.col(vec_col))), query, k, id_col, vec_col
    )


def quantize_embeddings(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q8",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) ∈ [−127, 127]. At 10^12-vector scale
    this is the embedding STORAGE format (4× smaller than float32, and
    int8 dot products are the fast path for SIMD rerank); cosine on
    dequantized vectors is within ~scale/2 per component.

    Pure column math (transform/array_max — codegen). ``floor(x+0.5)``
    instead of round(): identical halfway behavior in Spark and DuckDB,
    so the oracle twin is value-exact. Zero vectors get scale 0 and
    all-zero codes (guarded divide).
    """
    amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = (amax / F.lit(127.0)).alias(scale_col)
    df = embeddings.withColumn(scale_col, scale)
    q = F.when(
        F.col(scale_col) > 0,
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x / F.col(scale_col) + F.lit(0.5)).cast("int"),
        ),
    ).otherwise(F.transform(F.col(vec_col), lambda x: F.lit(0)))
    return df.withColumn(out_col, q)


def dequantize_embeddings(
    quantized: DataFrame,
    q_col: str = "q8",
    scale_col: str = "q_scale",
    out_col: str = "dq",
) -> DataFrame:
    return quantized.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda i: i.cast("double") * F.col(scale_col)),
    )
