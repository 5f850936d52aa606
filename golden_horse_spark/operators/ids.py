"""Scalable dense-id assignment (two-phase, zipWithIndex-style).

``row_number() OVER (ORDER BY k)`` with no PARTITION BY forces an
``Exchange SinglePartition`` — the whole table sorts in one task. At
dictionary/corpus scale that's the classic driver-shaped bottleneck.
This operator gets the identical ids with a parallel plan:

1. range-repartition on the order key (parallel range Exchange —
   partition p holds keys all smaller than partition p+1's);
2. count rows per partition (tiny collect: n_parts longs);
3. per-partition row_number + broadcast cumulative offset.

The output is bit-identical to the global window for globally-unique
order keys (locked by the q_word_dict oracle), and the plan has
no SinglePartition exchange (locked by tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sequential_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "seq_id",
    n_parts: int | None = None,
) -> DataFrame:
    """Add 1-based dense ``id_col`` in ascending ``order_cols`` order.

    Order keys must be globally unique (ties would make ids
    nondeterministic — same caveat as the window form's tie behavior).
    """
    spark = df.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    # materialize the input ONCE before range-partitioning (round 6):
    # repartitionByRange runs a range-sampling job over its input, so an
    # unmaterialized df pays its full lineage twice (sampling + the
    # exchange itself) — measured ~2× on q_word_dict's explode+agg
    # subtree. The checkpoint is dictionary-sized by this operator's
    # contract, so the extra materialization is vocabulary-scale.
    df = df.localCheckpoint(eager=False)
    part = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
    )
    # one materialization backs both the count pass and the id join
    part = part.localCheckpoint(eager=False)
    sizes = {
        r["_pid"]: r["n"]
        for r in part.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    off = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        part.join(F.broadcast(off), "_pid")
        .withColumn(id_col, (F.row_number().over(w) + F.col("_off")).cast("long"))
        .drop("_pid", "_off")
    )
