"""Partitioning-preserving local checkpoints, for co-partitioned state.

With adaptive execution on, a ``localCheckpoint``'s source plan is an
``AdaptiveSparkPlan`` whose ``outputPartitioning`` is still unknown when
``LogicalRDD.fromDataset`` captures it, so the checkpointed scan reports
no partitioning and a later join or aggregate on the same key pays an
Exchange that EnsureRequirements would otherwise elide (Spark 4.1.2: a
co-partitioned join of two checkpointed frames plans 1 shuffle with a
plain ``localCheckpoint``, 0 with ``pin``).

``pin`` plans the checkpoint in a clone of the caller's session with
AQE off on the clone only: the clone carries the caller's runtime conf
(shuffle partitions included), its physical plan exposes the real
``hashpartitioning``, and ``LogicalRDD`` keeps it. The checkpointed
plan is then handed back to the caller's session, where downstream
queries plan with AQE on as usual. The caller's conf is never written,
so queries planned concurrently from other threads (trainer threads)
always see AQE on.

Keep-pin rule: a site uses ``pin`` only when a later join, aggregate or
window on the checkpoint's own hash key reuses its partitioning — the
round state and arc tables of the iterative graph operators and of
connected components. Everywhere else a stock
``df.localCheckpoint(eager)`` is the checkpoint: it keeps AQE's runtime
re-planning of the checkpointed sub-plan. ``tests/test_pin.py`` holds
the allowlist of functions that call ``pin``, each with its key and
consumer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` that keeps the hash partitioning of
    ``df``'s plan — see the module docstring. ``transform``-friendly:
    ``df.transform(pin)`` / ``df.transform(pin, eager=False)``. A lazy
    pin still plans at call time (``fromDataset`` builds the physical
    plan), so the AQE-off planning happens inside the clone either way."""
    spark = df.sparkSession
    clone = spark._jsparkSession.cloneSession()
    clone.conf().set("spark.sql.adaptive.enabled", "false")
    of_rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    plan = df._jdf.queryExecution().logical()
    ck = of_rows(clone, plan).localCheckpoint(eager)
    back = of_rows(spark._jsparkSession, ck.queryExecution().logical())
    return DataFrame(back, spark)
