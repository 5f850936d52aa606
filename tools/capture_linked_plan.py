"""Round-6 evidence capture: the physical plan of the kg pipeline's
`linked` subtree (mentions ⋈ links ⋈ entities inside
materialize_triples) planned the round-5 way (pin = AQE off at
localCheckpoint planning → the entities join is frozen as written) vs
the round-6 way (plain localCheckpoint → AQE replans at runtime with
the actual shuffle sizes). Writes plans/r06/kg_linked_join_before.txt
(AQE-off physical plan) and ..._after.txt (AQE final executed plan).

The stages come from ``run_pipeline`` over ``bench.bench_corpus``, and
each dump's header names the sentence pool used.

Not part of the bench contract; uses a reduced doc count purely to keep
the capture fast — join shapes are scale-independent here because the
decision under test is stats-driven, which is exactly the point.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

N_DOCS = int(os.environ.get("CAPTURE_DOCS", "4000"))


def main() -> None:
    import tempfile

    from golden_horse_spark.config import get_spark

    spark = get_spark("capture-linked-plan")
    import __spark_entry__ as e
    from bench import bench_corpus
    from golden_horse_spark.plans.pipeline import PipelineConfig, run_pipeline

    docs, aliases, pool_name = bench_corpus(spark, N_DOCS, 64)
    with tempfile.TemporaryDirectory(prefix="capture_kg_") as tmp:
        stages = run_pipeline(
            spark, docs, PipelineConfig(output_dir=tmp, weights_path=e.WEIGHTS),
            aliases,
        )
        capture(spark, stages, pool_name)
    spark.stop()


def capture(spark, stages, pool_name: str) -> None:
    from pyspark.sql import functions as F

    mentions, links, entities = (
        stages["mentions"], stages["links"], stages["entities"]
    )
    # the exact `linked` expression from materialize_triples, pre-checkpoint
    linked = (
        mentions.join(links, "mention_id")
        .join(entities, "entity_id")
        .select(
            "mention_id", "doc_id", "span_idx", "sent_idx", "etype",
            F.col("canonical_id").alias("subj"),
        )
    )

    out = REPO / "plans" / "r06"
    out.mkdir(parents=True, exist_ok=True)

    # BEFORE: what pin() planned — AQE off at plan time
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    before = linked._jdf.queryExecution().executedPlan().toString()
    (out / "kg_linked_join_before.txt").write_text(
        "# `linked` (mentions ⋈ links ⋈ entities) planned with AQE OFF —\n"
        "# the plan pin() froze at every round-5 localCheckpoint:\n"
        f"# sentence_pool: {pool_name}\n\n"
        + before
    )
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    # AFTER: plain localCheckpoint path — run it and dump the final
    # adaptive plan (re-create the DF so the new conf applies)
    linked2 = (
        mentions.join(links, "mention_id")
        .join(entities, "entity_id")
        .select(
            "mention_id", "doc_id", "span_idx", "sent_idx", "etype",
            F.col("canonical_id").alias("subj"),
        )
    )
    # execute THIS QueryExecution (a .write/.count would build a new
    # one and the final adaptive plan would not be observable)
    qe = linked2._jdf.queryExecution()
    qe.toRdd().count()
    after = qe.executedPlan().toString()
    (out / "kg_linked_join_after.txt").write_text(
        "# same subtree executed with AQE ON (round-6 plain\n"
        "# localCheckpoint in materialize_triples) — final adaptive plan:\n"
        f"# sentence_pool: {pool_name}\n\n"
        + after
    )
    print("before SMJ count:", before.count("SortMergeJoin"))
    print("after  SMJ count:", after.count("SortMergeJoin"))
    print("after  BHJ count:", after.count("BroadcastHashJoin"))


if __name__ == "__main__":
    main()
