"""Fault-injection driver for the crash-recovery pipeline tests.

Runs the full KG pipeline in its OWN process and SIGKILLs itself while
the partitioned triples stage is landing: after ``GH_KILL_AFTER_MARKERS``
per-partition completion records have been written (0 = kill between the
data job and the first marker). The parent test then restarts the
pipeline on the same output dir and asserts byte-for-value identical
recovery with no duplicated partitions.

Not a pytest module (no ``test_`` prefix) — invoked via subprocess.
Usage: python crash_driver.py <cfg_json>
"""

import json
import os
import signal
import sys


def main() -> None:
    cfg_json = json.loads(sys.argv[1])
    kill_after = int(os.environ.get("GH_KILL_AFTER_MARKERS", "0"))

    import golden_horse_spark.plans.pipeline as P

    orig = P._atomic_write_json
    seen = {"markers": 0}
    # GH_KILL_UNPARTITIONED_STAGE=<stage>: SIGKILL just before THAT
    # stage's manifest lands (data directory written, manifest absent —
    # the stage-granular torn state of an unpartitioned stage)
    kill_stage = os.environ.get("GH_KILL_UNPARTITIONED_STAGE")

    def patched(path, obj):
        if kill_stage:
            if obj.get("stage") == kill_stage and "status" in obj:
                sys.stderr.write(
                    f"crash_driver: SIGKILL before {kill_stage} manifest\n"
                )
                sys.stderr.flush()
                os.kill(os.getpid(), signal.SIGKILL)
            orig(path, obj)
            return
        if "column" in obj:  # a per-partition completion record
            if seen["markers"] >= kill_after:
                sys.stderr.write(
                    f"crash_driver: SIGKILL after {seen['markers']} markers\n"
                )
                sys.stderr.flush()
                os.kill(os.getpid(), signal.SIGKILL)
            seen["markers"] += 1
        orig(path, obj)

    P._atomic_write_json = patched

    from pyspark.sql import SparkSession

    from golden_horse_spark.sources.documents import synthesize_documents

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    docs = synthesize_documents(
        spark, cfg_json.pop("n_docs"), seed=cfg_json.pop("seed"),
        partitions=cfg_json.pop("partitions"),
    )
    # the parent test's explicit alias table, so no names.txt is needed
    aliases = spark.createDataFrame(
        [tuple(r) for r in cfg_json.pop("aliases")], cfg_json.pop("alias_ddl")
    )
    P.run_pipeline(spark, docs, P.PipelineConfig(**cfg_json), aliases=aliases)
    # reaching here means the kill did not fire — fail loudly
    sys.stderr.write("crash_driver: pipeline completed WITHOUT crashing\n")
    sys.exit(17)


if __name__ == "__main__":
    main()
