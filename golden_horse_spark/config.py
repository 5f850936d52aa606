"""SparkSession construction with scale-oriented defaults.

Designed for a 1000-executor cluster reading ~100 TB; tested on local[N].
Every knob here is a public Spark conf:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing);
* Arrow transfer for pandas UDFs (the NER kernel is Arrow-batched NumPy);
* shuffle partitions sized ~2×cores locally — on a real cluster leave
  ``spark.sql.shuffle.partitions`` to AQE's coalescing with a high initial
  value instead;
* 128 MiB input split targets so 100 TB ≈ 800k well-sized tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def driver_memory(host_bytes: int | None = None) -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` when set,
    else 3/8 of host RAM (at least 1 GiB) — the share the former fixed
    48g default was of the 128 GiB host it was sized on; a fixed 48g
    exceeds the RAM of smaller hosts."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    if host_bytes is None:
        host_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, host_bytes // 2**20 * 3 // 8)}m"


def get_spark(
    app_name: str = "golden-horse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = default_parallelism()
    # One BLAS thread per Python worker: the NER kernel runs small NumPy
    # matmuls in EVERY worker concurrently — letting OpenBLAS/MKL spawn a
    # thread pool per worker oversubscribes cores^2 and collapses scaling
    # (observed 3x slowdown at local[32] before pinning).
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # env-tunable for the local[32] python-worker sweep (BENCH.md);
        # default unchanged
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # keep python workers (and their loaded model state) alive between
        # jobs — re-forking makes every job re-pay model load
        .config(
            "spark.python.worker.reuse",
            os.environ.get("SPARK_GRAFT_WORKER_REUSE", "true"),
        )
        .config("spark.python.worker.idleTimeoutSeconds", "600")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the ``spark-submit --py-files``
    story, north_rule): zip ``golden_horse_spark`` once and ``addPyFile``
    it so UDF kernels can unpickle regardless of executor cwd/PYTHONPATH.
    Idempotent per session."""
    sc = spark.sparkContext
    if getattr(sc, "_ghs_shipped", False):
        return
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    zpath = Path(tempfile.gettempdir()) / f"golden_horse_spark-{os.getpid()}.zip"
    if not zpath.exists():
        with zipfile.ZipFile(zpath, "w") as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, f"golden_horse_spark/{py.relative_to(pkg_dir)}")
    sc.addPyFile(str(zpath))
    sc._ghs_shipped = True
