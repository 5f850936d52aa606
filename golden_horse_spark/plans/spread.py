"""Scan-parallelism floor for row-group-bound parquet inputs.

Parquet splits are byte ranges, but a row group is read whole by the
task whose range covers its midpoint — so a table written as a handful
of large row groups caps scan-stage parallelism at the row-group count
no matter what ``spark.sql.files.maxPartitionBytes`` /
``minPartitionNum`` say. When heavy per-row compute follows the scan
(shingling + md5, tokenization explodes, per-row hashing), that cap
serializes the whole stage onto a few cores.

``spread`` restores parallelism with ONE narrow-input repartition,
applied only when the file metadata proves the scan is row-group-bound
(row groups < default parallelism). At cluster scale — many files /
many row groups — it is a no-op by construction, so it is not a
local-only tuning knob: the condition is derived from the input, not
from the machine (guide §2.5 "input skew: repartition immediately after
the read").

Keyed spread (``key=``) hash-partitions instead of round-robin so a
downstream ``groupBy``/window whose clustering keys contain ``key``
reuses the exchange (subset rule) — one shuffle buys both parallelism
and the aggregation's distribution.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parquet_layout(path: str) -> tuple[int, int] | None:
    """(total row groups, total bytes) of a parquet file or directory
    (driver-side footer metadata only — no data read). None when the
    layout can't be inspected (non-local path, missing pyarrow)."""
    try:
        import pyarrow.parquet as pq

        p = Path(path)
        if p.is_dir():
            files = sorted(p.glob("*.parquet"))
        elif p.is_file():
            files = [p]
        else:
            return None
        if not files:
            return None
        ng = sum(pq.ParquetFile(str(f)).metadata.num_row_groups for f in files)
        nb = sum(f.stat().st_size for f in files)
        return ng, nb
    except Exception:
        return None


# below this compressed size the whole single-task pass is sub-second
# and the repartition's exchange costs more than it saves (measured at
# sf0.1: +0.5–1 s per query); above it, serialized row-group-bound
# scans dominate. Data-derived, not machine-derived.
MIN_SPREAD_BYTES = 2 * 1024 * 1024


def spread(df: DataFrame, path: str | None = None, key: str | None = None,
           num_partitions: int | None = None,
           min_bytes: int = MIN_SPREAD_BYTES) -> DataFrame:
    """Repartition ``df`` to ``num_partitions`` (default: the session's
    default parallelism) when its source at ``path`` is row-group-bound
    AND large enough to amortize the exchange; no-op when the scan is
    already at least that parallel, too small to matter, or the layout
    can't be proven bound (``path=None`` forces the spread)."""
    spark = df.sparkSession
    target = num_partitions or spark.sparkContext.defaultParallelism
    if path is not None:
        lay = parquet_layout(path)
        if lay is None:
            return df
        ng, nb = lay
        if ng >= target or nb < min_bytes:
            return df
    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)
