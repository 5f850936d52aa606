"""End-to-end KG construction pipeline with per-stage checkpoints,
per-partition lineage/counters, and resume (north_rule: "resumable from
per-partition checkpoints with lineage and counters (mentions detected,
links scored, triples emitted) recorded per partition").

Stage graph::

    documents ─→ sentences ─→ mentions ─→ candidates ─→ links ─→ entities
                                   └──────────────┬──────────────────┘
                                                  └→ triples  (+ metrics)

``run_pipeline`` is the only place the chain is wired: the CLI
(``tools/run_pipeline.py``), the driver contract's KG queries
(``__spark_entry__``), ``bench.py`` and ``perfbench`` all call it, so
every caller runs — and every timing measures — the same stage store.
The alias table is a required input; nothing here reads a default
gazetteer path.

Each stage materializes to ``<out>/<stage>`` (parquet here; the writer is
a seam where an Iceberg catalog drops in — ``writeTo(...).append()`` —
when the runtime ships Iceberg jars; this sandbox has none, so the same
layout is produced with parquet + a JSON manifest). The manifest records
the input fingerprint (stage config + upstream manifest hash), so a
restart skips stages whose manifest matches — kill the job after stage N
and rerun: stages 1..N load from disk, only N+1.. recompute. Manifests
and per-partition completion records are written crash-atomically
(tmp + ``os.replace``); the partitioned triples stage resumes at
PARTITION granularity — completed ``part=`` values carry their own
completion record and are filter-pruned away on restart, so a SIGKILL
mid-write costs only the unfinished partitions (see ``StageWriter``).

``metrics`` is itself a table: one row per (stage, partition) with row
counts — the per-partition lineage the rule requires. For unpartitioned
stages the partition is the WRITE TASK and its count is read on the
driver from the footer of the ``part-NNNNN-*`` file that task wrote, so
each such stage commit costs exactly one Spark job (the write); for the
partitioned triples table it is the partition-column value, counted on
the driver from the footers of the files in that value's directory, so
that commit runs no count or schema job after the write either.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from dataclasses import dataclass
from pathlib import Path
from typing import Callable, Dict, Optional
from urllib.parse import unquote

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructType,
)

from ..operators.canonicalize import canonical_entities
from ..operators.linking import generate_candidates, score_links
from ..operators.ner import extract_mentions, mentions_with_ids
from ..operators.sentence_seg import documents_to_sentences
from ..operators.triples import materialize_triples


@dataclass
class PipelineConfig:
    output_dir: str
    weights_path: str
    fuzzy_linking: bool = False
    triple_parts: int = 64
    resume: bool = True
    # document-level fuzzy dedup (exact, then MinHash-LSH → CC → keep
    # one per duplicate cluster, ``fuzzy_dedup`` defaults) as a
    # resumable stage BEFORE extraction — the standard curation step of
    # web-corpus pipelines. Off by default: it CHANGES the output
    # (duplicate docs emit no triples), so it's an explicit
    # corpus-curation decision.
    dedup_docs: bool = False
    # write a kg_profile health report (triples.kg_profile: counts,
    # predicate histogram, out-degree Gini) beside the metrics table.
    # Off by default: it is a read-only QA artifact, not lineage.
    profile: bool = False


_PART_FILE = re.compile(r"part-(\d+)-")
# directory value Spark writes for a NULL or empty partition value
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _footer_rows(data_path: Path) -> Dict[str, int]:
    """Row counts per write task of an unpartitioned parquet directory,
    read on the driver from the footers of its ``part-NNNNN-*`` files
    (``NNNNN`` is the index of the task that wrote the file, i.e. the
    stage's physical partitioning as written). Footers already carry the
    counts, so lineage costs no Spark job — as an Iceberg commit records
    ``record_count`` per data file from the write itself."""
    import pyarrow.parquet as pq

    rows: Dict[str, int] = {}
    for f in sorted(data_path.glob("part-[0-9]*.parquet")):
        task = str(int(_PART_FILE.match(f.name).group(1)))
        rows[task] = rows.get(task, 0) + pq.read_metadata(f).num_rows
    return rows


def _partition_footer_rows(data_path: Path, column: str) -> Dict[str, int]:
    """Row counts per ``<column>=<raw>`` directory of a partitioned
    parquet table, keyed by the raw (still escaped) directory value and
    read on the driver from the footers of its ``part-*.parquet`` files
    — the partitioned twin of :func:`_footer_rows`."""
    import pyarrow.parquet as pq

    rows: Dict[str, int] = {}
    for d in sorted(data_path.glob(f"{column}=*")):
        raw = d.name[len(column) + 1:]
        rows[raw] = sum(
            pq.read_metadata(f).num_rows for f in d.glob("part-*.parquet")
        )
    return rows


def _partition_value(raw: str, dtype):
    """The Python value Spark's partition discovery reads back from the
    raw directory value ``raw`` of a column it typed ``dtype``: path
    escapes undone, the default partition (NULL and '') as None. Spark
    infers integral, double and string partition columns from directory
    names (booleans are read back as the strings 'true'/'false')."""
    if raw == _DEFAULT_PARTITION:
        return None
    raw = unquote(raw)
    if isinstance(dtype, (IntegerType, LongType)):
        return int(raw)
    if isinstance(dtype, DoubleType):
        return float(raw)
    if isinstance(dtype, StringType):
        return raw
    raise TypeError(f"partition column of type {dtype.simpleString()}")


def _atomic_write_json(path: Path, obj: dict) -> None:
    """Crash-atomic JSON write: tmp file in the same directory +
    ``os.replace`` (atomic on POSIX), so a reader never observes a torn
    manifest — a kill mid-write leaves either the old file or a stray
    ``.tmp`` that resume logic ignores."""
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(json.dumps(obj, indent=1))
    os.replace(tmp, path)


def _marker_name(column: str, value) -> str:
    """Filesystem-safe, collision-free completion-record filename for an
    arbitrary partition value: a readable sanitized prefix plus a hash
    of the CANONICAL JSON value (so ``a/b``, spaces, booleans and NULL
    all land as flat files that round-trip exactly — ``str(value)`` is
    neither filesystem-safe nor JSON-parseable in general)."""
    canon = json.dumps(value)
    safe = re.sub(r"[^0-9A-Za-z_.-]", "_", str(value))[:40]
    h = hashlib.sha256(canon.encode()).hexdigest()[:10]
    return f"{column}={safe}-{h}.json"


class StageWriter:
    """Parquet-backed stage store with manifest-based resume.

    Two granularities (SURVEY §4.2):

    * unpartitioned stages — stage-granular: a crash before the
      (atomic) manifest lands means the whole stage recomputes; the
      half-written data directory is overwritten. The commit is one
      Spark job, the write: the re-read takes the written DataFrame's
      schema instead of inferring it, and the manifest's per-partition
      counters are per write task, from the part files' parquet footers
      (local filesystem, like the manifests and the empty guard).
    * ``partition_by`` stages (the triples graph table) —
      PARTITION-granular: every completed partition value gets its own
      atomic completion record under ``<stage>.parts/``; on restart the
      completed partitions are filter-pruned away from the recompute and
      only the remainder is written (dynamic partition overwrite, set
      on the write itself, so finished partitions' files are never
      touched; the session's overwrite mode is never changed). The
      commit runs no count or schema job after the write: each completion
      record's count is the footer rows of its ``<col>=<value>``
      directory, its value is the directory name as the re-read's
      partition discovery types it, and the re-read is handed the data
      columns' schema instead of inferring it. A SIGKILL at any
      point — mid-job, between the job and the markers, mid-marker-loop
      — recovers to the identical table with no duplicated partitions,
      because (a) a partition without a marker is always rewritten
      (dynamic overwrite replaces any partial files it has), and (b) a
      partition with a marker is provably complete (markers are written
      only after the job that produced the partition committed).
    """

    def __init__(self, spark: SparkSession, root: str, resume: bool = True):
        self.spark = spark
        self.root = Path(root)
        self.resume = resume

    def _paths(self, stage: str):
        return self.root / stage, self.root / f"{stage}.manifest.json"

    def _parts_dir(self, stage: str) -> Path:
        return self.root / f"{stage}.parts"

    def fingerprint(self, stage: str, upstream: str) -> str:
        return hashlib.sha256(f"{stage}|{upstream}".encode()).hexdigest()[:16]

    def load_or_compute(
        self, stage: str, fingerprint: str, compute: Callable[[], DataFrame],
        partition_by: Optional[str] = None,
    ) -> DataFrame:
        data_path, man_path = self._paths(stage)
        if self.resume and man_path.exists():
            man = json.loads(man_path.read_text())
            if man.get("fingerprint") == fingerprint and man.get("status") == "complete":
                return self.spark.read.parquet(str(data_path))
        if partition_by:
            return self._compute_partitioned(
                stage, fingerprint, compute, partition_by
            )
        df = compute()
        df.write.mode("overwrite").parquet(str(data_path))
        self._empty_guard(data_path, df.schema)
        # the write is the commit's only Spark job: no schema-inference
        # job on the re-read, no count re-scan for the counters
        out = self.spark.read.schema(df.schema).parquet(str(data_path))
        self._finish_manifest(stage, fingerprint, _footer_rows(data_path))
        return out

    # -- partition-granular path (triples stage) ----------------------

    def done_parts(self, stage: str, fingerprint: str) -> Dict[str, int]:
        """Partition values with a completion record matching this
        fingerprint (a knob/upstream change invalidates every record).
        Keys are the CANONICAL JSON encoding of the partition value
        (``json.dumps``) so every JSON-representable value — strings,
        ints, booleans, NULL — round-trips exactly on restart."""
        pdir = self._parts_dir(stage)
        done: Dict[str, int] = {}
        if not pdir.is_dir():
            return done
        for f in pdir.glob("*.json"):
            try:
                rec = json.loads(f.read_text())
            except (ValueError, OSError):  # torn non-atomic leftovers
                continue
            if rec.get("fingerprint") == fingerprint:
                done[json.dumps(rec.get("value"))] = int(rec["rows"])
        return done

    def _compute_partitioned(
        self, stage: str, fingerprint: str, compute: Callable[[], DataFrame],
        partition_by: str,
    ) -> DataFrame:
        data_path, _ = self._paths(stage)
        pdir = self._parts_dir(stage)
        pdir.mkdir(parents=True, exist_ok=True)
        done = self.done_parts(stage, fingerprint) if self.resume else {}
        df = compute()
        if done:
            # resume: filter away completed partitions with a
            # not-a-completed-partition predicate on the partition
            # column (the value list is bounded by n_parts, a tiny
            # in-predicate; NULL is handled explicitly: isin() is NULL
            # on NULL input, never True/False) and overwrite ONLY the
            # remainder's directories; completed partitions' files are
            # untouched.
            done_vals = [json.loads(k) for k in done]
            nonnull = [v for v in done_vals if v is not None]
            col = F.col(partition_by)
            not_done = F.lit(True)
            if nonnull:
                not_done = ~F.coalesce(col.isin(nonnull), F.lit(False))
            if any(v is None for v in done_vals):
                not_done = not_done & col.isNotNull()
            df.filter(not_done).write.mode("overwrite") \
                .option("partitionOverwriteMode", "dynamic") \
                .partitionBy(partition_by).parquet(str(data_path))
        else:
            # first attempt (or full invalidation): static overwrite
            # clears stale directories from any previous fingerprint,
            # and stale completion records are dropped with them.
            for f in pdir.glob("*.json"):
                f.unlink()
            df.write.mode("overwrite") \
                .option("partitionOverwriteMode", "static") \
                .partitionBy(partition_by).parquet(str(data_path))
        self._empty_guard(data_path, df.schema)
        part_dirs = _partition_footer_rows(data_path, partition_by)
        # the data columns' schema skips the footer-inference job; the
        # partition column's type is still inferred from the directory
        # names on the driver. An empty stage has no partition
        # directory, only the guard's file, which holds every column.
        read_schema = df.schema
        if part_dirs:
            read_schema = StructType(
                [f for f in df.schema if f.name != partition_by]
            )
        out = self.spark.read.schema(read_schema).parquet(str(data_path))
        # completion records from the data that actually landed (exact
        # per-partition counters for lineage), one atomic file each,
        # counted from the part files' footers with each directory's
        # value parsed as the re-read infers it. Only the partitions
        # written THIS attempt get a record — a resume never re-reads
        # completed partitions (their counts come from their existing
        # markers).
        dtype = out.schema[partition_by].dataType
        parts_map: Dict[str, int] = dict(done)
        for raw, n in part_dirs.items():
            val = _partition_value(raw, dtype)
            key = json.dumps(val)
            if key in done:
                continue
            _atomic_write_json(
                pdir / _marker_name(partition_by, val),
                {
                    "stage": stage,
                    "column": partition_by,
                    "value": val,
                    "rows": n,
                    "fingerprint": fingerprint,
                },
            )
            parts_map[key] = n
        self._finish_manifest(stage, fingerprint, parts_map)
        return out

    def _empty_guard(self, data_path: Path, schema) -> None:
        # empty-stage guard: AQE's empty-relation optimization can emit
        # ZERO part files (not even a schema footer), which breaks every
        # later read with UNABLE_TO_INFER_SCHEMA. Write one empty,
        # schema-bearing file so downstream stages see an empty table.
        # (a partitioned stage's guard file is unpartitioned: it holds
        # every column, the partition column included)
        if not any(data_path.glob("**/*.parquet")):
            self.spark.createDataFrame([], schema).repartition(1) \
                .write.mode("overwrite").parquet(str(data_path))

    def _finish_manifest(
        self, stage: str, fingerprint: str, partitions: Dict[str, int]
    ) -> None:
        _, man_path = self._paths(stage)
        _atomic_write_json(
            man_path,
            {
                "stage": stage,
                "fingerprint": fingerprint,
                "status": "complete",
                "rows": sum(partitions.values()),
                "partitions": partitions,
            },
        )

    def manifest(self, stage: str) -> Optional[dict]:
        _, man_path = self._paths(stage)
        return json.loads(man_path.read_text()) if man_path.exists() else None


METRICS_SCHEMA = (
    "stage string, partition string, rows bigint, input_snapshot string"
)
_METRICS_COLS = ["stage", "partition", "rows", "input_snapshot"]


def _metrics_rows(store: "StageWriter", stages) -> list:
    """Lineage rows from stage manifests. Manifest partition keys are
    the CANONICAL-JSON partition value (``json.dumps``) for partitioned
    stages and ``str(int)`` write-task indices for unpartitioned ones; parse
    rather than ``int()`` so a string/bool/NULL-partitioned stage
    cannot crash the lineage table (round-6 VERDICT fix), and keep the
    column as the canonical-JSON string — injective for every
    JSON-representable partition value."""
    rows = []
    for stage in stages:
        man = store.manifest(stage) or {}
        for part, n in (man.get("partitions") or {}).items():
            try:
                canon = json.dumps(json.loads(part))
            except ValueError:
                canon = json.dumps(part)
            rows.append(
                {
                    "stage": stage,
                    "partition": canon,
                    "rows": int(n),
                    "input_snapshot": man.get("fingerprint", ""),
                }
            )
    return rows


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    cfg: PipelineConfig,
    aliases: DataFrame,
) -> Dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns stage DataFrames.

    ``aliases`` is the entity-linking dictionary,
    ``(surface_form, entity_id, prior)`` — e.g. ``load_alias_table`` over
    a names file, curated offline like any linking dictionary."""
    store = StageWriter(spark, cfg.output_dir, cfg.resume)
    fp0 = store.fingerprint("documents", cfg.weights_path)

    docs = store.load_or_compute("documents", fp0, lambda: documents)

    if cfg.dedup_docs:
        from ..operators.dedup import dedup_exact, fuzzy_dedup

        def _dedup() -> DataFrame:
            if "text" in docs.columns:
                flat = docs.select("doc_id", "text")
            else:  # interleaved schema: text lives in spans
                flat = docs.select(
                    "doc_id",
                    F.concat_ws(
                        "\n",
                        F.expr(
                            "transform(filter(spans, s -> s.kind = 'text'),"
                            " s -> s.text)"
                        ),
                    ).alias("text"),
                )
            # standard curation order: EXACT first (fingerprint groupBy —
            # catches identical docs regardless of length, including the
            # zero-shingle short docs fuzzy banding deliberately skips),
            # then MinHash fuzzy on the survivors
            flat = dedup_exact(flat)
            keep = fuzzy_dedup(flat).where(F.col("keep")).select("doc_id")
            return docs.join(keep, "doc_id", "left_semi")

        # the suffix names fuzzy_dedup's default MinHash setup; it stays
        # byte-identical so existing output dirs resume
        fp0 = store.fingerprint("docs_dedup", fp0 + ":exact+fuzzy:nh=8,b=4,k=3")
        docs = store.load_or_compute("docs_dedup", fp0, _dedup)

    fp_sent = store.fingerprint("sentences", fp0)
    sentences = store.load_or_compute(
        "sentences", fp_sent, lambda: documents_to_sentences(docs)
    )

    # ":dedup=True" is the suffix of the earlier two-path NER config; the
    # rows are unchanged, so it stays and existing dirs resume
    fp_men = store.fingerprint(
        "mentions", fp_sent + cfg.weights_path + ":dedup=True"
    )
    mentions = store.load_or_compute(
        "mentions",
        fp_men,
        lambda: mentions_with_ids(
            extract_mentions(sentences, cfg.weights_path)
        ),
    )

    # exact-only keeps its old suffix so existing dirs resume; the fuzzy
    # suffix names the exact prefix-filter join, so a dir written by
    # the earlier MinHash-LSH candidates recomputes
    fp_cand = store.fingerprint(
        "candidates", fp_men + ("True:prefix" if cfg.fuzzy_linking else "False")
    )
    candidates = store.load_or_compute(
        "candidates",
        fp_cand,
        lambda: generate_candidates(mentions, aliases, fuzzy=cfg.fuzzy_linking),
    )

    fp_links = store.fingerprint("links", fp_cand + "coh")
    links = store.load_or_compute(
        "links", fp_links, lambda: score_links(candidates, mentions=mentions)
    )

    fp_ent = store.fingerprint("entities", fp_links)
    entities = store.load_or_compute(
        "entities", fp_ent, lambda: canonical_entities(links)
    )

    fp_tri = store.fingerprint("triples", fp_ent + str(cfg.triple_parts))
    triples = store.load_or_compute(
        "triples",
        fp_tri,
        lambda: materialize_triples(
            mentions, links, entities, n_parts=cfg.triple_parts
        ),
        partition_by="part",
    )

    # metrics table: per-partition lineage + headline counters.
    # docs_dedup is included only when the CURRENT run has the stage
    # enabled — an output_dir that previously ran with dedup_docs=True
    # still holds that stage's manifest, and reporting it as part of a
    # dedup_docs=False run's lineage would be a lie.
    stages = ("sentences", "mentions", "candidates",
              "links", "entities", "triples")
    if cfg.dedup_docs:
        stages = ("docs_dedup",) + stages
    # a pandas frame plans as one LocalTableScan with Arrow on (no
    # Python-RDD tasks); written by one task as one file
    metrics = spark.createDataFrame(
        pd.DataFrame(_metrics_rows(store, stages), columns=_METRICS_COLS),
        METRICS_SCHEMA,
    )
    metrics.coalesce(1).write.mode("overwrite").parquet(
        str(Path(cfg.output_dir) / "metrics")
    )

    out = {
        "documents": docs,
        "sentences": sentences,
        "mentions": mentions,
        "candidates": candidates,
        "links": links,
        "entities": entities,
        "triples": triples,
        "metrics": metrics,
    }
    if cfg.profile:
        from ..operators.triples import kg_profile

        prof = kg_profile(triples)
        prof.write.mode("overwrite").parquet(
            str(Path(cfg.output_dir) / "kg_profile")
        )
        out["kg_profile"] = spark.read.parquet(
            str(Path(cfg.output_dir) / "kg_profile")
        )
    return out
