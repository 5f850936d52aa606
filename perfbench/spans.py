"""Tracing from outside the program: spans around the calls into each layer,
Spark job groups per span, and the per-layer numbers derived from both.

A span is ``{name, op, parent, start, end, group}``. Every span's Spark jobs
run under its own job group (``SparkContext.setJobGroup``), so after the op
the group's jobs, stages and task metrics can be read back from Spark's
status tracker and status store; both work with ``spark.ui.enabled=false``
and cost no extra Spark action.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JJavaError

# stage store name in plans.pipeline -> layer name
PIPELINE_LAYERS = {
    "documents": "pipeline.documents",
    "sentences": "sentence_seg",
    "mentions": "ner",
    "candidates": "linking.candidates",
    "links": "linking.score",
    "entities": "canonicalize",
    "triples": "triples",
}
# graph.k_core runs after a traced kg op, on the co-occurrence graph of
# the op's committed triples, outside the op's wall time
KG_LAYERS = list(PIPELINE_LAYERS.values()) + ["graph.k_core"]
CANON_LAYERS = ["canonicalize", "graph.k_core"]
LAYER_FIELDS = ("wall_s", "task_s", "parallelism", "jobs", "tasks",
                "failed_tasks", "shuffle_mb", "rows_out", "stored_mb")


class Tracer:
    """Collects spans and per-group Spark counters in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self.groups: dict = {}  # group id -> counters
        self._stack: list = []

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{op}-{name}"
        rec = {"name": name, "op": op, "parent": parent["name"] if parent else None,
               "group": group, "start": time.perf_counter()}
        self._stack.append(rec)
        self.sc.setJobGroup(group, name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def collect_groups(self) -> None:
        """Read each finished span's jobs and stages from Spark's stores.
        Called after every op, before the stores evict old jobs."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self.spans:
            g = rec["group"]
            if g in self.groups:
                continue
            c = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
                 "run_ms": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0}
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(int(sid))
                    except Py4JJavaError:  # stage never submitted (skipped)
                        continue
                    if str(sd.status()) == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    c["failed_tasks"] += sd.numFailedTasks()
                    c["run_ms"] += sd.executorRunTime()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            self.groups[g] = c

    def layer_metrics(self, op: int, rows: dict, stored: dict) -> dict:
        """Per-layer numbers of one traced op for the layers in ``rows``;
        ``rows``/``stored`` map layer name to output rows and stored MB."""
        self.collect_groups()
        out = {}
        for layer in rows:
            spans = [s for s in self.spans if s["op"] == op and s["name"] == layer]
            wall = sum(s["end"] - s["start"] for s in spans)
            cs = [self.groups.get(s["group"], {}) for s in spans]
            task_s = sum(c.get("run_ms", 0) for c in cs) / 1000.0
            out[layer] = {
                "wall_s": wall,
                "task_s": task_s,
                "parallelism": task_s / wall if wall > 0 else 0.0,
                "jobs": sum(c.get("jobs", 0) for c in cs),
                "tasks": sum(c.get("tasks", 0) for c in cs),
                "failed_tasks": sum(c.get("failed_tasks", 0) for c in cs),
                "shuffle_mb": sum(c.get("shuffle_write_bytes", 0) for c in cs) / 2**20,
                "rows_out": rows[layer],
                "stored_mb": stored[layer],
            }
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans]
        path.write_text(json.dumps({"spans": spans, "groups": self.groups}, indent=1))

