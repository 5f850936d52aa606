"""KG-construction benchmark: one workload per run, in one process on
``local[N]`` (N = min(nproc, 4)).

    python3 perfbench/run.py --workload kg_unique_text --seed 1 --seconds 15 --trace 0

Each run generates its inputs from ``--seed`` (``gen.py``), starts one
SparkSession, runs one cold op, then a fixed number of timed ops (one per 15 s
of ``--seconds``, at least one), checks every op's committed output
(``checks.py``) and prints one JSON object as its last stdout line. The line
before it is a detailed report (settings, input properties, every op).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` times at least
three ops, untraced-traced-untraced, and reports the per-layer metrics
(``spans.py``); after a traced kg op it also takes ``graph.k_core`` of the
op's entity co-occurrence graph. The spans and Spark job-group counters are
written to ``.perfbench_work/traces/<workload>-seed<seed>.json``.

Workloads:

* ``kg_unique_text``: ``plans.pipeline.run_pipeline`` with exact linking over
  mention-dense, all-distinct sentences; NER does most of the work.
* ``kg_dup_fuzzy``: ``run_pipeline`` with ``fuzzy_linking=True`` over a few
  hundred boilerplate sentences and a hot surface form; most aliases miss an
  exact match, so MinHash-LSH candidate generation does most of the work.
* ``canon_fixpoint`` (not in BENCHMARK.json; a cold op takes 50-73 s and a
  warm one 34-49 s on 4 vCPU): ``canonical_entities`` on a link graph above
  the driver union-find ceiling, then ``graph.k_core``, both checked against
  closed forms.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
from gen import dir_mb  # noqa: E402
from spans import CANON_LAYERS, KG_LAYERS, LAYER_FIELDS, PIPELINE_LAYERS, Tracer  # noqa: E402

WORKLOADS = {
    "kg_unique_text": gen.KgSpec(n_docs=1024, distinct_sentences=None, given_chars=1, n_people=4096,
                                 clauses=1),
    "kg_dup_fuzzy": gen.KgSpec(
        n_docs=200, distinct_sentences=160, given_chars=2, n_people=320, hot_surface="张伟明",
        hot_every=10, fuzzy_aliases=True, alias_noise=50),
    "canon_fixpoint": gen.GraphSpec(
        n_chains=95_000, blocks=2, block_size=4, n_rings=9_500, ring_size=6,
        hub_chains=4_750),
}
WEIGHTS = ROOT / "fixtures" / "ner_weights.npz"
# timed ops per run: one per NOMINAL_OP_S of --seconds (a warm kg op takes
# 13-19 s on 4 vCPU), at least one; the count depends only on the arguments,
# never on how fast the host is. --trace 1 times at least three ops,
# untraced-traced-untraced, so the traced op is bracketed by untraced ones.
NOMINAL_OP_S = 15
# k of the k-core taken of each traced kg op's co-occurrence graph
KG_CORE_K = 3


def host_settings(run_dir: Path) -> tuple:
    """Environment and Spark conf that fit the run to the host without
    changing what the program computes."""
    cpus = min(len(os.sched_getaffinity(0)), 4)
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(ram_gib // 4)))}g",
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(run_dir / "tmp"),
    }
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # keep the JVM's temp files (and its perf-counter file) out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
    }
    return env, conf


class RssSampler:
    """Peak resident memory of this process and all its descendants, from
    ``/proc``, sampled every 250 ms on one background thread."""

    def __init__(self):
        self.peak = 0
        self.peak_parts: dict = {}  # at the peak: JVM MB, Python MB, processes
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20

    def _loop(self):
        while not self._stop.is_set():
            jvm = other = n = 0
            for pid in [os.getpid()] + descendants(os.getpid()):
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        rss = int(f.read().split()[1]) * self._page
                    with open(f"/proc/{pid}/comm") as f:
                        is_jvm = f.read().strip() == "java"
                except (OSError, ValueError, IndexError):
                    continue
                n += 1
                if is_jvm:
                    jvm += rss
                else:
                    other += rss
            if jvm + other > self.peak:
                self.peak = jvm + other
                self.peak_parts = {"jvm_mb": jvm / 2**20, "python_mb": other / 2**20, "processes": n}
            self._stop.wait(0.25)


def cpu_times() -> list:
    """Host-wide CPU jiffies from ``/proc/stat``: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_cpu(before: list, after: list) -> dict:
    """Shares of host CPU time over the run: busy, and stolen by other
    guests on the same machine (a steal share of a few percent or more
    slows every op and explains outlying runs)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy_share": round((total - d[3] - d[4] - d[7]) / total, 4),
            "steal_share": round(d[7] / total, 4)}


def _state_ppid(pid: int):
    """(state, parent pid) from ``/proc/<pid>/stat``; None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat[stat.rfind(")") + 2:].split()
    return fields[0], int(fields[1])


def _alive(pids: list) -> list:
    return [p for p in pids if (s := _state_ppid(p)) is not None and s[0] != "Z"]


def descendants(root: int) -> list:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (s := _state_ppid(int(entry))) is not None and s[0] != "Z":
            children.setdefault(s[1], []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def start_session(conf: dict):
    from golden_horse_spark.config import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and the Python workers, and wait until
    every process this run started has exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            jvm = getattr(gateway, "proc", None)
            if jvm is not None:
                jvm.stdin.close()
                try:
                    jvm.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait(timeout=30)
        deadline = time.monotonic() + 30
        while _alive(procs) and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in _alive(procs):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# --------------------------------------------------------------- workloads


class KgWorkload:
    """``run_pipeline`` over generated documents with an explicit alias
    table and the parquet stage store, a fresh output dir per op."""

    def __init__(self, name: str, spark, run_dir: Path, seed: int):
        from golden_horse_spark.operators.ner import warm_workers

        self.name, self.spark, self.run_dir, self.seed = name, spark, run_dir, seed
        spec = WORKLOADS[name]
        self.fuzzy = spec.fuzzy_aliases
        inp = run_dir / "input"
        t0 = time.perf_counter()
        made = gen.kg_corpus(spec, seed, inp)
        self.props, self.texts = made["props"], made["texts"]
        self.alias_forms, self.hot = made["alias_forms"], spec.hot_surface
        self.input_mb = dir_mb(inp)
        self.docs = spark.read.parquet(str(inp / "docs.parquet"))
        self.aliases = spark.read.parquet(str(inp / "aliases.parquet"))
        t1 = time.perf_counter()
        warm_workers(spark, str(WEIGHTS))
        self.setup_parts = {"inputs_s": t1 - t0, "warm_workers_s": time.perf_counter() - t1}
        recorded = json.loads((HERE / "digests.json").read_text())
        self.digest_want = recorded.get(name, {}).get(str(seed))
        self.digest_seen = None

    def op(self, i: int, tracer: Tracer | None) -> dict:
        from golden_horse_spark.plans import pipeline

        out = self.run_dir / f"op{i}"
        cfg = pipeline.PipelineConfig(output_dir=str(out), weights_path=str(WEIGHTS),
                                      fuzzy_linking=self.fuzzy)
        orig = pipeline.StageWriter.load_or_compute
        if tracer is not None:
            def traced(store, stage, *a, **k):
                with tracer.span(PIPELINE_LAYERS[stage], i):
                    return orig(store, stage, *a, **k)
            pipeline.StageWriter.load_or_compute = traced
        try:
            t0 = time.perf_counter()
            with span(tracer, "pipeline", i):
                pipeline.run_pipeline(self.spark, self.docs, cfg, aliases=self.aliases)
            wall = time.perf_counter() - t0
        finally:
            pipeline.StageWriter.load_or_compute = orig
        t_check = time.perf_counter()
        try:
            tables = checks.read_pipeline_tables(out)
            res = checks.check_pipeline(tables, self.texts, cfg.triple_parts)
            if self.fuzzy and i == 0:
                # mentions no alias matches exactly go through the LSH pass
                surface = tables["mentions"]["surface"]
                lsh = surface[~surface.isin(self.alias_forms)]
                self.props["lsh_pass_mentions"] = len(lsh)
                self.props["lsh_pass_hot_share"] = round(float((lsh == self.hot).mean()), 4)
            want = self.digest_want or self.digest_seen
            checks.require(want is None or res["mentions_digest"] == want,
                            f"mentions digest {res['mentions_digest']} != {want}")
            self.digest_seen = res["mentions_digest"]
            res["digest_recorded"] = self.digest_want is not None
            if tracer is not None:
                res.update(self.trace_layers(i, wall, out, tables["triples"], tracer))
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return {"wall_s": wall, "check_s": time.perf_counter() - t_check, "output": res["triples"], **res}

    def trace_layers(self, i: int, wall: float, out: Path, triples, tracer: Tracer) -> dict:
        """Per-layer numbers of a traced op, after ``graph.k_core`` of the
        entity co-occurrence graph read back from the op's triples."""
        from golden_horse_spark.operators.graph import k_core
        from pyspark.sql import functions as F

        rows, stored = {}, {}
        for stage, layer in PIPELINE_LAYERS.items():
            man = json.loads((out / f"{stage}.manifest.json").read_text())
            rows[layer] = man["rows"]
            stored[layer] = dir_mb(out / stage) + dir_mb(out / f"{stage}.parts")
        stored_mb = dir_mb(out)
        edges = (self.spark.read.parquet(str(out / "triples"))
                 .where(F.col("pred") == "co_occurs_with")
                 .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
        with tracer.span("graph.k_core", i):
            k_core(edges, k=KG_CORE_K).write.parquet(str(out / "core"))
        co = triples[triples["pred"] == "co_occurs_with"].rename(columns={"subj": "src", "obj": "dst"})
        rows["graph.k_core"] = checks.check_k_core(co, checks.read_table(out / "core"), KG_CORE_K)
        stored["graph.k_core"] = dir_mb(out / "core")
        layers = tracer.layer_metrics(i, rows, stored)
        return {**op_shares(layers, list(PIPELINE_LAYERS.values()), wall),
                "stored_mb": stored_mb, "candidates": rows["linking.candidates"]}

    def derived(self, res: dict) -> dict:
        men, cand = res["mentions"], res["candidates"]
        return {
            "pipeline.stored_mb_per_input_mb": res["stored_mb"] / self.input_mb,
            "linking.candidates_per_mention": cand / men if men else 0.0,
            "linking.links_per_candidate": res["links"] / cand if cand else 0.0,
        }


class CanonWorkload:
    """``canonical_entities`` then ``k_core`` on a generated link graph."""

    def __init__(self, name: str, spark, run_dir: Path, seed: int):
        self.spark, self.run_dir = spark, run_dir
        inp = run_dir / "input"
        t0 = time.perf_counter()
        made = gen.link_graph(WORKLOADS[name], seed, inp)
        self.props, self.expect = made["props"], made["expect"]
        self.input_mb = dir_mb(inp)
        self.links = spark.read.parquet(str(inp / "links.parquet"))
        self.edges = spark.read.parquet(str(inp / "edges.parquet"))
        self.setup_parts = {"inputs_s": time.perf_counter() - t0}

    def op(self, i: int, tracer: Tracer | None) -> dict:
        from golden_horse_spark.operators.canonicalize import canonical_entities
        from golden_horse_spark.operators.graph import k_core

        out = self.run_dir / f"op{i}"
        t0 = time.perf_counter()
        with span(tracer, "canonicalize", i):
            canonical_entities(self.links).write.parquet(str(out / "entities"))
        with span(tracer, "graph.k_core", i):
            k_core(self.edges, k=2).write.parquet(str(out / "core"))
        wall = time.perf_counter() - t0
        try:
            ents, core = checks.read_table(out / "entities"), checks.read_table(out / "core")
            res = checks.check_canon(ents, core, self.expect)
            if tracer is not None:
                rows = {"canonicalize": len(ents), "graph.k_core": len(core)}
                stored = {"canonicalize": dir_mb(out / "entities"), "graph.k_core": dir_mb(out / "core")}
                res.update(op_shares(tracer.layer_metrics(i, rows, stored), CANON_LAYERS, wall))
                res["stored_mb"] = dir_mb(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return {"wall_s": wall, "output": self.props["links"], **res}

    def derived(self, res: dict) -> dict:
        return {"pipeline.stored_mb_per_input_mb": res["stored_mb"] / self.input_mb}


# --------------------------------------------------------------- runs


def op_shares(layers: dict, in_op: list, wall: float) -> dict:
    """The layers, the op's time outside the ``in_op`` layer spans, and
    the ``in_op`` layer with the largest share of the op's wall time."""
    top = max(in_op, key=lambda l: layers[l]["wall_s"])
    return {"layers": layers, "self_s": wall - sum(layers[l]["wall_s"] for l in in_op),
            "top_layer": top, "top_share": layers[top]["wall_s"] / wall}


def span(tracer: Tracer | None, name: str, op: int):
    return tracer.span(name, op) if tracer is not None else nullcontext()


def run_op(wl, i: int, tracer: Tracer | None, ops: list) -> None:
    try:
        rec = wl.op(i, tracer)
        rec["ok"] = True
    except Exception as e:  # an op that raises or fails its check counts as failed
        rec = {"ok": False, "error": f"{type(e).__name__}: {e}"[:500]}
    rec.update(op=i, traced=tracer is not None)
    ops.append(rec)


def median_layers(results: list, layers: list) -> dict:
    """Per-layer metrics: the median over traced ops of every field."""
    out = {}
    for layer in layers:
        for field in LAYER_FIELDS:
            out[f"{layer}.{field}"] = statistics.median(r["layers"][layer][field] for r in results)
    out["pipeline.self_s"] = statistics.median(r["self_s"] for r in results)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    cpu_start = cpu_times()

    checks.self_test()  # a checker that accepts wrong output must not run
    if not WEIGHTS.exists():
        print(f"perfbench: program not found: {WEIGHTS} is missing", file=sys.stderr)
        return 2
    run_dir = WORK / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    env, conf = host_settings(run_dir)
    for d in ("tmp", "spark-local"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    sys.path.insert(0, str(ROOT))
    try:
        import golden_horse_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not found: {e}", file=sys.stderr)
        return 2

    sampler = RssSampler().start()
    spark = None
    ops: list = []
    try:
        spark = start_session(conf)
        session_s = time.perf_counter() - t_start
        cls = CanonWorkload if args.workload == "canon_fixpoint" else KgWorkload
        wl = cls(args.workload, spark, run_dir, args.seed)
        # the first op pays codegen, JIT and worker start: it is the warm-up
        run_op(wl, 0, None, ops)
        setup_s = time.perf_counter() - t_start
        tracer = Tracer(spark) if args.trace else None

        n_timed = max(1, round(args.seconds / NOMINAL_OP_S))
        if args.trace:
            n_timed = max(3, n_timed)
        for i in range(1, n_timed + 1):
            run_op(wl, i, tracer if args.trace and i % 2 == 0 else None, ops)
    finally:
        if spark is not None:
            stop_session(spark)
        peak_rss_mb = sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not o["ok"] for o in ops)
    cold = ops[0]
    timed = [o for o in ops[1:] if o["ok"]]
    untraced = [o for o in timed if not o["traced"]]
    traced_ops = [o for o in timed if o["traced"]]
    run_s = statistics.median(o["wall_s"] for o in untraced) if untraced else 0.0
    output = untraced[0]["output"] if untraced else 0
    kg = args.workload != "canon_fixpoint"
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_run_s": (cold.get("wall_s", 0.0), "s"),
        "run_s": (run_s, "s"),
        ("triples_per_s" if kg else "links_per_s"): (output / run_s if run_s else 0.0, "1/s"),
        "success_rate": (1 - failed / len(ops), "ratio"),
    }
    if args.trace:
        layers = KG_LAYERS if kg else CANON_LAYERS
        per_layer = median_layers(traced_ops, layers) if traced_ops else {}
        if traced_ops:
            per_layer.update({k: statistics.median(wl.derived(o)[k] for o in traced_ops)
                              for k in wl.derived(traced_ops[0])})
            per_layer["trace.overhead_s"] = (
                statistics.median(o["wall_s"] for o in traced_ops) - run_s)
        per_layer["process.peak_rss_mb"] = peak_rss_mb
        units = {"wall_s": "s", "task_s": "s", "parallelism": "ratio", "jobs": "count",
                 "tasks": "count", "failed_tasks": "count", "shuffle_mb": "MB",
                 "rows_out": "rows", "stored_mb": "MB", "self_s": "s", "overhead_s": "s",
                 "stored_mb_per_input_mb": "ratio", "candidates_per_mention": "ratio",
                 "links_per_candidate": "ratio", "peak_rss_mb": "MB"}
        metrics = {k: {"value": v, "unit": units[k.rsplit(".", 1)[1]]} for k, v in per_layer.items()}
        tracer.dump(WORK / "traces" / f"{args.workload}-seed{args.seed}.json")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "settings": {**env, **conf, "master": f"local[{env['SPARK_GRAFT_CPUS']}]"},
        "inputs": wl.props,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "error_rate": failed / len(ops),
        "peak_rss_mb": peak_rss_mb,
        "run_s_ops": len(untraced),
        "peak_rss_parts": sampler.peak_parts,
        "host_cpu": host_cpu(cpu_start, cpu_times()),
        "setup_parts": {"session_s": session_s, **wl.setup_parts, "cold_op_s": cold.get("wall_s", 0.0)},
        "ops": [{k: v for k, v in o.items() if k != "layers"} for o in ops],
    }
    if args.trace and traced_ops:
        tops = [o["top_layer"] for o in traced_ops]
        report["top_layer"] = max(set(tops), key=tops.count)
        report["top_layer_share"] = statistics.median(o["top_share"] for o in traced_ops)
    print(json.dumps({"perfbench": report}, ensure_ascii=False, default=str))
    print(json.dumps({"correct": failed == 0 and bool(untraced), "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
