"""plans/pin.py: a partitioning-preserving checkpoint planned in a
private AQE-off clone session — it never writes the caller's conf, so
queries planned concurrently keep AQE; and pin is used only where a
later keyed join/aggregate reuses the checkpoint's partitioning."""

import ast
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from golden_horse_spark.plans.audit import n_exchanges, plan_string
from golden_horse_spark.plans.pin import pin

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "golden_horse_spark"


@pytest.mark.spark
def test_pin_writes_nothing_to_the_caller_conf(spark, monkeypatch):
    """Eager and lazy pins leave the caller's session conf untouched."""
    writes = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def rec_set(self, key, value):
        writes.append(("set", key))
        return real_set(self, key, value)

    def rec_unset(self, key):
        writes.append(("unset", key))
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", rec_set)
    monkeypatch.setattr(RuntimeConfig, "unset", rec_unset)
    df = spark.range(40).groupBy((F.col("id") % 5).alias("k")).count()
    assert pin(df).count() == 5
    assert pin(df, eager=False).count() == 5
    assert writes == []
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


@pytest.mark.spark
def test_queries_planned_during_pins_keep_aqe(spark):
    """A thread planning queries while the main thread pins must see
    AQE on in every plan — the pin's AQE-off planning is confined to
    its own clone session."""
    stop = threading.Event()
    plans = []

    def plan_loop():
        i = 0
        while not stop.is_set():
            q = spark.range(100).groupBy((F.col("id") % (i % 7 + 2)).alias("k")).count()
            plans.append(plan_string(q))
            i += 1

    t = threading.Thread(target=plan_loop)
    t.start()
    try:
        src = spark.range(200).groupBy((F.col("id") % 11).alias("k")).count()
        for _ in range(20):
            pin(src)
    finally:
        stop.set()
        t.join()
    assert plans
    no_aqe = [p for p in plans if "AdaptiveSparkPlan" not in p]
    assert not no_aqe, f"{len(no_aqe)} of {len(plans)} plans without AQE"


@pytest.mark.spark
def test_pin_keeps_runtime_conf_and_hash_partitioning(spark):
    """The clone carries the caller's runtime conf (shuffle partitions),
    and a co-partitioned join of two pinned frames plans no shuffle —
    where plain localCheckpoints under AQE re-shuffle."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold")
    prev = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = spark.range(60).withColumn("k", F.col("id") % 7)
        counts = base.groupBy("k").count()
        sums = base.groupBy("k").agg(F.sum("id").alias("s"))
        a, b = pin(counts), pin(sums, eager=False)
        assert a.rdd.getNumPartitions() == 3
        assert n_exchanges(a.join(b, "k"))["shuffle"] == 0
        assert a.join(b, "k").count() == 7
        plain = counts.localCheckpoint().join(sums.localCheckpoint(), "k")
        assert n_exchanges(plain)["shuffle"] >= 1
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


# Every top-level function that calls pin, with the key its checkpoint
# is hash-partitioned on and the consumer that reuses that partitioning.
# Anything else checkpoints with a stock df.localCheckpoint(eager).
PIN_SITES = {
    "__spark_entry__.py::queries": (
        "q_simhash_pairs: signatures on doc_id; the near part's "
        "(doc_a, doc_b, hamming) distinct when the band self-join "
        "broadcasts"
    ),
    "operators/canonicalize.py::connected_components": (
        "edges on b, labels on node; each round's sym.b = labels.node "
        "join and the node-keyed min-label regroup"
    ),
    "operators/graph.py::_arcs": (
        "arcs on the caller's probe key; the round join of every "
        "operator built on it"
    ),
    "operators/graph.py::pagerank": (
        "edge table on s, nodes/dangling/reset/ranks on node; each "
        "round's rank join on s and node-keyed left join"
    ),
    "operators/graph.py::k_core": (
        "degrees on node; each peel's decrement join on node"
    ),
    "operators/graph.py::core_numbers": (
        "core estimates on node; each round's neighbour join (node as b) "
        "and h-index join on node"
    ),
    "operators/graph.py::bfs_distances": (
        "distances and frontier on node; the next hop's anti-join on node"
    ),
    "operators/graph.py::label_propagation": (
        "edges on s, labels on node; each round's vote join s = node"
    ),
    "operators/graph.py::hits": (
        "arcs on s and on d, nodes and half-round scores on node; each "
        "half-round's arc join on the score's node key"
    ),
    "operators/graph.py::louvain": (
        "arcs on s, strengths on node; every sweep's degree aggregate on "
        "s and strength joins on node"
    ),
    "operators/graph.py::_ball_init": (
        "initial sketches on node; the first gather join (node as b)"
    ),
    "operators/graph.py::hyperball_profile": (
        "ball state on node; the next hop's gather join (node as b)"
    ),
    "operators/graph.py::strongly_connected_components": (
        "active/keep/colors/frontier on node, arcs on a, colored arcs on "
        "b; the trim, color and gather rounds' joins on those keys"
    ),
    "operators/graph.py::shortest_paths": (
        "arcs on a, distances on node; each hop's frontier.node = a join"
    ),
    "operators/graph.py::random_walks": (
        "adjacency and degrees on a, walk state on node; each step's "
        "state.node = a joins"
    ),
    "operators/graph.py::node2vec_walks": (
        "walk state on node; each step's candidate join on node"
    ),
    "operators/graph.py::betweenness_centrality": (
        "BFS levels and backward states on node; each level's arc join "
        "and (root, node) aggregates"
    ),
    "operators/graph.py::reachability": (
        "frontier on node; the next hop's arc join and anti-join"
    ),
    "operators/graph.py::wl_labels": (
        "labels on node; each round's neighbour join and node-keyed "
        "left join"
    ),
    "operators/graph.py::katz_centrality": (
        "arcs on s, nodes and scores on node; each round's s = node join "
        "and node-keyed left join"
    ),
    "operators/temporal.py::funnel": (
        "survivors on _u; the next step's events join on _u"
    ),
}


def _pin_users(path: Path, rel: str) -> set[str]:
    tree = ast.parse(path.read_text(encoding="utf-8"))
    names = {
        a.asname or a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").endswith("plans.pin")
        for a in node.names
        if a.name == "pin"
    }
    return {
        f"{rel}::{fn.name}"
        for fn in tree.body
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        and any(
            isinstance(n, ast.Name) and n.id in names for n in ast.walk(fn)
        )
    }


def test_pin_sites_are_the_allowlist():
    files = [(f, str(f.relative_to(PKG))) for f in sorted(PKG.rglob("*.py"))]
    files += [(REPO / n, n) for n in ("__spark_entry__.py", "bench.py")]
    found = set().union(*(_pin_users(f, rel) for f, rel in files))
    assert found == set(PIN_SITES)


def _aqe_sets(tree):
    """Receivers of every ``<x>.set("spark.sql.adaptive.enabled", ...)``."""
    return [
        ast.unparse(n.func.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "set"
        and n.args
        and isinstance(n.args[0], ast.Constant)
        and n.args[0].value == "spark.sql.adaptive.enabled"
    ]


def test_pin_module_is_stateless():
    """No lock and no write to the caller's conf: pin is the module's
    only public name, its one AQE switch is on the clone session, and no
    other package module sets AQE at runtime."""
    tree = ast.parse((PKG / "plans" / "pin.py").read_text(encoding="utf-8"))
    public = [
        n.name for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.ClassDef))
    ] + [
        t.id for n in tree.body if isinstance(n, ast.Assign)
        for t in n.targets if isinstance(t, ast.Name)
    ]
    assert [n for n in public if not n.startswith("_")] == ["pin"]
    assert "Lock" not in ast.unparse(tree)
    assert _aqe_sets(tree) == ["clone.conf()"]
    others = {
        str(f.relative_to(PKG)): _aqe_sets(ast.parse(f.read_text(encoding="utf-8")))
        for f in PKG.rglob("*.py")
        if f.name != "pin.py"
    }
    assert {k: v for k, v in others.items() if v} == {}
