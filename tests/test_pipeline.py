"""Full KG pipeline: stage outputs, invariants, checkpoint/resume."""

import dataclasses
import hashlib
import json
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from golden_horse_spark.plans.pipeline import PipelineConfig, run_pipeline
from golden_horse_spark.sources.documents import synthesize_documents

pytestmark = pytest.mark.spark

_ALIAS_SURFACES = ("张三", "李四", "北京", "上海", "刘德华",
                   "清华大学", "中国", "国家博物馆", "王小明")
ALIAS_DDL = "surface_form string, entity_id string, prior double"


def alias_rows(surfaces=_ALIAS_SURFACES):
    """``(surface_form, entity_id, prior)`` rows: one entity per surface,
    prior 1.0 — the alias table every ``run_pipeline`` call here passes."""
    return [(s, f"e{i}", 1.0) for i, s in enumerate(surfaces)]


def alias_table(spark, surfaces=_ALIAS_SURFACES):
    return spark.createDataFrame(alias_rows(surfaces), ALIAS_DDL)


@pytest.fixture(scope="module")
def pipeline_out(spark, weights_path, tmp_path_factory):
    out = tmp_path_factory.mktemp("kg")
    docs = synthesize_documents(spark, 120, seed=5, partitions=4)
    cfg = PipelineConfig(
        output_dir=str(out), weights_path=weights_path, triple_parts=8,
    )
    stages = run_pipeline(spark, docs, cfg, aliases=alias_table(spark))
    return out, cfg, stages, docs


def test_all_stages_nonempty(pipeline_out):
    _, _, stages, _ = pipeline_out
    for name in ("sentences", "mentions", "candidates", "links", "entities", "triples"):
        assert stages[name].count() > 0, name


def test_triple_subjects_are_canonical_entities(pipeline_out):
    _, _, stages, _ = pipeline_out
    subs = stages["triples"].select(F.col("subj").alias("c")).distinct()
    ents = stages["entities"].select(F.col("canonical_id").alias("c")).distinct()
    assert subs.join(ents, "c", "left_anti").count() == 0


def test_span_sequence_equality_invariant(pipeline_out):
    """input_hint invariant: the pipeline never mutates the documents'
    span sequences (kind, text, media_ref, order)."""
    _, _, stages, docs_in = pipeline_out
    before = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in docs_in.collect()
    }
    after = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in stages["documents"].collect()
    }
    assert before == after


def test_metrics_have_per_partition_rows(pipeline_out):
    out, _, stages, _ = pipeline_out
    metrics = stages["metrics"].collect()
    stages_seen = {r["stage"] for r in metrics}
    assert {"mentions", "links", "triples"} <= stages_seen
    men_total = sum(r["rows"] for r in metrics if r["stage"] == "mentions")
    assert men_total == stages["mentions"].count()
    # the lineage table is written by one task, as one file
    assert len(list((Path(out) / "metrics").glob("part-*.parquet"))) == 1


def test_resume_skips_recompute_and_is_identical(
    pipeline_out, spark, weights_path, tmp_path
):
    out, cfg, stages, docs = pipeline_out
    before = {tuple(r) for r in stages["triples"].drop("part").collect()}
    # tamper a manifest downstream of mentions: links must recompute,
    # mentions must load from disk
    man = json.loads((Path(out) / "links.manifest.json").read_text())
    man["status"] = "incomplete"
    (Path(out) / "links.manifest.json").write_text(json.dumps(man))
    stages2 = run_pipeline(spark, docs, cfg, aliases=alias_table(spark))
    after = {tuple(r) for r in stages2["triples"].drop("part").collect()}
    assert before == after

    # candidates fingerprint: an exact-only dir keeps its suffix (and
    # resumes); a dir whose fuzzy candidates came from the earlier
    # MinHash-LSH pass (suffix "True") recomputes them
    def manifest(d, stage):
        return json.loads((Path(d) / f"{stage}.manifest.json").read_text())

    def cand_fp(suffix):
        up = f"candidates|{manifest(out, 'mentions')['fingerprint']}{suffix}"
        return hashlib.sha256(up.encode()).hexdigest()[:16]

    assert manifest(out, "candidates")["fingerprint"] == cand_fp("False")
    lsh_dir = tmp_path / "lsh"
    shutil.copytree(out, lsh_dir)
    man = manifest(lsh_dir, "candidates")
    man["fingerprint"] = cand_fp("True")
    (lsh_dir / "candidates.manifest.json").write_text(json.dumps(man))
    mentions_mtime = (lsh_dir / "mentions.manifest.json").stat().st_mtime
    run_pipeline(
        spark, docs,
        dataclasses.replace(cfg, output_dir=str(lsh_dir), fuzzy_linking=True),
        aliases=alias_table(spark),
    )
    assert manifest(lsh_dir, "candidates")["fingerprint"] not in (
        cand_fp("True"), cand_fp("False")
    )
    assert (lsh_dir / "mentions.manifest.json").stat().st_mtime == mentions_mtime


def test_full_pipeline_deterministic_across_partitionings(spark, weights_path):
    """Same seed + input at different partition counts ⇒ identical triples
    (SURVEY.md §5.2.5). Exercises determinism of every stage incl. CC
    min-labels and link tie-breaks."""
    from golden_horse_spark.operators.canonicalize import canonical_entities
    from golden_horse_spark.operators.linking import generate_candidates, score_links
    from golden_horse_spark.operators.ner import extract_mentions, mentions_with_ids
    from golden_horse_spark.operators.sentence_seg import documents_to_sentences
    from golden_horse_spark.operators.triples import materialize_triples

    aliases = spark.createDataFrame(
        [{"surface_form": s, "entity_id": f"e{i}", "prior": 1.0}
         for i, s in enumerate(["张三", "北京", "上海", "刘德华", "中国"])]
    )

    def run(partitions):
        docs = synthesize_documents(spark, 80, seed=3, partitions=partitions)
        mentions = mentions_with_ids(
            extract_mentions(documents_to_sentences(docs), weights_path)
        )
        links = score_links(generate_candidates(mentions, aliases))
        entities = canonical_entities(links)
        triples = materialize_triples(mentions, links, entities, n_parts=8)
        return {tuple(r) for r in triples.collect()}

    assert run(2) == run(9)


def test_triples_partitioned_layout(pipeline_out):
    out, _, _, _ = pipeline_out
    parts = list((Path(out) / "triples").glob("part=*"))
    assert len(parts) > 1


def test_empty_corpus_pipeline_completes(spark, weights_path, tmp_path_factory):
    """Zero-document input: every stage (including the PARTITIONED
    triples table, whose empty write produces no part files without the
    guard) must materialize a readable empty table and the pipeline must
    complete — regression for the AQE empty-relation/partitionBy case
    found driving spark-submit."""
    out = tmp_path_factory.mktemp("empty_pipe")
    docs = synthesize_documents(spark, 50, seed=5, partitions=2).where(
        F.lit(False)
    )
    stages = run_pipeline(
        spark,
        docs,
        PipelineConfig(output_dir=str(out), weights_path=weights_path),
        aliases=alias_table(spark),
    )
    for name in ("sentences", "mentions", "candidates", "links", "entities",
                 "triples"):
        assert stages[name].count() == 0, name
    assert "part" in stages["triples"].columns
    # resume over the empty checkpoints also works
    stages2 = run_pipeline(
        spark,
        docs,
        PipelineConfig(output_dir=str(out), weights_path=weights_path),
        aliases=alias_table(spark),
    )
    assert stages2["triples"].count() == 0


def _crash_run(out, weights_path, kill_after):
    """Run the pipeline in a subprocess that SIGKILLs itself after
    ``kill_after`` per-partition triples completion records."""
    import os
    import subprocess
    import sys

    cfg = {
        "n_docs": 120, "seed": 5, "partitions": 4,
        "output_dir": str(out), "weights_path": weights_path,
        "aliases": alias_rows(), "alias_ddl": ALIAS_DDL,
        "triple_parts": 8,
    }
    repo_root = str(Path(__file__).resolve().parent.parent)
    env = {
        **os.environ,
        "GH_KILL_AFTER_MARKERS": str(kill_after),
        "PYTHONPATH": repo_root + os.pathsep + os.environ.get("PYTHONPATH", ""),
    }
    proc = subprocess.run(
        [sys.executable, str(Path(__file__).parent / "crash_driver.py"),
         json.dumps(cfg)],
        env=env, capture_output=True, timeout=900, text=True,
    )
    assert proc.returncode == -9, (proc.returncode, proc.stderr[-2000:])
    return cfg


def _restart_and_check(spark, weights_path, out, reference_rows):
    """Resume the killed run in-process; assert value-identical triples,
    matching per-partition counters, and no torn artifacts."""
    docs = synthesize_documents(spark, 120, seed=5, partitions=4)
    cfg = PipelineConfig(
        output_dir=str(out), weights_path=weights_path, triple_parts=8,
    )
    stages = run_pipeline(spark, docs, cfg, aliases=alias_table(spark))
    got = {tuple(r) for r in stages["triples"].collect()}
    assert got == reference_rows
    # per-partition completion records agree with the actual table and
    # the manifest — and every part dir is marked exactly once
    man = json.loads((Path(out) / "triples.manifest.json").read_text())
    assert man["status"] == "complete"
    counts = {
        r["part"]: r["count"]
        for r in stages["triples"].groupBy("part").count().collect()
    }
    markers = {}
    for f in (Path(out) / "triples.parts").glob("*.json"):
        rec = json.loads(f.read_text())
        assert rec["value"] not in markers, "duplicated completion record"
        markers[rec["value"]] = rec["rows"]
    assert markers == counts
    assert {int(k): v for k, v in man["partitions"].items()} == counts
    part_dirs = {
        int(p.name.split("=")[1])
        for p in (Path(out) / "triples").glob("part=*")
    }
    assert part_dirs == set(counts)
    # crash-atomicity: no torn .tmp manifests anywhere
    assert not list(Path(out).glob("**/*.tmp"))
    return stages


def test_crash_before_any_marker_recovers(
    pipeline_out, spark, weights_path, tmp_path_factory
):
    """SIGKILL between the triples data job and the first completion
    record: restart must rebuild the stage (no marker = not trusted) and
    land the identical table."""
    _, _, ref_stages, _ = pipeline_out
    reference = {tuple(r) for r in ref_stages["triples"].collect()}
    out = tmp_path_factory.mktemp("crash0")
    _crash_run(out, weights_path, kill_after=0)
    # the kill point: data fully written, zero markers, no manifest
    assert not (Path(out) / "triples.manifest.json").exists()
    assert not list((Path(out) / "triples.parts").glob("*.json"))
    # simulate a leftover from a kill mid-JOB too: a torn data file in a
    # part dir — the full rewrite (static overwrite) must clear it
    torn = Path(out) / "triples" / "part=0" / "part-torn.snappy.parquet"
    torn.parent.mkdir(parents=True, exist_ok=True)
    torn.write_bytes(b"\x00not parquet")
    _restart_and_check(spark, weights_path, out, reference)
    assert not torn.exists()


def test_crash_mid_marker_loop_resumes_partition_granular(
    pipeline_out, spark, weights_path, tmp_path_factory
):
    """SIGKILL after 2 of the per-partition completion records: restart
    must keep the marked partitions' files UNTOUCHED (partition-granular
    resume, not a stage rebuild), rewrite only unmarked partitions
    (clearing any torn file they hold), and land the identical table."""
    _, _, ref_stages, _ = pipeline_out
    reference = {tuple(r) for r in ref_stages["triples"].collect()}
    out = tmp_path_factory.mktemp("crash2")
    _crash_run(out, weights_path, kill_after=2)
    marked = {
        json.loads(f.read_text())["value"]
        for f in (Path(out) / "triples.parts").glob("*.json")
    }
    assert len(marked) == 2
    assert not (Path(out) / "triples.manifest.json").exists()
    # snapshot the marked partitions' data files (name, size, mtime_ns)
    def _snap(part):
        return sorted(
            (p.name, p.stat().st_size, p.stat().st_mtime_ns)
            for p in (Path(out) / "triples" / f"part={part}").glob("*.parquet")
        )
    before = {p: _snap(p) for p in marked}
    # torn leftover in an UNMARKED partition: dynamic overwrite of that
    # partition must replace its directory wholesale (pick a partition
    # that actually has rows — an empty part value never gets a dir)
    existing = {
        int(p.name.split("=")[1])
        for p in (Path(out) / "triples").glob("part=*")
    }
    unmarked = sorted(existing - marked)[0]
    torn = Path(out) / "triples" / f"part={unmarked}" / "part-torn.parquet"
    torn.parent.mkdir(parents=True, exist_ok=True)
    torn.write_bytes(b"\x00not parquet")
    _restart_and_check(spark, weights_path, out, reference)
    assert not torn.exists()
    for p in marked:
        assert _snap(p) == before[p], f"marked part={p} was rewritten"


def test_dedup_docs_stage(spark, weights_path, tmp_path_factory):
    """cfg.dedup_docs inserts a resumable fuzzy-dedup stage: duplicate
    documents emit no downstream rows, exactly one representative per
    duplicate cluster survives, and the stage manifests + resumes like
    any other."""
    out = tmp_path_factory.mktemp("kg_dedup")
    base = synthesize_documents(spark, 40, seed=7, partitions=4)
    # duplicate every doc once under a fresh id (dup_ prefix sorts AFTER
    # the originals, so the min-id representative is always the original)
    dups = base.select(
        F.concat(F.lit("dup_"), F.col("doc_id")).alias("doc_id"), "spans"
    )
    docs = base.unionByName(dups)
    cfg = PipelineConfig(
        output_dir=str(out),
        weights_path=weights_path,
        triple_parts=4,
        dedup_docs=True,
    )
    aliases = alias_table(spark, ("张三", "北京", "上海"))
    stages = run_pipeline(spark, docs, cfg, aliases=aliases)

    kept = [r["doc_id"] for r in stages["sentences"].select("doc_id").distinct().collect()]
    assert kept and all(not d.startswith("dup_") for d in kept)
    assert stages["triples"].where(F.col("doc_id").startswith("dup_")).count() == 0

    man = json.loads((out / "docs_dedup.manifest.json").read_text())
    # every dup_ copy collapses onto its original (min id); base docs
    # sharing pool sentences may merge further, so <= 40
    assert man["status"] == "complete" and 0 < man["rows"] <= 40
    # the dedup stage appears in the per-partition metrics table
    m = spark.read.parquet(str(out / "metrics"))
    assert m.where(F.col("stage") == "docs_dedup").count() > 0

    # resume: identical triples, stage not recomputed (manifest mtime fixed)
    mtime = (out / "docs_dedup.manifest.json").stat().st_mtime
    t1 = {tuple(r) for r in stages["triples"].collect()}
    stages2 = run_pipeline(spark, docs, cfg, aliases=aliases)
    t2 = {tuple(r) for r in stages2["triples"].collect()}
    assert t1 == t2
    assert (out / "docs_dedup.manifest.json").stat().st_mtime == mtime


def test_dedup_docs_resume_and_lineage(spark, weights_path, tmp_path_factory):
    """A same-config rerun resumes the docs_dedup stage, and a
    dedup_docs=False rerun over the same output_dir must not report the
    leftover docs_dedup manifest in its metrics."""
    import inspect

    from golden_horse_spark.operators.dedup import fuzzy_dedup, resolve_bands

    # the stage fingerprint spells out fuzzy_dedup's defaults
    # (":nh=8,b=4,k=3"); a change to them must change it too
    d = inspect.signature(fuzzy_dedup).parameters
    assert (d["num_hashes"].default, d["k"].default) == (8, 3)
    assert resolve_bands(8, d["bands"].default, d["threshold"].default) == 4

    out = tmp_path_factory.mktemp("kg_dedup_resume")
    docs = synthesize_documents(spark, 25, seed=11, partitions=2)
    kw = dict(
        output_dir=str(out),
        weights_path=weights_path,
        triple_parts=2,
        dedup_docs=True,
    )
    aliases = alias_table(spark)
    run_pipeline(spark, docs, PipelineConfig(**kw), aliases=aliases)
    man_path = out / "docs_dedup.manifest.json"
    mtime1 = man_path.stat().st_mtime

    # same config → resume (manifest mtime unchanged)
    run_pipeline(spark, docs, PipelineConfig(**kw), aliases=aliases)
    assert man_path.stat().st_mtime == mtime1

    # dedup_docs=False over the same dir: stale manifest stays on disk
    # but is NOT part of this run's reported lineage
    kw_off = dict(kw, dedup_docs=False)
    run_pipeline(spark, docs, PipelineConfig(**kw_off), aliases=aliases)
    assert man_path.exists()
    m = spark.read.parquet(str(out / "metrics"))
    assert m.where(F.col("stage") == "docs_dedup").count() == 0


def test_cli_runs_with_aliases_file(spark, tmp_path):
    """tools/run_pipeline.py end to end in its own process: the alias
    table comes from the required --aliases names file."""
    import os
    import subprocess
    import sys

    names = tmp_path / "names.txt"
    names.write_text(
        "".join(f"{s} 10 nr\n" for s in _ALIAS_SURFACES), encoding="utf-8"
    )
    out = tmp_path / "kg"
    repo_root = Path(__file__).resolve().parent.parent
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "2g"}
    proc = subprocess.run(
        [sys.executable, str(repo_root / "tools" / "run_pipeline.py"),
         "--synthesize", "20", "--aliases", str(names), "--output", str(out)],
        env=env, capture_output=True, timeout=900, text=True,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    metrics = spark.read.parquet(str(out / "metrics")).collect()
    assert {"mentions", "links", "triples"} <= {r["stage"] for r in metrics}
    assert sum(r["rows"] for r in metrics if r["stage"] == "links") > 0


def test_to_ntriples_escaping_and_shape(spark):
    """N-Triples/N-Quads serialization: IRI percent-encoding of every
    forbidden IRIREF char, ECHAR literal escapes (backslash first), the
    literal_preds split, and the graph_col N-Quads form."""
    from pyspark.sql import functions as F

    from golden_horse_spark.operators.triples import to_ntriples

    rows = [
        ("e one", "mentioned_in", "d<1>", "g1"),       # space + angles
        ('e"q', "has_type", 'PER "x\\y\n\r\tz', "g2"),  # literal escapes
        ("pct%20", "mentioned_in", "b|c^d`e{f}g", "g3"),  # % first + rest
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string, g string")
    out = {r["subj"]: r["line"] for r in to_ntriples(df).collect()}
    b = "http://kg.local/"
    assert out["e one"] == (
        f"<{b}entity/e%20one> <{b}rel/mentioned_in> <{b}entity/d%3C1%3E> ."
    )
    # has_type objects are literals; backslash escaped before quote
    assert out['e"q'] == (
        f'<{b}entity/e%22q> <{b}rel/has_type> "PER \\"x\\\\y\\n\\r\\tz" .'
    )
    # '%' encodes first (no double-encode of the result), the rest of
    # the forbidden set each map to their octet
    assert out["pct%20"] == (
        f"<{b}entity/pct%2520> <{b}rel/mentioned_in> "
        f"<{b}entity/b%7Cc%5Ed%60e%7Bf%7Dg> ."
    )
    # N-Quads: graph_col appends a graph IRI before the dot
    quads = {r["subj"]: r["line"] for r in to_ntriples(df, graph_col="g").collect()}
    assert quads["e one"].endswith(f"<{b}graph/g1> .")
    # every line stays single-line even with control chars in inputs
    assert all("\n" not in l and "\r" not in l for l in quads.values())


def test_kg_profile_report(spark):
    from golden_horse_spark.operators.triples import kg_profile

    tri = spark.createDataFrame(
        [
            ("a", "knows", "b"), ("a", "knows", "c"), ("a", "likes", "b"),
            ("b", "knows", "c"), ("c", "based_in", "x"),
        ],
        "subj string, pred string, obj string",
    )
    got = {
        (r["stat"], r["k"]): r["v"] for r in kg_profile(tri).collect()
    }
    assert got[("count", "n_triples")] == 5
    assert got[("count", "n_subjects")] == 3
    assert got[("count", "n_predicates")] == 3
    assert got[("count", "n_objects")] == 3
    assert got[("count", "n_entities")] == 4  # a b c x
    assert got[("pred", "knows")] == 3 and got[("pred", "likes")] == 1
    # out-degrees: a=3, b=1, c=1 -> sorted [1,1,3]; G = 2*12/(3*5)-4/3
    want = 2 * (1 * 1 + 2 * 1 + 3 * 3) / (3 * 5) - 4 / 3
    assert abs(got[("outdeg_gini", "gini_ppm")] / 1e6 - want) < 1e-6


def test_pipeline_profile_stage(spark, weights_path, tmp_path):
    """cfg.profile=True writes the kg_profile QA report beside the
    metrics table, consistent with the triples actually produced."""
    docs = synthesize_documents(spark, 40, seed=13, partitions=2)
    cfg = PipelineConfig(
        output_dir=str(tmp_path / "kgp"),
        weights_path=weights_path,
        triple_parts=2,
        profile=True,
    )
    stages = run_pipeline(spark, docs, cfg, aliases=alias_table(spark))
    assert "kg_profile" in stages
    prof = {
        (r["stat"], r["k"]): r["v"] for r in stages["kg_profile"].collect()
    }
    n_triples = stages["triples"].count()
    assert prof[("count", "n_triples")] == n_triples
    assert prof[("count", "n_predicates")] >= 1
    assert ("outdeg_gini", "gini_ppm") in prof
    # parquet artifact exists on disk next to metrics
    import os

    assert os.path.isdir(str(tmp_path / "kgp" / "kg_profile"))


def test_partitioned_stage_handles_awkward_partition_values(spark, tmp_path):
    """StageWriter is shared, documented-generic infrastructure — the
    partition-granular markers must survive partition values whose
    ``str()`` is not JSON (booleans, NULL) and string values that are
    not filesystem-safe (path separators, spaces). Round-5 review
    finding: marker files were named ``part=<str(val)>.json`` (so
    ``a/b`` pointed into a nonexistent subdirectory) and resume
    reconstituted values via ``json.loads(str(val))`` (so ``True`` /
    ``None`` crashed on restart)."""
    from golden_horse_spark.plans.pipeline import StageWriter

    rows = [("a/b", 1), ("c d", 2), ("plain", 3), (None, 4)]

    def compute():
        return spark.createDataFrame(rows, "part string, v int")

    root = tmp_path / "awkward"
    w = StageWriter(spark, str(root))
    fp = w.fingerprint("st", "u1")
    out1 = w.load_or_compute("st", fp, compute, partition_by="part")
    assert {(r["part"], r["v"]) for r in out1.collect()} == set(rows)
    assert len(w.done_parts("st", fp)) == 4
    # manifest-hit resume round-trips
    out2 = StageWriter(spark, str(root)).load_or_compute(
        "st", fp, compute, partition_by="part"
    )
    assert {(r["part"], r["v"]) for r in out2.collect()} == set(rows)
    # force the marker-resume branch (manifest gone, markers present):
    # previously crashed reconstituting values; now all partitions are
    # provably done, nothing is rewritten, manifest is rebuilt from the
    # completion records
    (root / "st.manifest.json").unlink()
    w3 = StageWriter(spark, str(root))
    out3 = w3.load_or_compute("st", fp, compute, partition_by="part")
    assert {(r["part"], r["v"]) for r in out3.collect()} == set(rows)
    man = json.loads((root / "st.manifest.json").read_text())
    assert man["status"] == "complete" and man["rows"] == 4
    # round-6 VERDICT fix: the lineage-row builder must survive these
    # same awkward keys (it used int(part) — a string-partitioned stage
    # crashed the metrics table) and stay injective per value
    from golden_horse_spark.plans.pipeline import METRICS_SCHEMA, _metrics_rows

    mrows = _metrics_rows(w3, ("st",))
    assert {r["partition"] for r in mrows} == {
        json.dumps(v) for v, _ in rows
    }
    assert sum(r["rows"] for r in mrows) == 4
    # the widened schema accepts every row
    mdf = spark.createDataFrame(mrows, METRICS_SCHEMA)
    assert mdf.count() == 4


def test_crash_mid_unpartitioned_stage_recomputes_cleanly(
    pipeline_out, spark, weights_path, tmp_path_factory
):
    """Round-6 VERDICT ask #6: SIGKILL an UNPARTITIONED stage mid-write
    (data directory landed, manifest absent — plus a torn parquet file
    simulating a kill mid-job): restart must treat the stage as
    untrusted, recompute it wholesale, and land the identical final
    table with a complete manifest and no torn leftovers."""
    _, _, ref_stages, _ = pipeline_out
    reference = {tuple(r) for r in ref_stages["triples"].collect()}
    out = tmp_path_factory.mktemp("crash_unpart")
    import os
    import subprocess
    import sys

    cfg = {
        "n_docs": 120, "seed": 5, "partitions": 4,
        "output_dir": str(out), "weights_path": weights_path,
        "aliases": alias_rows(), "alias_ddl": ALIAS_DDL,
        "triple_parts": 8,
    }
    repo_root = str(Path(__file__).resolve().parent.parent)
    env = {
        **os.environ,
        "GH_KILL_UNPARTITIONED_STAGE": "mentions",
        "PYTHONPATH": repo_root + os.pathsep + os.environ.get("PYTHONPATH", ""),
    }
    proc = subprocess.run(
        [sys.executable, str(Path(__file__).parent / "crash_driver.py"),
         json.dumps(cfg)],
        env=env, capture_output=True, timeout=900, text=True,
    )
    assert proc.returncode == -9, (proc.returncode, proc.stderr[-2000:])
    # the kill point: mentions data written, manifest absent
    assert (Path(out) / "mentions").is_dir()
    assert not (Path(out) / "mentions.manifest.json").exists()
    # torn data file from a hypothetical kill mid-JOB: the full-stage
    # overwrite must clear it
    torn = Path(out) / "mentions" / "part-torn.snappy.parquet"
    torn.write_bytes(b"\x00not parquet")
    _restart_and_check(spark, weights_path, out, reference)
    assert not torn.exists()
    man = json.loads((Path(out) / "mentions.manifest.json").read_text())
    assert man["status"] == "complete"


def test_partitioned_stage_boolean_partition_column(spark, tmp_path):
    """Boolean partition values: str(True) is not JSON — the markers
    must store a JSON-round-trippable value so restart never crashes.
    (Spark's partition-directory inference reads boolean partition
    values back as the STRINGS 'true'/'false' — the markers record
    what the read-back table actually contains, and the resume filter
    compares boolean source column vs those strings via Spark's
    implicit cast, so restart is crash-free and value-consistent.)"""
    from golden_horse_spark.plans.pipeline import StageWriter

    rows = [(True, 1), (False, 2), (True, 3)]
    expect = {("true", 1), ("false", 2), ("true", 3)}

    def compute():
        return spark.createDataFrame(rows, "part boolean, v int")

    root = tmp_path / "boolpart"
    w = StageWriter(spark, str(root))
    fp = w.fingerprint("st", "u1")
    out1 = w.load_or_compute("st", fp, compute, partition_by="part")
    assert {(r["part"], r["v"]) for r in out1.collect()} == expect
    done = w.done_parts("st", fp)
    assert len(done) == 2 and sum(done.values()) == 3
    (root / "st.manifest.json").unlink()
    out2 = StageWriter(spark, str(root)).load_or_compute(
        "st", fp, compute, partition_by="part"
    )
    assert {(r["part"], r["v"]) for r in out2.collect()} == expect


def _group_jobs(sc, group, fn):
    """Run ``fn`` under Spark job group ``group``; return (result, job ids)."""
    sc.setJobGroup(group, group, False)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return res, sc.statusTracker().getJobIdsForGroup(group)


def test_unpartitioned_commit_is_one_job_with_footer_counters(spark, tmp_path):
    """An unpartitioned stage commit runs exactly one Spark job — the
    write. The re-read reuses the written schema (no inference job) and
    the manifest's per-write-task counters come from the part files'
    parquet footers (no count re-scan): each counter equals its file's
    footer row count, and they sum to the table's row count."""
    import pyarrow.parquet as pq

    from golden_horse_spark.plans.pipeline import StageWriter

    w = StageWriter(spark, str(tmp_path / "store"))
    fp = w.fingerprint("st", "u1")
    out, jobs = _group_jobs(
        spark.sparkContext, "stagewriter-one-job",
        lambda: w.load_or_compute(
            "st", fp,
            lambda: spark.range(0, 1000, numPartitions=4)
            .selectExpr("id", "cast(id % 7 as string) as s"),
        ),
    )
    assert len(jobs) == 1, jobs
    man = w.manifest("st")
    assert man["status"] == "complete"
    files = sorted((tmp_path / "store" / "st").glob("part-*.parquet"))
    footers = {
        str(int(f.name.split("-")[1])): pq.read_metadata(f).num_rows
        for f in files
    }
    assert len(footers) == len(files) == 4
    assert man["partitions"] == footers
    assert man["rows"] == sum(footers.values()) == out.count() == 1000
    assert out.schema == spark.read.parquet(str(tmp_path / "store" / "st")).schema


def _partitioned_rows(spark):
    # 40 partition values: more directories than Spark's parallel
    # partition-discovery threshold (32), as in the 64-part triples table
    return spark.range(0, 2000, numPartitions=4).selectExpr(
        "id", "cast(id % 40 as int) as part"
    )


def test_partitioned_commit_counts_from_footers(spark, tmp_path):
    """A partitioned stage commit runs no collect job: each completion
    record's rows are its directory's footer rows and equal the
    re-read's per-partition count, and the re-read's schema is the
    inferred one (no schema-inference job)."""
    import pyarrow.parquet as pq

    from golden_horse_spark.plans.pipeline import StageWriter

    root = tmp_path / "store"
    w = StageWriter(spark, str(root))
    fp = w.fingerprint("st", "u1")
    sc = spark.sparkContext
    out, jobs = _group_jobs(
        sc, "stagewriter-partitioned",
        lambda: w.load_or_compute(
            "st", fp, lambda: _partitioned_rows(spark), partition_by="part"
        ),
    )
    tracker = sc.statusTracker()
    stage_names = [
        tracker.getStageInfo(s).name
        for j in jobs for s in tracker.getJobInfo(j).stageIds
    ]
    assert not [n for n in stage_names if n.startswith("collect")], stage_names
    assert out.schema == spark.read.parquet(str(root / "st")).schema
    counts = {r["part"]: r["count"] for r in out.groupBy("part").count().collect()}
    assert len(counts) == 40 and sum(counts.values()) == 2000
    markers = {}
    for f in (root / "st.parts").glob("*.json"):
        rec = json.loads(f.read_text())
        footer = sum(
            pq.read_metadata(p).num_rows
            for p in (root / "st" / f"part={rec['value']}").glob("*.parquet")
        )
        assert rec["rows"] == footer
        markers[rec["value"]] = rec["rows"]
    assert markers == counts
    man = w.manifest("st")
    assert {int(k): v for k, v in man["partitions"].items()} == counts


def test_partitioned_commit_writes_nothing_to_the_session_conf(
    spark, tmp_path, monkeypatch
):
    """The partition overwrite mode is set on each write, never on the
    session: a first commit and a marker resume write nothing to the
    caller's conf."""
    from pyspark.sql.conf import RuntimeConfig

    from golden_horse_spark.plans.pipeline import StageWriter

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
    root = tmp_path / "store"
    w = StageWriter(spark, str(root))
    fp = w.fingerprint("st", "u1")

    def compute():
        return _partitioned_rows(spark)

    w.load_or_compute("st", fp, compute, partition_by="part")
    # marker resume: manifest gone, one partition's record gone too, so
    # the remainder is rewritten with a dynamic overwrite
    (root / "st.manifest.json").unlink()
    next((root / "st.parts").glob("*.json")).unlink()
    out = w.load_or_compute("st", fp, compute, partition_by="part")
    assert writes == []
    assert out.count() == 2000
    assert w.manifest("st")["rows"] == 2000


def test_empty_unpartitioned_stage_gets_manifest(spark, tmp_path):
    """A stage whose output is empty still lands a readable table and a
    complete manifest with zero rows."""
    from golden_horse_spark.plans.pipeline import StageWriter

    w = StageWriter(spark, str(tmp_path / "store"))
    fp = w.fingerprint("st", "u1")
    out = w.load_or_compute(
        "st", fp,
        lambda: spark.range(0, 10, numPartitions=2).where("id < 0")
        .selectExpr("id", "cast(id as string) as s"),
    )
    assert out.count() == 0 and out.columns == ["id", "s"]
    man = w.manifest("st")
    assert man["status"] == "complete" and man["rows"] == 0
    assert man["fingerprint"] == fp
