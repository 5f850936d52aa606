"""Structured-Streaming front-end: micro-batch NER, exactly-once resume,
windowed counts with watermark."""

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def doc_dir(spark, tmp_path_factory):
    from golden_horse_spark.sources.documents import synthesize_documents

    d = tmp_path_factory.mktemp("stream_in")
    docs = synthesize_documents(spark, 60, seed=11, partitions=3)
    docs.write.mode("overwrite").parquet(str(d / "docs"))
    return d


def test_stream_mentions_match_batch(spark, weights_path, doc_dir, tmp_path_factory):
    from golden_horse_spark.operators.ner import extract_mentions
    from golden_horse_spark.operators.sentence_seg import documents_to_sentences
    from golden_horse_spark.streaming.stream import (
        run_to_sink,
        stream_documents,
        stream_mentions,
    )

    out = tmp_path_factory.mktemp("stream_out")
    stream = stream_mentions(
        stream_documents(spark, str(doc_dir / "docs")), weights_path
    )
    run_to_sink(stream, str(out / "mentions"), str(out / "ckpt"))

    got = {tuple(r) for r in spark.read.parquet(str(out / "mentions")).collect()}
    batch_docs = spark.read.parquet(str(doc_dir / "docs"))
    want = {
        tuple(r)
        for r in extract_mentions(
            documents_to_sentences(batch_docs), weights_path
        ).collect()
    }
    assert got == want and len(got) > 0

    # resume: re-running against the same checkpoint ingests nothing new
    stream2 = stream_mentions(
        stream_documents(spark, str(doc_dir / "docs")), weights_path
    )
    run_to_sink(stream2, str(out / "mentions"), str(out / "ckpt"))
    again = {tuple(r) for r in spark.read.parquet(str(out / "mentions")).collect()}
    assert again == want  # no duplicates appended


def test_windowed_counts_with_watermark(spark, weights_path, doc_dir, tmp_path_factory):
    from golden_horse_spark.streaming.stream import (
        run_to_sink,
        stream_documents,
        stream_mentions,
        windowed_mention_counts,
        with_event_time,
    )

    out = tmp_path_factory.mktemp("win_out")
    stream = with_event_time(
        stream_mentions(stream_documents(spark, str(doc_dir / "docs")), weights_path)
    )
    counts = windowed_mention_counts(stream)
    run_to_sink(counts, str(out / "counts"), str(out / "ckpt"))
    rows = spark.read.parquet(str(out / "counts")).collect()
    assert rows
    assert all(r["n_mentions"] > 0 for r in rows)
    assert {r["etype"] for r in rows} <= {"PER", "LOC", "ORG", "GPE"}


def test_stateful_running_surface_stats(spark, weights_path, tmp_path_factory):
    """applyInPandasWithState: per-surface running totals accumulate
    across micro-batches AND across query restarts (state store lives in
    the checkpoint)."""
    from golden_horse_spark.sources.documents import synthesize_documents
    from golden_horse_spark.streaming.stream import (
        running_surface_stats,
        stream_documents,
        stream_mentions,
    )

    d = tmp_path_factory.mktemp("state_in")
    ckpt = str(tmp_path_factory.mktemp("state_ckpt"))
    wave1 = synthesize_documents(spark, 30, seed=21, partitions=2)
    wave1.write.mode("append").parquet(str(d / "docs"))

    out = str(tmp_path_factory.mktemp("state_out") / "stats")

    def drain():
        stats = running_surface_stats(
            stream_mentions(stream_documents(spark, str(d / "docs")), weights_path)
        )

        def sink(bdf, bid):
            bdf.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(out)

        q = (
            stats.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # latest emitted row per surface = the running total (batch_id is
        # monotonic across restarts because it comes from the checkpoint)
        rows = spark.read.parquet(out).collect()
        latest = {}
        for r in sorted(rows, key=lambda r: r["batch_id"]):
            latest[r["surface"]] = (
                r["total_mentions"], r["n_docs"], r["first_doc"],
            )
        return latest

    got1 = drain()
    assert got1, "wave 1 produced no stateful output"

    # wave 2: new files under the same source dir; restart the query on
    # the same checkpoint — totals must be wave1 + wave2, not reset
    wave2 = synthesize_documents(spark, 30, seed=22, partitions=2)
    wave2.write.mode("append").parquet(str(d / "docs"))
    got2 = drain()

    # batch ground truth over the union
    from golden_horse_spark.operators.ner import extract_mentions
    from golden_horse_spark.operators.sentence_seg import documents_to_sentences

    all_docs = spark.read.parquet(str(d / "docs"))
    want = {
        r["surface"]: (r["total"], r["first_doc"])
        for r in extract_mentions(documents_to_sentences(all_docs), weights_path)
        .groupBy("surface")
        .agg(
            F.count("*").alias("total"),
            F.min("doc_id").alias("first_doc"),
        )
        .collect()
    }
    # wave-2 output only re-emits surfaces whose state changed; surfaces
    # untouched in wave 2 keep their wave-1 row
    merged = dict(got1)
    merged.update(got2)
    assert set(merged) == set(want)
    for s, (total, first) in want.items():
        assert merged[s][0] == total, f"running total wrong for {s!r}"
        assert merged[s][2] == first, f"first_doc wrong for {s!r}"


def test_streaming_dedup_matches_batch_dedup(spark, doc_dir, tmp_path_factory):
    """dropDuplicatesWithinWatermark keeps one doc per fingerprint, and
    the surviving fingerprint set equals the batch exact-dedup groups
    (same md5 normalization on both paths)."""
    from golden_horse_spark.operators.dedup import exact_dup_groups
    from golden_horse_spark.sources.documents import synthesize_documents
    from golden_horse_spark.streaming.stream import (
        dedup_documents_stream,
        run_to_sink,
        stream_documents,
        with_event_time,
    )

    # corpus with real duplicates (low mutate fraction → repeated texts)
    d = tmp_path_factory.mktemp("dedup_in")
    docs = synthesize_documents(spark, 80, seed=3, partitions=2,
                                mutate_fraction=0.1)
    docs.write.mode("overwrite").parquet(str(d / "docs"))

    out = tmp_path_factory.mktemp("dedup_out")
    stream = dedup_documents_stream(
        with_event_time(stream_documents(spark, str(d / "docs")))
    )
    run_to_sink(stream, str(out / "docs"), str(out / "ckpt"))

    kept = spark.read.parquet(str(out / "docs"))
    batch_docs = spark.read.parquet(str(d / "docs")).withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.expr("transform(filter(spans, s -> s.kind = 'text'), s -> s.text)"),
        ),
    )
    groups = exact_dup_groups(batch_docs)
    n_groups = groups.count()
    assert batch_docs.count() > n_groups  # duplicates actually exist
    # exactly one survivor per fingerprint, covering every group
    assert kept.count() == n_groups
    assert kept.select("fp").distinct().count() == n_groups
    got_fps = {r["fp"] for r in kept.select("fp").collect()}
    want_fps = {r["fp"] for r in groups.select("fp").collect()}
    assert got_fps == want_fps


def test_session_windows_match_batch_sessionize(spark, tmp_path_factory):
    """Streaming session_window and batch sessionize implement the same
    gap rule: equal per-key session counts at the same gap.

    Append-mode sessions only emit once the WATERMARK passes their end,
    and emission lags one micro-batch (the watermark used by batch N is
    computed from batch N-1) — so the stream gets two far-future
    "flusher" files after the real data, forced into separate
    micro-batches (maxFilesPerTrigger=1, ascending mtimes)."""
    import datetime as dt
    import os

    from golden_horse_spark.operators.temporal import sessionize
    from golden_horse_spark.streaming.stream import (
        run_to_sink,
        session_mention_counts,
    )

    def ts(m):
        return dt.datetime(2026, 1, 1, 0, 0, 0) + dt.timedelta(minutes=m)

    real = [
        ("PER", ts(0)), ("PER", ts(1)), ("PER", ts(2)),   # session 1
        ("PER", ts(20)), ("PER", ts(21)),                 # session 2
        ("PER", ts(50)),                                  # session 3
        ("LOC", ts(5)), ("LOC", ts(30)),                  # 2 sessions
    ]
    src = tmp_path_factory.mktemp("sess_src")
    schema = "etype string, event_ts timestamp"
    spark.createDataFrame(real, schema).coalesce(1).write.parquet(
        str(src / "b0")
    )
    for i, flush_min in enumerate((300, 600), start=1):
        spark.createDataFrame(
            [("PER", ts(flush_min)), ("LOC", ts(flush_min))], schema
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    files = sorted(str(p) for p in src.rglob("*.parquet"))
    for i, f in enumerate(files):
        os.utime(f, (1700000000 + 60 * i, 1700000000 + 60 * i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = tmp_path_factory.mktemp("sess_out")
    sessions = session_mention_counts(stream, gap="10 minutes",
                                      watermark="10 minutes")
    run_to_sink(sessions, str(out / "sessions"), str(out / "ckpt"))
    got = spark.read.parquet(str(out / "sessions")).where(
        F.col("session_start") < ts(300)
    )
    stream_counts = {
        r["etype"]: r["n"]
        for r in got.groupBy("etype").agg(F.count("*").alias("n")).collect()
    }
    assert stream_counts == {"PER": 3, "LOC": 2}

    batch = sessionize(
        spark.createDataFrame(real, schema),
        key="etype", ts_col="event_ts", gap=600.0,
    )
    batch_counts = {
        r["etype"]: r["n"]
        for r in batch.groupBy("etype")
        .agg(F.max("session_seq").alias("n"))
        .collect()
    }
    assert stream_counts == batch_counts


def test_streaming_linking_matches_batch(
    spark, weights_path, doc_dir, tmp_path_factory
):
    """Stream-static broadcast linking == batch exact_candidates on the
    same documents (multiset of (surface, entity_id))."""
    from collections import Counter

    from golden_horse_spark.operators.linking import exact_candidates
    from golden_horse_spark.operators.ner import mentions_with_ids
    from golden_horse_spark.streaming.stream import (
        run_to_sink,
        stream_candidates,
        stream_documents,
        stream_mentions,
    )

    # explicit table of surfaces the synthetic documents mention
    aliases = spark.createDataFrame(
        [(s, f"e{i}", 1.0) for i, s in enumerate(
            ["张三", "李四", "北京", "上海", "刘德华", "清华大学", "中国",
             "国家博物馆", "王小明"]
        )],
        "surface_form string, entity_id string, prior double",
    )
    out = tmp_path_factory.mktemp("link_out")
    stream = stream_mentions(
        stream_documents(spark, str(doc_dir / "docs")), weights_path
    )
    run_to_sink(
        stream_candidates(stream, aliases),
        str(out / "cands"),
        str(out / "ckpt"),
    )
    got = Counter(
        (r["surface"], r["entity_id"])
        for r in spark.read.parquet(str(out / "cands"))
        .join(
            mentions_with_ids(
                stream_mentions(
                    spark.read.parquet(str(doc_dir / "docs")), weights_path
                )
            ).select("mention_id", "surface"),
            "mention_id",
        )
        .collect()
    )
    batch = Counter(
        (r["surface"], r["entity_id"])
        for r in exact_candidates(
            mentions_with_ids(
                stream_mentions(
                    spark.read.parquet(str(doc_dir / "docs")), weights_path
                )
            ).select("mention_id", "surface"),
            aliases,
        )
        .join(
            mentions_with_ids(
                stream_mentions(
                    spark.read.parquet(str(doc_dir / "docs")), weights_path
                )
            ).select("mention_id", "surface"),
            "mention_id",
        )
        .collect()
    )
    assert got and got == batch


def test_stream_stream_comention_join_matches_batch(
    spark, weights_path, doc_dir, tmp_path_factory
):
    """Watermarked stream-stream self-join == batch self-join on the
    same documents (multiset of co-mention rows)."""
    from collections import Counter

    from golden_horse_spark.streaming.stream import (
        run_to_sink,
        stream_comention_pairs,
        stream_documents,
        stream_mentions,
        with_event_time,
    )

    out = tmp_path_factory.mktemp("ss_out")
    stream = with_event_time(
        stream_mentions(stream_documents(spark, str(doc_dir / "docs")), weights_path)
    )
    run_to_sink(
        stream_comention_pairs(stream), str(out / "pairs"), str(out / "ckpt")
    )
    cols = ("doc_id", "etype_a", "etype_b", "surface_a", "surface_b")
    got = Counter(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(str(out / "pairs")).collect()
    )
    batch_mentions = with_event_time(
        stream_mentions(spark.read.parquet(str(doc_dir / "docs")), weights_path)
    )
    want = Counter(
        tuple(r[c] for c in cols)
        for r in stream_comention_pairs(batch_mentions).collect()
    )
    assert got and got == want


def test_surface_stats_doc_straddling_micro_batches(spark, tmp_path_factory):
    """A doc whose mentions of the same surface arrive in TWO consecutive
    micro-batches is counted once in n_docs (last_doc marker dedupe) —
    the round-2 overcount regression."""
    from golden_horse_spark.streaming.stream import running_surface_stats

    d = tmp_path_factory.mktemp("straddle_in")
    out = str(tmp_path_factory.mktemp("straddle_out") / "stats")
    ckpt = str(tmp_path_factory.mktemp("straddle_ckpt"))

    schema = "surface string, doc_id string"
    # batch 1: doc A twice; batch 2: doc A again (straddle) + new doc B
    # (same dir, two files; maxFilesPerTrigger=1 processes them as two
    # micro-batches in modification-time order)
    import time

    spark.createDataFrame(
        [("张三", "docA"), ("张三", "docA")], schema
    ).coalesce(1).write.mode("append").parquet(str(d / "docs"))
    time.sleep(1.1)
    spark.createDataFrame(
        [("张三", "docA"), ("张三", "docB")], schema
    ).coalesce(1).write.mode("append").parquet(str(d / "docs"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "docs"))
    )
    stats = running_surface_stats(stream)

    def sink(bdf, bid):
        bdf.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(out)

    q = (
        stats.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = sorted(
        spark.read.parquet(out).collect(), key=lambda r: r["batch_id"]
    )
    final = rows[-1]
    assert final["total_mentions"] == 4
    assert final["n_docs"] == 2, rows      # docA once + docB, not 3
    assert final["first_doc"] == "docA"


def test_streaming_curation_matches_batch(spark, tmp_path_factory):
    """curate_documents_stream == the same Column exprs on the batch
    table: quality + mixture decisions are stateless content functions,
    so arrival order / micro-batching cannot change them."""
    from golden_horse_spark.streaming.stream import (
        curate_documents_stream,
        run_to_sink,
    )

    d = tmp_path_factory.mktemp("curate_in")
    rows = [
        (i,
         " ".join(f"w{(i * 7 + j) % 90}" for j in range(5 + i % 40)),
         f"src{i % 3}")
        for i in range(300)
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string, source string")
    batch.repartition(4).write.mode("overwrite").parquet(str(d / "docs"))

    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
    stream_in = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .parquet(str(d / "docs"))
    )
    out = tmp_path_factory.mktemp("curate_out")
    run_to_sink(
        curate_documents_stream(stream_in, mixture_rates=rates),
        str(out / "curated"), str(out / "ckpt"),
    )
    got = {r["doc_id"]: (r["quality"], r["n_tokens"], r["keep"])
           for r in spark.read.parquet(str(out / "curated")).collect()}

    want_df = curate_documents_stream(
        spark.read.parquet(str(d / "docs")), mixture_rates=rates
    )
    want = {r["doc_id"]: (r["quality"], r["n_tokens"], r["keep"])
            for r in want_df.collect()}
    assert got == want and len(got) == 300
    kept = sum(1 for v in got.values() if v[2])
    assert 0 < kept < 300  # both decisions actually fire


def test_streaming_heavy_hitters_mg_guarantees(spark, tmp_path_factory):
    """Online Misra-Gries: superset guarantee + count bounds vs exact
    Counter ground truth, bounded state, checkpoint-surviving totals."""
    import math
    from collections import Counter

    from golden_horse_spark.streaming.stream import streaming_heavy_hitters

    d = tmp_path_factory.mktemp("hh_in")
    ckpt = str(tmp_path_factory.mktemp("hh_ckpt"))
    out = str(tmp_path_factory.mktemp("hh_out") / "cand")
    phi = 0.1
    k = math.ceil(1 / phi)

    def wave(seed, n):
        # 2 hot keys (~45% of rows) + a long tail
        rows = []
        for i in range(n):
            h = (i * 2654435761 + seed) % 100
            if h < 30:
                key = "hot_a"
            elif h < 45:
                key = "hot_b"
            else:
                key = f"tail_{h}_{seed}"
            rows.append((key,))
        return rows

    all_rows = []

    def drain():
        stream = (
            spark.readStream.schema("surface string")
            .parquet(str(d / "keys"))
        )
        cand = streaming_heavy_hitters(stream, "surface", phi=phi)

        def sink(bdf, bid):
            bdf.withColumn("batch_id", F.lit(bid)).write.mode(
                "append"
            ).parquet(out)

        q = (
            cand.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(out).collect()
        last = max(r["batch_id"] for r in rows)
        return {
            r["key"]: (r["est"], r["n_total"])
            for r in rows
            if r["batch_id"] == last
        }

    for seed, n in ((1, 400), (2, 300)):
        w = wave(seed, n)
        all_rows += w
        spark.createDataFrame(w, "surface string").repartition(3).write.mode(
            "append"
        ).parquet(str(d / "keys"))
        got = drain()
        true = Counter(x[0] for x in all_rows)
        n_total = len(all_rows)
        # totals survived the restart (checkpointed state)
        assert all(t == n_total for _, t in got.values()), got
        # bounded state: at most k candidates ever
        assert 0 < len(got) <= k
        # superset guarantee: every true heavy hitter is present
        for key, cnt in true.items():
            if cnt > phi * n_total:
                assert key in got, (key, cnt, n_total)
        # MG bounds: true - N/k <= est <= true
        for key, (est, _) in got.items():
            assert est <= true[key], (key, est, true[key])
            assert est >= true[key] - n_total / k, (key, est, true[key])


def test_streaming_count_min_equals_batch_sketch(spark, tmp_path_factory):
    """After every drain, the streaming CMS snapshot == the batch
    count_min_table of everything ingested so far, and the state key
    space stays within depth*width."""
    from golden_horse_spark.operators.sketch import count_min_table
    from golden_horse_spark.streaming.stream import streaming_count_min

    d = tmp_path_factory.mktemp("cms_in")
    ckpt = str(tmp_path_factory.mktemp("cms_ckpt"))
    out = str(tmp_path_factory.mktemp("cms_out") / "snap")
    depth, width = 3, 32

    def drain():
        stream = spark.readStream.schema("k long").parquet(str(d / "keys"))
        sk = streaming_count_min(stream, "k", depth=depth, width=width)

        def sink(bdf, bid):
            bdf.withColumn("batch_id", F.lit(bid)).write.mode(
                "append"
            ).parquet(out)

        q = (
            sk.writeStream.foreachBatch(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(out).collect()
        last = max(r["batch_id"] for r in rows)
        return {
            (r["row"], r["bucket"]): r["cnt"]
            for r in rows
            if r["batch_id"] == last
        }

    all_rows = []
    for seed, n in ((11, 500), (23, 700)):
        wave = [((i * 2654435761 + seed) % 97,) for i in range(n)]
        all_rows += wave
        spark.createDataFrame(wave, "k long").repartition(3).write.mode(
            "append"
        ).parquet(str(d / "keys"))
        got = drain()
        batch = spark.createDataFrame(all_rows, "k long")
        want = {
            (r["row"], r["bucket"]): r["cnt"]
            for r in count_min_table(batch, "k", depth=depth,
                                     width=width).collect()
        }
        assert got == want
        assert len(got) <= depth * width


def test_streaming_entity_resolution_matches_full_cc(spark, tmp_path_factory):
    """Two waves of edge files through streaming_entity_resolution; the
    persisted assignment equals from-scratch CC over everything, and
    the second run resumes from the stream checkpoint (wave-1 files are
    not re-read — idempotent anyway, asserted by equality)."""
    import random

    from golden_horse_spark.operators.canonicalize import connected_components
    from golden_horse_spark.streaming.stream import streaming_entity_resolution

    base = tmp_path_factory.mktemp("ser")
    in_dir, state, ckpt = base / "in", base / "state", base / "ckpt"
    in_dir.mkdir()
    rng = random.Random(3)
    wave1 = [(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(30)]
    wave2 = [(rng.randint(20, 70), rng.randint(20, 70)) for _ in range(30)]
    wave1 = [(a, b) for a, b in wave1 if a != b]
    wave2 = [(a, b) for a, b in wave2 if a != b]
    schema = "src int, dst int"

    def run_wave(edges):
        spark.createDataFrame(edges, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(in_dir))
        stream = (
            spark.readStream.schema(schema).parquet(str(in_dir))
        )
        streaming_entity_resolution(
            stream, str(state), str(ckpt)
        )

    run_wave(wave1)
    mid = {
        (r["node"], r["component"])
        for r in spark.read.parquet(str(state)).collect()
    }
    exp_mid = {
        (r["node"], r["component"])
        for r in connected_components(
            spark.createDataFrame(wave1, schema)
        ).collect()
    }
    assert mid == exp_mid
    run_wave(wave2)
    got = {
        (r["node"], r["component"])
        for r in spark.read.parquet(str(state)).collect()
    }
    exp = {
        (r["node"], r["component"])
        for r in connected_components(
            spark.createDataFrame(wave1 + wave2, schema)
        ).collect()
    }
    assert got == exp


def test_streaming_er_recovers_dangling_next_state(spark, tmp_path_factory):
    """Crash-atomicity of the ER state swap (round-5 review fix): a
    kill between the aside-rename and the live-rename leaves only a
    complete ``.next`` — the next batch must ADOPT it, not silently
    restart the assignment from scratch."""
    import os
    import random

    from golden_horse_spark.operators.canonicalize import connected_components
    from golden_horse_spark.streaming.stream import streaming_entity_resolution

    base = tmp_path_factory.mktemp("ser_crash")
    in_dir, state, ckpt = base / "in", base / "state", base / "ckpt"
    in_dir.mkdir()
    rng = random.Random(7)
    wave1 = [(a, b) for a, b in
             ((rng.randint(0, 30), rng.randint(0, 30)) for _ in range(25))
             if a != b]
    wave2 = [(a, b) for a, b in
             ((rng.randint(15, 50), rng.randint(15, 50)) for _ in range(25))
             if a != b]
    schema = "src int, dst int"

    def run_wave(edges):
        spark.createDataFrame(edges, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(in_dir))
        streaming_entity_resolution(
            spark.readStream.schema(schema).parquet(str(in_dir)),
            str(state), str(ckpt),
        )

    run_wave(wave1)
    # simulate the crash window: state renamed aside and gone, the
    # completed .next still on disk
    os.rename(str(state), str(state) + ".next")
    assert not os.path.exists(str(state))
    run_wave(wave2)
    got = {
        (r["node"], r["component"])
        for r in spark.read.parquet(str(state)).collect()
    }
    exp = {
        (r["node"], r["component"])
        for r in connected_components(
            spark.createDataFrame(wave1 + wave2, schema)
        ).collect()
    }
    assert got == exp


def test_comention_pair_kept_for_same_surface_same_start(spark):
    """Two same-surface mentions at the same sentence-relative start of
    DIFFERENT sentences are distinct mentions — their pair must be
    emitted (round-5 review fix: the old concat tiebreak key omitted
    sent_idx/end, compared them equal, and dropped the pair)."""
    from golden_horse_spark.streaming.stream import stream_comention_pairs

    rows = [
        ("d1", 0, 0, 0, 2, "北京", "LOC"),
        ("d1", 0, 1, 0, 2, "北京", "LOC"),
    ]
    mentions = spark.createDataFrame(
        rows,
        "doc_id string, span_idx int, sent_idx int, start int, end int, "
        "surface string, etype string",
    ).withColumn("event_ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
    pairs = stream_comention_pairs(mentions).collect()
    assert len(pairs) == 1
    assert pairs[0]["surface_a"] == pairs[0]["surface_b"] == "北京"
    # and a '#' inside a surface cannot alias two different mentions
    rows2 = [
        ("d2", 0, 0, 0, 3, "a#b", "ORG"),
        ("d2", 0, 0, 5, 8, "a", "ORG"),
    ]
    m2 = spark.createDataFrame(
        rows2,
        "doc_id string, span_idx int, sent_idx int, start int, end int, "
        "surface string, etype string",
    ).withColumn("event_ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
    assert len(stream_comention_pairs(m2).collect()) == 1


def test_run_to_sink_update_mode_writes_batch_dirs(spark, tmp_path_factory):
    """run_to_sink drives update-mode stateful streams via the
    foreachBatch path (round-5 review fix: the file-sink-only form
    raised AnalysisException for the module's own stateful
    operators)."""
    from golden_horse_spark.streaming.stream import (
        run_to_sink,
        running_surface_stats,
    )

    base = tmp_path_factory.mktemp("rts_update")
    in_dir = base / "in"
    in_dir.mkdir()
    schema = "surface string, doc_id string"
    spark.createDataFrame(
        [("北京", "d1"), ("北京", "d2"), ("上海", "d1")], schema
    ).coalesce(1).write.mode("append").parquet(str(in_dir))
    stream = spark.readStream.schema(schema).parquet(str(in_dir))
    run_to_sink(
        running_surface_stats(stream),
        str(base / "out"), str(base / "ckpt"),
        output_mode="update",
    )
    got = {
        r["surface"]: (r["total_mentions"], r["n_docs"])
        for r in spark.read.parquet(str(base / "out")).collect()
    }
    assert got == {"北京": (2, 2), "上海": (1, 1)}
