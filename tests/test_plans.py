"""Physical-plan regression tests: the scale properties BENCH.md claims
must stay true as code evolves (pushdown, pruning, broadcast, and the
zero-exchange document→sentences→mentions chain)."""

import os

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    """A date filter on lineitem must appear in PushedFilters, not as a
    post-scan Filter only — at 100 TB this is the difference between
    scanning a partition subset and scanning everything."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.where(F.col("l_shipdate") <= "1998-09-02").select("l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1].split("]", 1)[0]


def test_column_pruning_reaches_scan(spark):
    """Selecting 2 columns must prune the parquet ReadSchema to those
    columns (media/text payloads never leave the scan)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = docs.select("doc_id").withColumn("x", F.length("doc_id"))
    plan = _plan(df)
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "doc_id" in read_schema
    assert "text" not in read_schema


def test_sentence_chain_has_no_exchange(spark):
    """documents → sentences is narrow (posexplode + JVM SQL fold): no
    shuffle may appear. The NER stage then runs on whatever partitioning
    the scan produced — the whole extraction front-end is shuffle-free."""
    from golden_horse_spark.operators.sentence_seg import documents_to_sentences
    from golden_horse_spark.sources.documents import synthesize_documents

    docs = synthesize_documents(spark, 50, seed=5, partitions=4)
    sentences = documents_to_sentences(docs)
    plan = _plan(sentences)
    assert "Exchange" not in plan, plan


def test_alias_join_is_broadcast_not_shuffle(spark):
    """Candidate generation must broadcast the alias dict: the mentions
    side (10^12 rows at scale) never shuffles."""
    from golden_horse_spark.operators.linking import exact_candidates

    mentions = spark.range(1000).select(
        F.concat(F.lit("m"), "id").alias("mention_id"),
        F.concat(F.lit("s"), (F.col("id") % 37)).alias("surface"),
    )
    aliases = spark.range(37).select(
        F.concat(F.lit("s"), "id").alias("surface_form"),
        F.concat(F.lit("e"), "id").alias("entity_id"),
        F.lit(1.0).alias("prior"),
    )
    plan = _plan(exact_candidates(mentions, aliases))
    assert "BroadcastHashJoin" in plan
    # the big (mentions) side must not be exchanged into the join
    pre_join = plan.split("BroadcastHashJoin", 1)[0]
    assert "Exchange hashpartitioning(mention_id" not in pre_join


def test_whole_stage_codegen_covers_relational_stages(spark):
    """Text-analysis expressions stay JVM-side inside WholeStageCodegen
    (no python UDF in the hot path)."""
    from golden_horse_spark.operators.text_analysis import quality_score, token_count

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = docs.select(
        token_count(F.col("text")).alias("n"),
        quality_score(F.col("text")).alias("q"),
    )
    plan = _plan(df)
    # "*(n)" is the WholeStageCodegen marker in the compact plan string
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sequential_ids_parallel_and_equal_to_window(spark):
    """Two-phase id assignment: identical ids to the global window, with
    no Exchange SinglePartition anywhere in the plan (the window form
    sorts the whole table in one task)."""
    from pyspark.sql import Window

    from golden_horse_spark.operators.ids import sequential_ids

    df = spark.range(0, 10000).select(
        (F.xxhash64("id") % 1000000).alias("key"), F.col("id").alias("payload")
    ).where(F.col("key").isNotNull()).dropDuplicates(["key"])
    out = sequential_ids(df, ["key"], "seq_id", n_parts=8)
    assert "Exchange SinglePartition" not in _plan(out), _plan(out)
    expect = df.select(
        "key", F.row_number().over(Window.orderBy("key")).alias("seq_id")
    )
    got = {(r["key"], r["seq_id"]) for r in out.select("key", "seq_id").collect()}
    want = {(r["key"], r["seq_id"]) for r in expect.collect()}
    assert got == want


def test_fuzzy_prefix_join_is_not_cartesian(spark):
    """The fuzzy blocking join must be an equi-join on prefix bigram
    ranks — never a cross product of mentions × aliases."""
    from golden_horse_spark.operators.linking import fuzzy_candidates

    mentions = spark.range(200).select(
        F.concat(F.lit("m"), "id").alias("mention_id"),
        F.concat(F.lit("surface"), (F.col("id") % 23)).alias("surface"),
    )
    aliases = spark.range(23).select(
        F.concat(F.lit("surfac"), "id").alias("surface_form"),
        F.concat(F.lit("e"), "id").alias("entity_id"),
        F.lit(1.0).alias("prior"),
    )
    out = fuzzy_candidates(mentions, aliases, 0.6)
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert out.count() > 0  # blocking actually yields candidates


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory):
    """Bucketed tables co-located on the join key join WITHOUT a
    shuffle: bucketing is the 100 TB answer to repeated big-big joins
    (pay the partitioned write once, skip the exchange every query)."""
    # bucketBy requires saveAsTable (managed, default warehouse dir —
    # static conf); tables are dropped in finally, which removes the data
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders"))
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem"))
    try:
        # hint forces the big-big join shape (at this tiny SF Spark would
        # otherwise broadcast — at 100 TB neither side broadcasts)
        j = spark.table("b_orders").hint("merge").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        ).groupBy("o_orderstatus").agg(F.count("*").alias("n"))
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "SelectedBucketsCount" in plan, plan
        # plans print top-down, so everything after the join node is its
        # input subtree: the bucketed scans must feed it with NO Exchange
        # (the groupBy's exchange sits above the join and is fine)
        below_join = plan.split("SortMergeJoin", 1)[1]
        assert "Exchange" not in below_join, plan
        # sanity: result matches the unbucketed join
        want = orders.join(li, F.col("o_orderkey") == F.col("l_orderkey")) \
            .groupBy("o_orderstatus").agg(F.count("*").alias("n"))
        assert sorted(map(tuple, j.collect())) == sorted(map(tuple, want.collect()))
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
