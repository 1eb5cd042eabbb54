"""Plan-shape assertions — the reference's explain-string test strategy
(scanner.rs tests :3756+) applied to Catalyst plans: filters must reach the
scan, projections must prune the read schema, dims must broadcast."""

import pytest
from pyspark.sql import functions as F


def test_scan_pushdown_and_pruning(spark, sf_dir):
    from lance_spark.plans.explain import assert_pushed, assert_reads_only, plan_summary

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter("l_quantity < 10").select("l_orderkey", "l_extendedprice")
    assert_pushed(q, "l_quantity")
    assert_reads_only(q, {"l_orderkey", "l_extendedprice", "l_quantity"})
    s = plan_summary(q)
    assert s["shuffles"] == 0 and s["scans"] == 1


def test_join_broadcasts_dim(spark, sf_dir):
    from lance_spark.plans.explain import plan_summary

    from lance_spark import suite

    q = suite.QUERIES["tpch_q5_region"](spark, sf_dir)
    s = plan_summary(q)
    assert s["broadcast_joins"] >= 4  # customer/supplier/nation/region
    assert s["sort_merge_joins"] == 0


def test_explain_and_analyze(spark, sf_dir):
    from lance_spark.plans.explain import analyze_plan, explain_plan

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    e = explain_plan(q, "formatted")
    assert "HashAggregate" in e and "Scan parquet" in e.replace("FileScan", "Scan parquet")
    a = analyze_plan(q)
    assert "HashAggregate" in a


def test_dataset_scanner_prunes_groups(spark, sf_dir, tmp_path):
    """Dataset scan of a narrow projection must not read other column-group
    files (late materialization payoff)."""
    from lance_spark.dataset import dataset
    from lance_spark.plans.explain import plan_summary
    from lance_spark.write import write_dataset

    uri = str(tmp_path / "d")
    ds = write_dataset(spark.read.parquet(f"{sf_dir}/orders.parquet"), uri)
    ds = ds.add_columns(spark, {"extra": "o_totalprice * 2"})
    q = ds.scanner(spark, columns=["o_orderkey"])
    s = plan_summary(q)
    assert s["scans"] == 1  # the column-group file for 'extra' is not opened


def test_asof_join_plan_single_shuffle_no_inequality_join(spark):
    """The as-of join must plan as union + window (one exchange on the key),
    never a nested-loop/cartesian inequality join."""
    import datetime

    from lance_spark.operators.joins import as_of_join
    from lance_spark.plans.explain import explain_plan, plan_summary

    left = spark.createDataFrame(
        [(1, "a", datetime.datetime(2024, 1, 1))], "id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1), 1.0)], "k string, ts timestamp, v double"
    )
    q = as_of_join(left, right, on="k", time_col="ts", value_cols=["v"])
    e = explain_plan(q, "formatted")
    assert "BroadcastNestedLoopJoin" not in e and "CartesianProduct" not in e
    assert "Window" in e
    s = plan_summary(q)
    assert s["shuffles"] <= 3  # right dedup agg + the union's key partition


def test_range_join_plan_is_equi_join(spark):
    """The range join must plan as an equi-join on (key, bucket) — the
    inequality is a post-join Filter, not the join condition."""
    import datetime

    from lance_spark.operators.joins import range_join
    from lance_spark.plans.explain import explain_plan

    a = spark.createDataFrame(
        [(1, "a", datetime.datetime(2024, 1, 1))], "id long, k string, ts timestamp"
    )
    r = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1), 1.0)], "k string, ts timestamp, v double"
    )
    q = range_join(a, r, on="k", time_col="ts", window="1 HOUR", bucket_seconds=3600)
    e = explain_plan(q, "formatted")
    assert "BroadcastNestedLoopJoin" not in e and "CartesianProduct" not in e
    assert "Join" in e or "BroadcastHashJoin" in e


def test_pack_sequences_no_global_window(spark):
    """The distributed prefix sum must never plan a single-partition global
    window over the data (the Window must be partitioned by shard)."""
    from lance_spark.operators.curation import pack_sequences
    from lance_spark.plans.explain import explain_plan

    df = spark.createDataFrame([(i, 10) for i in range(100)], "id long, n long")
    q = pack_sequences(df, "id", "n", capacity=100, num_shards=8)
    e = explain_plan(q, "formatted")
    # a global (unpartitioned) window plans as 'Window [...], [id ASC...]'
    # AFTER an Exchange SinglePartition — assert the exchange isn't global
    assert "SinglePartition" not in e
    assert "Window" in e


def test_hybrid_rrf_windows_bounded_by_topk(spark, sf_dir):
    """Hybrid RRF's rank windows run over branch top-ks (bounded by k);
    the plan may use single-partition windows only AFTER a limit."""
    from lance_spark import suite
    from lance_spark.plans.explain import explain_plan

    q = suite.QUERIES["search_hybrid_rrf"](spark, sf_dir)
    e = explain_plan(q, "formatted")
    # the limits must appear below the windows: every window input is a
    # TakeOrderedAndProject/Limit of k rows, so SinglePartition is bounded
    assert "Window" in e
    assert "Limit" in e or "TakeOrdered" in e


def test_capped_simhash_plan_takeordered_no_wide_dedup(spark, sf_dir):
    """Capped near-dup mode must finish with TakeOrdered (map-side partial
    top-k), never a full dropDuplicates shuffle of the pair stream — the
    r5 design that keeps quadratic pair mass off the wire."""
    from lance_spark.operators.dedup import simhash_pairs
    from lance_spark.plans.explain import explain_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    q = simhash_pairs(docs, "text", "doc_id", max_pairs=20)
    e = explain_plan(q, "formatted")
    assert "TakeOrderedAndProject" in e
    # the only aggregate-dedup allowed is AFTER the TakeOrdered (tiny);
    # check no global Sort over the raw pair stream
    assert "CartesianProduct" not in e and "BroadcastNestedLoopJoin" not in e


def test_take_blobs_pruned_scan_lists_few_files(spark, tmp_path):
    """Post-compaction take_blobs must scan only footer-matched files —
    plan-level companion to the IO-counter spy test."""
    from lance_spark.operators.multimodal import pack_fake_image

    import lance_spark as ls

    rows = [(i, pack_fake_image(32, 32, 3, seed=i)) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, img binary")
    ds = ls.write_dataset(df.repartition(8), str(tmp_path / "b"), blob_columns=["img"])
    ds = ds.update_config({"rowid_address_style": False})
    rid = ds.to_df(spark, with_row_id=True).first()["_rowid"]
    q = ds.take_blobs(spark, [rid], "img")
    files = q.inputFiles()
    assert 0 < len(files) <= 2, files
    assert all("-blob-" in f for f in files)


def test_match_join_never_broadcasts_query_table(spark, sf_dir, tmp_path):
    """match_join's promise: postings prune via a BROADCAST vocabulary
    semi-join, but the (query, term) pair stream itself joins by shuffle —
    a bulk query table must never be a broadcast build side."""
    import lance_spark as ls
    from pyspark.sql import functions as F

    from lance_spark.indexes.inverted import create_inverted_index, match_join

    uri = str(tmp_path / "mjplan")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ls.write_dataset(docs.repartition(2), uri, mode="create")
    ds = create_inverted_index(ls.dataset(uri), spark, "text")
    queries = docs.select(
        F.col("doc_id").alias("qid"),
        F.substring("text", 1, 40).alias("qtext"),
    )
    out = match_join(ds, spark, queries, "qtext", "qid", k=5)
    e = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in e  # the vocabulary semi-join + dfreq
    # exactly one BroadcastNestedLoopJoin is expected: the 1-row BM25
    # stats crossJoin. Anything more would mean a real join degenerated.
    assert e.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in e


def test_phrase_and_boolean_join_never_degenerate(spark, sf_dir, tmp_path):
    """The bulk structured-FTS family inherits match_join's scale
    guarantees: a corpus-sized query table must never become a broadcast
    build side or a cartesian product; the only nested-loop join allowed
    is the 1-row BM25 stats crossJoin (boolean scoring only)."""
    import lance_spark as ls
    from pyspark.sql import functions as F

    from lance_spark.indexes.inverted import (
        boolean_join,
        create_inverted_index,
        phrase_join,
    )

    uri = str(tmp_path / "pjplan")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ls.write_dataset(docs.repartition(2), uri, mode="create")
    ds = create_inverted_index(ls.dataset(uri), spark, "text")
    queries = docs.select(
        F.col("doc_id").alias("qid"),
        F.substring("text", 1, 40).alias("qtext"),
    )
    p = phrase_join(ds, spark, queries, "qtext", "qid", slop=0)
    ep = p._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in ep
    assert "BroadcastNestedLoopJoin" not in ep  # no stats crossJoin here
    b = boolean_join(
        ds, spark, queries.withColumn("neg", F.lit("slow")), "qid",
        must_col="qtext", must_not_col="neg", k=5,
    )
    eb = b._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in eb
    assert eb.count("BroadcastNestedLoopJoin") <= 1  # the 1-row stats join


def test_ann_join_probe_is_single_shuffle_join(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from lance_spark.indexes.vector import ann_join, build_ivf
    from lance_spark.plans.explain import plan_summary

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = build_ivf(
        emb, "embedding", "vec_id", str(tmp_path / "ajplan"), num_partitions=8,
        metric="cosine", index_type="IVF_FLAT",
    )
    out = ann_join(spark, idx, emb, "embedding", "vec_id", k=5, nprobes=2)
    e = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in e and "CartesianProduct" not in e
    s = plan_summary(out)
    # probe-stream join + the top-k window partition: nothing else shuffles
    assert s["shuffles"] <= 3


def test_fuzzy_and_mlt_join_never_degenerate(spark, sf_dir, tmp_path):
    """fuzzy_join's expansion is a length-bucket EQUI-join and mlt_join's
    selection windows per query — neither may plan a CartesianProduct, and
    the only nested-loop joins allowed are the 1-row stats crossJoins."""
    import lance_spark as ls
    from pyspark.sql import functions as F

    from lance_spark.indexes.inverted import (
        create_inverted_index,
        fuzzy_join,
        more_like_this_join,
    )

    uri = str(tmp_path / "fzplan")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ls.write_dataset(docs.repartition(2), uri, mode="create")
    ds = create_inverted_index(ls.dataset(uri), spark, "text")
    queries = docs.select(
        F.col("doc_id").alias("qid"), F.substring("text", 1, 30).alias("qtext")
    )
    fz = fuzzy_join(ds, spark, queries, "qtext", "qid", k=5, fuzziness=1)
    e = fz._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in e
    # stats crossJoin only; the qtok×vocab expansion must be an equi-join
    assert e.count("BroadcastNestedLoopJoin") <= 1

    mlt = more_like_this_join(ds, spark, queries, "qtext", "qid", k=5)
    e2 = mlt._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in e2
    # two 1-row crossJoins are legitimate here: n_docs for selection idf,
    # stats for BM25 scoring
    assert e2.count("BroadcastNestedLoopJoin") <= 2


def test_analyze_plan_reaches_below_adaptive_plan(spark, sf_dir):
    """With AQE on, the metrics tree descends through AdaptiveSparkPlan
    (whose children() is empty) into the final plan's nodes."""
    import re

    from lance_spark.plans.explain import analyze_plan

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    tree = analyze_plan(q).split("== Metrics ==\n", 1)[1].splitlines()
    assert tree[0].startswith("AdaptiveSparkPlan")
    rows = [
        int(n)
        for line in tree[1:]
        if line.startswith("  ")
        for n in re.findall(r"number of output rows=(\d+)", line)
    ]
    assert any(n > 0 for n in rows), tree
