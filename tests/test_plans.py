"""Physical-plan quality gates (the 100 TB posture, asserted).

These run `.explain`-level checks on the real query plans: filters reach
the parquet scan, projections prune the read schema, small dims broadcast,
no BroadcastNestedLoopJoin appears in hot paths, and whole-stage codegen
covers the pipelines.
"""

import __spark_entry__ as entrymod
from conftest import split_file_reads


def _plan(spark, sf_dir, name, execute: bool = False) -> str:
    df = entrymod.queries()[name](spark, sf_dir)
    if execute:  # AQE finalizes (and codegens) only on execution
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _split_plan(spark, sf_dir, name) -> str:
    """``name``'s physical plan over tables read in several partitions,
    where Spark plans every exchange itself (a table read as one
    partition is planned as one, see ``sources.readers``)."""
    with split_file_reads(spark):
        return _plan(spark, sf_dir, name)


def _optimized(spark, sf_dir, name) -> str:
    df = entrymod.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_at_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_pricing_summary")
    # Q1 needs 7 of 11 lineitem columns; the scan schema must not contain
    # the unused join keys
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_broadcast_join_for_small_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_local_supplier_volume")
    assert "BroadcastHashJoin" in plan


def test_no_nested_loop_join_in_range_bands(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_range_bands")
    assert "BroadcastNestedLoopJoin" not in plan  # compiled to CASE chain


def test_global_topk_uses_heap_not_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_topk_global_orders")
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_covers_flagship(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_pricing_summary", execute=True)
    # Spark 4 marks codegen'd operators with "*(n)" in the plan string
    assert "*(1)" in plan and "*(2)" in plan


def test_semi_and_anti_join_planned(spark, sf_dir):
    assert "LeftSemi" in _optimized(spark, sf_dir, "q_join_semi")
    assert "LeftAnti" in _optimized(spark, sf_dir, "q_join_anti")


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    # map-side combine: HashAggregate(partial) under the exchange
    plan = _plan(spark, sf_dir, "q_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_value_map_enrichment_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_map_values_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the fact side must not shuffle


def test_ivf_corpus_never_shuffled_for_join(spark, sf_dir):
    # the IVF probe is a broadcast equi-join on cell: corpus side stays
    # put; only centroid/probe frames (tiny) move
    plan = _plan(spark, sf_dir, "q_knn_ivf")
    assert "BroadcastHashJoin [cell" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    # the 100 TB co-location story: same bucket key + count on both
    # sides -> join planned with zero shuffles (no Exchange operator)
    from ai_etl_pipeline_spark.sources.writers import write_bucketed_table

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed_table(
        orders, "b_orders", ["o_custkey"], 4,
        sort_cols=["o_custkey"], path=str(tmp_path / "b_orders"),
    )
    write_bucketed_table(
        cust, "b_customer", ["c_custkey"], 4,
        sort_cols=["c_custkey"], path=str(tmp_path / "b_customer"),
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path: a broadcast would mask the
        # bucketing (and BroadcastExchange still counts as an Exchange)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            spark.table("b_orders").o_custkey == spark.table("b_customer").c_custkey,
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_large_orders_having_before_join(spark, sf_dir):
    # Q18 shape: the total_qty > 150 filter must run on the aggregate
    # BEFORE the orders join (only qualifying keys reach the join)
    plan = _optimized(spark, sf_dir, "q_large_orders")
    agg_pos = plan.find("Aggregate")
    join_pos = plan.find("Join")
    assert agg_pos > join_pos >= 0  # optimized tree prints joins above aggs


def test_minhash_band_join_reuses_exchange(spark, sf_dir):
    # the 8 band projections must reuse ONE shuffled signature relation,
    # not re-shuffle the corpus per band; and candidates come from the
    # bucket equi-join, never a cross join
    plan = _plan(spark, sf_dir, "q_dedup_minhash_lsh", execute=True)
    assert "ReusedExchange" in plan  # AQE finalizes reuse only on execution
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_sessionize_single_shuffle(spark, sf_dir):
    # repartition(user_id) + both window functions must share ONE
    # hash(user_id) exchange; the explicit repartition keeps it over a
    # one-partition read too
    plan = _split_plan(spark, sf_dir, "q_events_sessionize")
    assert plan.count("Exchange hashpartitioning") == 1
    assert _plan(spark, sf_dir, "q_events_sessionize").count("Exchange") == 1


def test_asof_join_single_shuffle_no_range_explosion(spark):
    # union+window rendering: ONE shuffle on the key (both window
    # functions share it), no join operator at all in the matching phase
    from ai_etl_pipeline_spark.operators import relational as rel

    left = spark.createDataFrame([(1, "u", 10)], "event_id long, user string, ts long")
    right = spark.createDataFrame([("u", 5, 1.0)], "user string, ts long, px double")
    out = rel.asof_join(left, right, on="user", right_cols=["px"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan  # no SortMerge/NestedLoop/Cartesian anywhere


def test_text_tier_is_pure_codegen(spark, sf_dir):
    # scan-speed contract: single projection, no shuffle, no Python
    for q in ("q_text_gopher", "q_text_repetition", "q_emb_quantize",
              "q_text_quality", "q_text_tokens"):
        plan = _plan(spark, sf_dir, q)
        assert "Exchange" not in plan, q
        assert "EvalPython" not in plan, q  # no Batch/ArrowEvalPython


def test_cluster_iteration_plans_stay_constant(spark):
    # the hash-min loop must not grow the logical plan: every round joins
    # two localCheckpoint-ed leaves, so round N's plan size equals round
    # 1's (the r2 fix: persist alone left planning O(rounds^2))
    from pyspark.sql import functions as F

    from ai_etl_pipeline_spark.operators import dedup as dd

    chain = [(i, i + 1) for i in range(1, 8)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    out = dd.near_duplicate_clusters(pairs, ids, "doc_id")
    # the returned frame joins all_ids to the FINAL checkpointed labels:
    # its plan must reference a checkpoint leaf, not the iteration tree
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan  # localCheckpoint leaf
    assert "Union" not in plan   # no accumulated per-round unions


def test_chunk_pack_single_shuffle(spark, sf_dir):
    # concat-and-chunk packing: one exchange (the shard key), then pure
    # window + explode arithmetic — the whole packing stage is codegen-able;
    # no exchange at all over a one-partition read
    plan = _split_plan(spark, sf_dir, "q_pack_chunks")
    assert plan.count("Exchange hashpartitioning") == 1
    assert _plan(spark, sf_dir, "q_pack_chunks").count("Exchange") == 0
    assert "Generate explode" in plan  # sequence/explode, not a UDF
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_next_fit_pack_is_arrow_grouped(spark, sf_dir):
    # the sequential packing variant runs as ONE grouped Arrow stage on
    # the shard key — no row-at-a-time Python, no second shuffle; no
    # exchange at all over a one-partition read
    plan = _split_plan(spark, sf_dir, "q_pack_sequences")
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert _plan(spark, sf_dir, "q_pack_sequences").count("Exchange") == 0


def test_quantile_filter_broadcasts_thresholds(spark, sf_dir):
    # corpus joins the dimension-sized per-stratum thresholds broadcast;
    # the documents relation itself must not shuffle
    plan = _plan(spark, sf_dir, "q_quality_quantile")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_merge_upsert_single_shuffle(spark, sf_dir):
    # union + key window: one exchange total, regardless of source count;
    # none over one-partition reads
    plan = _split_plan(spark, sf_dir, "q_merge_upsert")
    assert plan.count("Exchange hashpartitioning") == 1
    assert _plan(spark, sf_dir, "q_merge_upsert").count("Exchange") == 0
    assert "Union" in plan


def test_tpch_shapes_broadcast_dims_and_scalars(spark, sf_dir):
    # Q14: part dim broadcast against the lineitem scan
    plan = _plan(spark, sf_dir, "q_promo_revenue_share")
    assert "BroadcastHashJoin" in plan
    # Q15: the global-max scalar reaches the per-supplier agg via a
    # broadcast, never a shuffle of the agg output
    plan15 = _plan(spark, sf_dir, "q_top_supplier_revenue")
    assert "BroadcastHashJoin" in plan15 or "BroadcastNestedLoopJoin" in plan15


def test_last_shipper_self_joins_are_semi_anti(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_last_shipper")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    # hive-style partition layout: a filter on the partition key must
    # become a PartitionFilter (directory pruning) — the scan never
    # touches other partitions' files
    from ai_etl_pipeline_spark.sources.writers import write_parquet

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "docs_by_lang")
    write_parquet(docs, path, partition_by=["lang"])
    back = spark.read.parquet(path).where("lang = 'en'").select("doc_id")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1].split("]")[0]
    assert back.count() == docs.where("lang = 'en'").count()


def test_sorted_write_enables_rowgroup_skipping(spark, sf_dir, tmp_path):
    # sortWithinPartitions clusters files on the filter column, so the
    # point predicate is pushed to the scan where row-group min/max
    # stats can skip; correctness is unchanged
    from ai_etl_pipeline_spark.sources.writers import write_sorted_parquet

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders_sorted")
    write_sorted_parquet(orders, path, sort_cols=["o_custkey"])
    back = spark.read.parquet(path).where("o_custkey = 7").select("o_orderkey")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,7)]" in plan
    assert back.count() == orders.where("o_custkey = 7").count()


def test_zorder_write_clusters_both_columns(spark, sf_dir, tmp_path):
    # Morton layout: point filters on EITHER interleaved column are
    # pushed to the scan, and the z-sort clusters both dimensions so
    # row-group stats stay selective (a plain sort serves only its
    # leading column). Correctness: values round-trip unchanged.
    from pyspark.sql import functions as F

    from ai_etl_pipeline_spark.sources.writers import write_zorder_parquet, zorder_value

    # zorder_value is the documented bit interleave
    df2 = spark.createDataFrame([(0b101, 0b011)], "x long, y long")
    z = df2.select(zorder_value(["x", "y"], bits=3).alias("z")).first()["z"]
    # x bits at even positions, y bits at odd:
    # x=101, y=011 -> (x0,y0,x1,y1,x2,y2) = 1,1,0,1,1,0 -> 0b011011
    assert z == 0b011011

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders_z")
    write_zorder_parquet(orders, path, ["o_custkey", "o_orderkey"], bits=16)
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    for col in ("o_custkey", "o_orderkey"):
        probe = back.where(F.col(col) == 7).select("o_orderdate")
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert f"EqualTo({col},7)" in plan
        assert probe.count() == orders.where(F.col(col) == 7).count()


def test_incremental_dedup_no_cartesian_and_semi_pruned(spark, sf_dir):
    # delta probes the band index on an equi-key; the verify stage is
    # semi-join-pruned to candidate docs — never an all-pairs product
    plan = _plan(spark, sf_dir, "q_dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_incremental_probe_of_bucketed_band_index_no_corpus_exchange(
    spark, sf_dir, tmp_path
):
    # the flagship 100 TB claim: the persisted (band, sig)-bucketed
    # corpus band index is probed by a delta batch with NO Exchange on
    # the corpus side — only the (small) probe shuffles to the bucket
    # layout. Broadcast is forced off so a BroadcastExchange can't mask
    # the bucketing.
    from ai_etl_pipeline_spark.operators import dedup
    from ai_etl_pipeline_spark.sources.writers import write_bucketed_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where("doc_id % 5 != 0")
    delta = docs.where("doc_id % 5 = 0")
    write_bucketed_table(
        dedup.minhash_band_relation(corpus, "doc_id", "text", 3, 16, 8),
        "t_band_index",
        ["band", "sig"],
        num_buckets=8,
        sort_cols=["band", "sig"],
        path=str(tmp_path / "band_index"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        idx = spark.table("t_band_index").withColumnRenamed("doc_id", "__id_x")
        probe = dedup.minhash_band_relation(
            delta, "doc_id", "text", 3, 16, 8
        ).withColumnRenamed("doc_id", "__id_d")
        joined = idx.join(probe, ["band", "sig"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the index is the join's LEFT child, so every line of the
        # corpus branch carries the ':' tree prefix
        corpus_branch = [
            ln for ln in plan.splitlines() if ln.lstrip().startswith(":")
        ]
        assert any("Bucketed: true" in ln for ln in corpus_branch)
        assert not any("Exchange" in ln for ln in corpus_branch)
        # and the probe DID land on the bucket layout: a probe-side
        # Exchange hash-partitioned on (band, sig) with the bucket count
        # (the probe's own signature shuffle is the only other Exchange)
        assert any(
            "Exchange hashpartitioning(band" in ln and ", 8)" in ln
            for ln in plan.splitlines()
            if not ln.lstrip().startswith(":")
        )
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_band_index")


def test_parquet_checkpointer_resumes_after_crash(spark, tmp_path):
    """The reference checkpoints after every stage and resumes from
    disk on restart (translate.py:174-176); the engine twin must do the
    same: a run killed at stage 3 leaves stages 1-2 materialized, and
    the next run reloads them WITHOUT recomputation, runs only the
    missing suffix. Changing an upstream recipe invalidates exactly the
    downstream keys (content-addressing), so stale data is never
    reused."""
    import pytest
    from pyspark.sql import functions as F

    from ai_etl_pipeline_spark.plans.pipeline import ParquetCheckpointer

    calls = {"s1": 0, "s2": 0, "s3": 0}

    def build_s1():
        calls["s1"] += 1
        return spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("g"))

    def run(root, crash_at_3=False, s1_params=""):
        ck = ParquetCheckpointer(spark, root, "t")
        s1 = ck.stage("s1", build_s1, params=s1_params)

        def build_s2():
            calls["s2"] += 1
            return s1.groupBy("g").agg(F.sum("id").alias("tot"))

        s2 = ck.stage("s2", build_s2, inputs=("s1",))

        def build_s3():
            calls["s3"] += 1
            if crash_at_3:
                raise RuntimeError("killed")
            return s2.withColumn("double_tot", F.col("tot") * 2)

        s3 = ck.stage("s3", build_s3, inputs=("s2",))
        return ck, s3

    root = str(tmp_path / "ck")
    with pytest.raises(RuntimeError, match="killed"):
        run(root, crash_at_3=True)
    assert calls == {"s1": 1, "s2": 1, "s3": 1}  # s3 attempted, nothing saved

    # resume: stages 1-2 reload from parquet, only stage 3 computes
    ck2, out = run(root)
    assert calls == {"s1": 1, "s2": 1, "s3": 2}
    assert ck2.computed == ["s3"]
    assert out.count() == 7

    # a re-run with everything materialized computes nothing at all
    ck3, out2 = run(root)
    assert calls == {"s1": 1, "s2": 1, "s3": 2}
    assert ck3.computed == []

    # changing stage-1's recipe changes every downstream key -> full recompute
    ck4, _ = run(root, s1_params="v2")
    assert calls == {"s1": 2, "s2": 2, "s3": 3}
    assert ck4.computed == ["s1", "s2", "s3"]


def test_checkpointed_curation_matches_lazy_composition(spark, documents, tmp_path):
    """The checkpointed curation pipeline must return exactly the rows
    of the lazy composition (same operators, same params) — both on the
    first (computing) run and on the second (all-reload) run."""
    from pyspark.sql import functions as F

    from ai_etl_pipeline_spark.operators import dedup, sampling, textstats
    from ai_etl_pipeline_spark.plans.pipeline import run_curation_pipeline_checkpointed

    pairs = dedup.minhash_lsh_near_duplicates(
        documents, "doc_id", "text", shingle_k=3, num_hashes=16, bands=8, threshold=0.5
    )
    clusters = dedup.near_duplicate_clusters(pairs, documents.select("doc_id"), "doc_id")
    kept = documents.join(
        F.broadcast(
            clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        ),
        "doc_id",
        "left_anti",
    )
    m = textstats.curation_metrics(
        kept, "doc_id", "text", min_stop_hits=1, include_entropy=True
    ).where(
        F.col("keep_gopher") & (F.col("dup_line_frac") <= 0.5) & (F.col("entropy") >= 1.0)
    )
    expected = {
        tuple(r)
        for r in sampling.hash_sample(
            m.select("doc_id", "n_words", "dup_line_frac", "entropy"),
            "doc_id",
            0.5,
            salt="curate2",
        ).collect()
    }

    root = str(tmp_path / "cur")
    got1 = {
        tuple(r)
        for r in run_curation_pipeline_checkpointed(documents, root).collect()
    }
    got2 = {
        tuple(r)
        for r in run_curation_pipeline_checkpointed(documents, root).collect()
    }
    assert got1 == expected and got2 == expected and len(expected) > 0


def test_curation_scale_plan_has_no_exact_percentile(spark, sf_dir):
    """The 100 TB-profile pipeline (q_pipeline_curation_scale's
    _curation_scale composite) must be PURE sketch: no exact Percentile
    aggregate (one reducer sees every value) and no exact distinct over
    the corpus — GK percentile_approx and HLL sketches only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = entrymod._curation_scale(docs)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # exact percentile renders as `percentile(...)`; the sketch as
    # `percentile_approx(...)` — strip approx mentions, then assert
    cleaned = plan.replace("percentile_approx", "<gk>")
    assert "percentile(" not in cleaned.lower()
    assert "<gk>" in cleaned  # the sketch path is actually in the plan
    assert "hllsketchagg" in plan.lower() or "hll_sketch_agg" in plan.lower()


def test_partitioned_scan_prunes_partitions(spark, sf_dir):
    # q_source_partitioned writes lineitem hive-partitioned by
    # l_returnflag and reads back WHERE l_returnflag = 'R': the filter
    # must land in PartitionFilters (directory pruning), not as a data
    # filter over all partitions
    plan = _plan(spark, sf_dir, "q_source_partitioned")
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "l_returnflag" in m.group(1)


def test_link_prediction_wedges_are_filtered_before_selfjoin(spark, sf_dir):
    # the hub cap (sd <= max_src_degree) must apply BEFORE the wedge
    # self-join, not after: a post-join filter would materialize the
    # quadratic hub pairs it exists to prevent. In the optimized-plan
    # tree, children print BELOW their parent — so the cap Filter must
    # appear on a line AFTER the wedge self-join line (it is a
    # descendant = evaluated first), and no cap Filter may sit above it
    # (which would mean the hub pairs were joined, then filtered).
    plan = _optimized(spark, sf_dir, "q_graph_link_prediction")
    lines = plan.splitlines()
    wedge = [
        i
        for i, ln in enumerate(lines)
        if "Join Inner" in ln and "node_a" in ln and "node_b" in ln and "__s" in ln
    ]
    # the cap filters the src-degree window's column, which the optimizer
    # renames from __sd to the window's own output name
    cap = [
        i
        for i, ln in enumerate(lines)
        if "Filter" in ln and "<= 64)" in ln and ("__sd" in ln or "_we" in ln)
    ]
    assert wedge, f"wedge self-join not found in plan:\n{plan}"
    assert cap, f"degree-cap filter (__sd <= 64) not found in plan:\n{plan}"
    # every cap filter is a descendant of (prints below) the wedge join
    assert all(c > wedge[0] for c in cap), (
        f"cap filter above the wedge self-join (post-join filtering):\n{plan}"
    )
