"""Physical-plan regression tests: the plan SHAPES that make these
queries scale must not silently regress (SURVEY.md §4.2)."""

from __future__ import annotations

import pytest

from event_stream_for_k8s_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_and_pruning(spark):
    p = _plan(spark, "scan_parquet")
    assert "PushedFilters: [" in p and "GreaterThanOrEqual" in p.replace(
        "IsNotNull", ""
    ), p[:500]
    # column pruning: only the 3 selected columns reach the reader
    assert "l_extendedprice" not in p.split("ReadSchema")[1][:200]


def test_broadcast_join_is_broadcast(spark):
    p = _plan(spark, "join_broadcast")
    assert "BroadcastHashJoin" in p


def test_topk_is_take_ordered(spark):
    p = _plan(spark, "topk")
    assert "TakeOrderedAndProject" in p


def test_knn_brute_broadcasts_queries_not_corpus(spark):
    p = _plan(spark, "llm_knn_brute")
    assert "BroadcastNestedLoopJoin" in p


def test_agg_has_partial_aggregation(spark):
    p = _plan(spark, "agg_hash")
    # partial (map-side) + final aggregation = two HashAggregate nodes
    assert p.count("HashAggregate") >= 2


def test_dpo_pairs_is_one_shuffle_no_join(spark):
    """llm_dpo_pairs' claimed shape: chosen/rejected via struct
    min/max in ONE map-combinable aggregate — a single prompt-key
    exchange, no window, no self-join, no candidate explosion."""
    p = _plan(spark, "llm_dpo_pairs")
    assert p.count("Exchange") == 1, p
    # struct min/max plans as SortAggregate; partial + final still
    # means the combine happens map-side before the one exchange
    assert p.count("Aggregate(") >= 2 and "partial_" in p
    assert "Window" not in p and "SortMergeJoin" not in p
    assert "HashJoin" not in p and "NestedLoop" not in p


def test_asof_join_has_no_cartesian(spark):
    p = _plan(spark, "join_asof")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_whole_stage_codegen_on_hot_path(spark):
    # codegen spans only materialize in the FINAL adaptive plan —
    # execute first, then inspect.
    df = REGISTRY["agg_hash"].spark(spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators carry the "*(n)" stage marker in the tree
    assert "isFinalPlan=true" in p and "*(" in p


def test_partition_pruning(spark):
    df = REGISTRY["scan_partitioned"].spark(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in p and "day" in p.split("PartitionFilters")[1][:120]


def test_bucketed_join_has_no_shuffle(spark):
    from event_stream_for_k8s_spark.plans.joins import _bucketed_tables
    from pyspark.sql import functions as F

    li, o = _bucketed_tables(spark, SF)
    # disable broadcast so the bucketing property (not broadcast) is
    # what eliminates the exchange — at real scale neither side fits
    # in a broadcast anyway
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(li).join(
            spark.table(o), F.col("l_orderkey") == F.col("o_orderkey")
        )
        p = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange" not in p, p[:800]
    assert "SortMergeJoin" in p


def test_compaction_reduces_file_count(spark):
    import glob
    import os

    from event_stream_for_k8s_spark.sources.roundtrip import cache_dir

    REGISTRY["maint_compact"].spark(spark, SF)  # materializes both dirs
    n = lambda d: len(  # noqa: E731
        glob.glob(os.path.join(cache_dir(SF, d), "**", "*.parquet"), recursive=True)
    )
    assert n("events_fragmented") == 64
    # sf0.001 events ≈ a few hundred KB << 128 MB target -> one file
    assert n("events_compacted") == 1


def test_kafka_transport_wiring(spark):
    """No broker/connector in this image: the probe must say so, the
    file fallback must produce the standard schema, and a forced kafka
    read must fail with Spark's data-source-not-found error (proving
    the wiring reaches the real connector lookup)."""
    import pytest as _pytest

    from event_stream_for_k8s_spark.sources import kafka as K
    from event_stream_for_k8s_spark.sources.roundtrip import (
        events_as_micros, materialize,
    )

    # option contract pinned WITHOUT a broker (this image has no
    # connector jars and no network to vendor them — the live
    # roundtrip is environment-blocked, documented in ROADMAP):
    # per-trigger admission = the reference's 1024 channel batch cap
    # (src/main.rs:61), at-least-once delivery, read-parallelism knob
    opts = K.kafka_reader_options(
        "b:9092", "kube-events", min_partitions=64
    )
    assert opts["maxOffsetsPerTrigger"] == str(K.REFERENCE_BATCH_CAP)
    assert K.REFERENCE_BATCH_CAP == 1024
    assert opts["failOnDataLoss"] == "false"
    assert opts["minPartitions"] == "64"
    assert opts["startingOffsets"] == "earliest"
    assert opts["subscribe"] == "kube-events"
    assert "minPartitions" not in K.kafka_reader_options("b", "t")

    available = K.kafka_available(spark)
    src = materialize(
        spark, SF, "events_stream_json",
        lambda out: events_as_micros(spark, SF)
        .coalesce(1).write.mode("overwrite").json(out),
    )
    stream = K.event_stream(spark, transport="auto", path=src)
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]
    if not available:
        with _pytest.raises(Exception, match="kafka|KAFKA|DATA_SOURCE"):
            K.read_kafka_events(spark, "localhost:9092", "events")
        # forced kafka transport (production mode) must fail LOUDLY
        # with the documented message — never silently switch
        # transports (VERDICT r05 #5)
        with _pytest.raises(
            RuntimeError, match="kafka transport requested"
        ):
            K.event_stream(
                spark,
                transport="kafka",
                brokers="localhost:9092",
                topic="kube-events",
                path=src,  # a valid fallback path must NOT rescue it
            )


def test_range_binned_join_is_hash_not_nested_loop(spark):
    """Round-4 rewrite: the range-COUNT runs as a two-level prefix sum
    (per-bucket windows), never a pair-materializing join — the sf1
    soak measured the old binned self-join at 30x for 10x data."""
    df = REGISTRY["join_range_binned"].spark(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in p and "CartesianProduct" not in p, p[:800]
    # the ordered prefix/as-of passes are Window nodes partitioned by
    # the day bucket
    assert "Window" in p


def test_hll_sketch_estimates_and_merge(spark):
    from pyspark.sql import functions as F

    from event_stream_for_k8s_spark.catalog import load

    from event_stream_for_k8s_spark.plans.relational import (
        hll_sketch_estimates,
    )

    got = {
        r["event_type"]: r["est"]
        for r in hll_sketch_estimates(spark, SF).collect()
    }
    ev = load(spark, SF, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["__all__"] = ev.select("user_id").distinct().count()
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(1, 0.05 * exact[k]), (k, est, exact[k])


def test_gapfill_grid_joins_are_broadcast(spark):
    # the calendar grid and the pre-aggregated hourly counts are both
    # bounded -> must broadcast, never shuffle the generated rows
    p = _plan(spark, "ts_gapfill")
    assert p.count("BroadcastHashJoin") >= 1, p[:800]
    assert "SortMergeJoin" not in p


def test_boilerplate_set_is_broadcast(spark):
    # the heavy-hitter n-gram set joins back to the corpus as a
    # broadcast; the corpus side must not shuffle for the join
    p = _plan(spark, "llm_boilerplate")
    assert "BroadcastHashJoin" in p


def test_decontaminate_eval_side_is_broadcast(spark):
    p = _plan(spark, "llm_decontaminate")
    assert "BroadcastHashJoin" in p


def test_zorder_is_pure_projection(spark):
    # 40 shift/mask ops but still one narrow map: no shuffle at all
    p = _plan(spark, "maint_zorder")
    assert "Exchange" not in p, p[:800]


def test_sessionize_single_shuffle(spark):
    # lag -> running sum -> session agg all reuse the user_id
    # partitioning: exactly one shuffle exchange in the plan
    p = _plan(spark, "batch_sessionize")
    n_exchange = p.count("Exchange hashpartitioning")
    assert n_exchange == 1, f"expected 1 shuffle, saw {n_exchange}:\n{p[:1200]}"


def test_stratified_sample_single_shuffle(spark):
    p = _plan(spark, "sample_stratified")
    n_exchange = p.count("Exchange hashpartitioning")
    assert n_exchange == 1, f"expected 1 shuffle, saw {n_exchange}:\n{p[:1200]}"


def test_sorted_layout_files_cluster_users(spark):
    # file-skipping evidence: after the clustered write, each user's
    # rows live in exactly ONE file (hash partition), and within a
    # file rows are sorted — min/max stats prune on user_id AND ts
    from pyspark.sql import functions as F

    df = REGISTRY["maint_sorted_layout"].spark(spark, SF)
    per = (
        df.withColumn("f", F.input_file_name())
        .groupBy("user_id")
        .agg(F.countDistinct("f").alias("nf"))
    )
    assert per.filter(F.col("nf") > 1).count() == 0


def test_inverted_index_single_shuffle(spark):
    # explode -> two windows -> groupBy all share the term
    # partitioning; posting-list cap happens BEFORE collect_list
    p = _plan(spark, "llm_inverted_index")
    n_exchange = p.count("Exchange hashpartitioning")
    assert n_exchange == 1, f"expected 1 shuffle, saw {n_exchange}:\n{p[:1200]}"


def test_ohlc_single_shuffle(spark):
    # both window passes and the final agg reuse (hour_ts, event_type)
    p = _plan(spark, "ts_ohlc")
    n_exchange = p.count("Exchange hashpartitioning")
    assert n_exchange == 1, f"expected 1 shuffle, saw {n_exchange}:\n{p[:1200]}"


def test_retention_cohort_side_is_broadcast(spark):
    p = _plan(spark, "ts_retention")
    assert "BroadcastHashJoin" in p


def test_running_distinct_single_shuffle(spark):
    # repartition(user_id) must satisfy BOTH window clusterings
    # ((user_id, event_type) and (user_id)) — exactly one exchange.
    p = _plan(spark, "win_running_distinct")
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"expected 1 shuffle, saw {n}:\n{p[:1200]}"


def test_corpus_pipeline_two_shuffles(spark):
    # dedup-window shuffle on md5(text) + final split rollup — the
    # quality gate and split assignment must NOT add exchanges.
    p = _plan(spark, "llm_corpus_pipeline")
    n = p.count("Exchange hashpartitioning")
    assert n <= 2, f"expected <=2 shuffles, saw {n}:\n{p[:1200]}"


def test_blocked_dedup_joins_are_equi_joins(spark):
    # The content-blocked dedup tiers must stay hash/sort-merge
    # equi-joins on the block key — a "simplification" to an OR-join
    # (llm_dedup_embed's oracle form) or a non-equi pair predicate
    # would silently become a nested-loop all-pairs scan.
    for name in ("llm_dedup_ngram", "llm_dedup_embed", "join_fuzzy_blocked"):
        p = _plan(spark, name)
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name


def test_fill_forward_grid_has_no_unbounded_broadcast(spark):
    # VERDICT r01 #3: the calendar grid must come from a per-user
    # sequence() explode, NOT days.crossJoin(broadcast(users)) +
    # broadcast(daily) — at 100x users those broadcasts OOM. The only
    # legitimate broadcast side is the 1-row global day-bounds
    # relation; the daily observations attach via a shuffle join.
    df = REGISTRY["ts_fill_forward"].spark(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode(sequence(" in p, p[:1200]
    assert "CartesianProduct" not in p
    # no broadcast HINTS besides the 1-row bounds: AQE may still pick a
    # broadcast join at tiny SF by observed size (that's the point of
    # AQE — it won't at scale), but the plan must not FORCE one.
    lp = df._jdf.queryExecution().analyzed().toString()
    n_hints = lp.count("ResolvedHint")
    assert n_hints <= 1, f"expected <=1 broadcast hint (bounds): {n_hints}"


def test_runtime_bloom_filter_injection(spark):
    # 100 TB posture (SCALING.md §2): a selective dim filter on the
    # build side of a SHUFFLE join injects a bloom filter into the
    # fact-side scan. The default gates (application-side scan
    # > 10 GB, broadcast-sized dims broadcast instead) are exactly
    # right at scale but never trip on test data, so force them down
    # scoped to this test and assert the rule itself fires.
    from pyspark.sql import functions as F

    from event_stream_for_k8s_spark.catalog import load

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = load(spark, SF, "lineitem")
        o = load(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"))
        )
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in p and "bloom_filter_agg" in p, p[:1500]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_arrow_ipc_commit_protocol(spark, tmp_path):
    # The custom Python DataSource sink must be atomic: tmp litter from
    # failed attempts is invisible to readers, and overwrite replaces
    # the whole previous generation.
    import os

    from event_stream_for_k8s_spark.sources import arrow_ipc

    arrow_ipc.register(spark)
    out = str(tmp_path / "ipc")
    df = spark.range(0, 100, 1, 4).withColumnRenamed("id", "v")
    df.write.format("arrow-ipc").mode("append").option("path", out).save()
    files = os.listdir(out)
    assert "_SUCCESS" in files
    assert not [f for f in files if f.endswith(".tmp")]
    assert open(os.path.join(out, "_SUCCESS")).read() == "100"

    # simulated failed-attempt litter must not surface in reads
    with open(os.path.join(out, "part-99999-0.arrow.tmp"), "w") as f:
        f.write("garbage")
    back = spark.read.format("arrow-ipc").option("path", out).load()
    assert back.count() == 100
    assert [f.name for f in back.schema.fields] == ["v"]
    # file-per-task on both sides: 4 write tasks -> 4 read partitions
    assert back.rdd.getNumPartitions() == 4

    # overwrite truncates the old generation AND stale tmp litter
    spark.range(0, 7, 1, 2).withColumnRenamed("id", "v").write.format(
        "arrow-ipc"
    ).mode("overwrite").option("path", out).save()
    files = os.listdir(out)
    assert not [f for f in files if f.endswith(".tmp")]
    assert open(os.path.join(out, "_SUCCESS")).read() == "7"
    assert (
        spark.read.format("arrow-ipc").option("path", out).load().count() == 7
    )


def test_token_budget_no_global_window_over_docs(spark):
    """llm_token_budget must never run an unpartitioned window over
    the per-document relation — only over the tiny distinct-length
    histogram (post-aggregation). The per-doc boundary rank window is
    partitioned by ntok."""
    p = _plan(spark, "llm_token_budget")
    # the one per-row window (boundary rank) is partitioned by ntok
    rank_lines = [
        ln for ln in p.splitlines()
        if "Window" in ln and "row_number" in ln
    ]
    assert rank_lines, p[:400]
    for ln in rank_lines:
        assert "ntok" in ln, ln
    # the unpartitioned cumulative windows run on the post-aggregation
    # length histogram, so partial aggregation precedes them
    assert p.count("HashAggregate") >= 2


def test_bm25_broadcasts_small_sides(spark):
    """llm_bm25: the scalar stats and per-term df sides broadcast;
    wide exchanges are the tf groupBy and the final per-term agg."""
    p = _plan(spark, "llm_bm25")
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_dedup_ngram_salted_and_single_scan(spark):
    """The capped ngram dedup reads the corpus once (persisted salted
    gram relation on both self-join sides) and joins with the salt in
    the equi-key, so a mega-block spreads across executors."""
    p = _plan(spark, "llm_dedup_ngram")
    # both self-join sides read the one persisted relation (the
    # InMemoryRelation subtree re-prints its parquet source, so count
    # cache READS, not scan mentions)
    assert p.count("InMemoryTableScan") >= 2, p.count("InMemoryTableScan")
    assert "sub" in p  # salt participates in the join key


def test_graph_triangles_no_nested_loop(spark):
    """Triangle enumeration must stay equi-joins end to end: pair
    generation blocks on (hour, event_type), the 2-path and closing
    joins key on oriented endpoints. A nested-loop anywhere here is
    the all-pairs blowup the degree orientation exists to prevent."""
    for name in ("graph_degree", "graph_triangles"):
        p = _plan(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
    # the oriented edge relation is persisted and read by all three
    # self-join sides + the closing join
    p = _plan(spark, "graph_triangles")
    assert p.count("InMemoryTableScan") >= 3, p.count("InMemoryTableScan")


def test_m4_single_shuffle_serves_four_orderings(spark):
    """ts_downsample_m4: one Exchange on the bucket key; the four
    role orderings are in-partition sorts over it, and the role
    fan-out is an array explode, not four scans."""
    p = _plan(spark, "ts_downsample_m4")
    import re

    assert len(re.findall(r"\bExchange (hash|Single)", p)) <= 1, p[:600]
    assert p.count("Scan parquet") == 1
    assert p.count("Window") >= 4


def test_dsir_histograms_broadcast_back(spark):
    """llm_dsir_weights: the bucket log-ratio relation and totals
    join back as broadcasts; the only wide exchanges are the keyed
    aggregates. The cached feature relation is per-(doc, bucket)
    counts, read by all three consumers."""
    p = _plan(spark, "llm_dsir_weights")
    assert p.count("BroadcastExchange") >= 2
    assert p.count("InMemoryTableScan") >= 2
    assert "CartesianProduct" not in p


def test_novelty_is_window_not_join(spark):
    """llm_ngram_novelty: first-occurrence must stay a window over
    the gram partition (one pass), not a first-seen aggregate joined
    back (second corpus scan + persist)."""
    p = _plan(spark, "llm_ngram_novelty")
    assert "Window" in p
    assert "SortMergeJoin [g" not in p and "ShuffledHashJoin [g" not in p


def test_tpch_q9_partsupp_join_shape(spark):
    """Q9 on the derived partsupp: dimension legs broadcast, the
    partsupp pair join is an equi hash/merge join (never a cartesian),
    and the partsupp derivation itself contributes no shuffle (its
    only exchange inputs are broadcasts)."""
    p = _plan(spark, "tpch_q9_product_type_profit")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # the 4x explode over part must not sit under its own Exchange
    assert "Generate explode" in p or "Generate" in p


def test_tpch_q2_min_cost_probe_no_cartesian(spark):
    """Q2's min-cost equality probe joins on (partkey, cost) — an
    equi-join, not a theta/cartesian shape. The only nested-loop
    nodes allowed are the single-row |supplier| scalar broadcasts
    inside the partsupp derivation (IdentityBroadcastMode over a
    SinglePartition aggregate), one per derivation occurrence."""
    p = _plan(spark, "tpch_q2_min_cost_supplier")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 2
    assert p.count("IdentityBroadcastMode") == p.count(
        "BroadcastNestedLoopJoin"
    )
    # the probe itself is an equi join on (partkey, cost)
    assert "SortMergeJoin [ps_partkey" in p or "BroadcastHashJoin [ps_partkey" in p


def test_tpch_q21_single_aggregate_formulation(spark):
    """Q21's EXISTS/NOT-EXISTS pair must stay rewritten as the
    per-order distinct-supplier aggregate: no inequality-conditioned
    self-join (which plans as SMJ-with-residual or nested-loop over
    the whole lineitem twice), and no cartesian."""
    p = _plan(spark, "tpch_q21_waiting_suppliers")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the rewrite computes both distinct counts in ONE aggregate chain
    # over l_orderkey (expand for the two count-distincts is fine)
    assert "count(distinct" in p.lower() or "Expand" in p


def test_semdedup_blocked_not_global_pairs(spark):
    """SemDeDup pairs only within the cluster block: the self-join is
    an equi hash/merge join on (label, subkey, salt) — the size-aware
    sign-quantizer cell (subkey) and the mega-cluster backstop salt
    (row_number div 4096) must BOTH be part of the JOIN KEY, not a
    post-join filter."""
    p = _plan(spark, "llm_semdedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    import re
    join_lines = [
        ln for ln in p.splitlines()
        if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln
            or "BroadcastHashJoin" in ln)
    ]
    assert any("salt" in ln for ln in join_lines), join_lines
    assert any("subkey" in ln for ln in join_lines), join_lines
    # higher-order functions stay Catalyst-native: no Python UDF in
    # the dot-product path
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_scan_binaryfile_projects_metadata_only(spark):
    """The binary scan carries (path-derived source, length, md5) —
    no Python evaluation; md5 runs JVM-side."""
    p = _plan(spark, "scan_binaryfile")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_equi_depth_approx_has_no_global_window(spark):
    """The 100 TB variants must not contain the exact forms' global-
    order ntile window (a single-partition sort of the world)."""
    for name in ("agg_hist_equi_depth_approx", "llm_ccnet_buckets_approx"):
        p = _plan(spark, name)
        assert "Window" not in p, f"{name} regressed to a window plan"
        # cutpoints reach the rows via a broadcast, not a sort
        assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_pagerank_exact_has_no_cartesian_beyond_broadcast(spark):
    """3 unrolled integer rounds: every join is an equi-join or a
    broadcast of a 1-row scalar (n, dangling mass) — no shuffled
    cartesian anywhere."""
    p = _plan(spark, "graph_pagerank_exact")
    assert "CartesianProduct" not in p, p[:800]


def test_multidim_dedup_is_partial_agg_not_window(spark):
    """k8s_envelope_multidim_count's A6 dedup runs as a min_by
    AGGREGATION with a PARTIAL (map-side) phase — duplicates collapse
    to ~|keys| rows per mapper BEFORE the exchange — not as a window
    (which ships every row through the shuffle and sorts it on the
    reducer). Round-6 rewrite, measured 22% faster at sf0.1.
    (The min_by lands as SortAggregate, not HashAggregate — struct-
    typed agg buffers aren't Tungsten-hashable — but the partial
    phase, the shuffle-volume collapse, is what matters.)"""
    p = _plan(spark, "k8s_envelope_multidim_count")
    assert "Window" not in p, p[:800]
    assert "partial_min_by" in p, p[:800]  # map-side combine present
    # label rollup keeps its partial+final HashAggregate pair
    assert p.count("HashAggregate") >= 2, p[:800]


def test_shuffle_census_gate(spark):
    """The registry-wide shuffle census (tools/shuffle_census.py) as a
    regression GATE, not a report (VERDICT r05 #6): for the headline
    bench set plus the recorded top shuffle outliers, a plan whose
    keyed-shuffle count RISES above tools/census_baseline.json fails.
    Dropping below the baseline is fine (that's an optimization — then
    re-record the baseline)."""
    import json
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
    from bench import HEADLINE
    from tools.shuffle_census import census

    baseline = json.loads(
        (
            pathlib.Path(__file__).resolve().parents[1]
            / "tools"
            / "census_baseline.json"
        ).read_text()
    )
    recorded = baseline["queries"]
    outliers = sorted(
        recorded, key=lambda n: -recorded[n]["shuffles"]
    )[:12]
    worse = {}
    for name in sorted(set(HEADLINE) | set(outliers)):
        now = census(_plan(spark, name))
        base = recorded[name]
        if now["shuffles"] > base["shuffles"]:
            worse[name] = {"now": now, "recorded": base}
    assert not worse, (
        "keyed-shuffle count rose vs tools/census_baseline.json "
        f"(re-justify or fix the plan): {worse}"
    )


@pytest.fixture
def _private_cache(tmp_path, monkeypatch):
    """Point the materialize cache into this test's ``tmp_path``. The
    shared ``.data_cache`` is keyed by the ``sf_dir`` path, and pytest
    reuses numbered temp paths once its base temp dir is emptied, so a
    leftover ``_DONE`` from an earlier run would let ``materialize``
    return before any writer or lock is exercised."""
    from event_stream_for_k8s_spark.sources import roundtrip

    monkeypatch.setattr(roundtrip, "CACHE_ROOT", str(tmp_path / "cache"))


def test_materialize_serializes_concurrent_writers(spark, tmp_path, _private_cache):
    """Two threads materializing the SAME fixture: exactly one build
    runs (the O_EXCL lock), the loser blocks until _DONE then reuses
    the winner's files — no interleaved overwrite-mode writes
    (round-6 TOCTOU fix)."""
    import threading
    import time as _time

    from event_stream_for_k8s_spark.sources.roundtrip import materialize

    sf = str(tmp_path / "sf")
    builds: list[str] = []

    def writer(out: str) -> None:
        builds.append(out)
        _time.sleep(0.5)  # hold the lock so the loser must wait
        with open(f"{out}/data.txt", "w") as f:
            f.write("payload")

    results: list[str] = []
    threads = [
        threading.Thread(
            target=lambda: results.append(
                materialize(spark, sf, "lock_probe", writer)
            )
        )
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert len(builds) == 1, "both threads ran the builder"
    assert len(results) == 2 and results[0] == results[1]
    with open(f"{results[0]}/data.txt") as f:
        assert f.read() == "payload"


def test_materialize_failed_writer_hands_off(spark, tmp_path, _private_cache):
    """If the winning writer RAISES (lock released, no marker), a
    waiting thread takes over the build instead of timing out."""
    import threading
    import time as _time

    from event_stream_for_k8s_spark.sources.roundtrip import materialize

    sf = str(tmp_path / "sf")
    attempts: list[int] = []

    def flaky_writer(out: str) -> None:
        attempts.append(1)
        if len(attempts) == 1:
            _time.sleep(0.3)  # make the second thread wait on the lock
            raise RuntimeError("simulated writer crash")
        with open(f"{out}/data.txt", "w") as f:
            f.write("recovered")

    results: list[str] = []
    errors: list[Exception] = []

    def run() -> None:
        try:
            results.append(materialize(spark, sf, "flaky_probe", flaky_writer))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
        _time.sleep(0.05)  # deterministic winner
    for t in threads:
        t.join(timeout=30)
    assert len(attempts) == 2  # crash, then the waiter's retry
    assert len(errors) == 1 and "simulated" in str(errors[0])
    assert len(results) == 1
    with open(f"{results[0]}/data.txt") as f:
        assert f.read() == "recovered"


def test_materialize_reclaims_dead_writer_lock(spark, tmp_path, _private_cache):
    """A hard-killed writer (SIGKILL/OOM) dies while HOLDING the
    flock; the kernel releases it with the process, so a later caller
    acquires immediately instead of blocking 600 s and raising. (The
    r07 pid/timestamp reclaim heuristic had a check-then-rename TOCTOU
    and could steal a slow live writer's lock — ADVICE r07; flock has
    neither problem.)"""
    import os
    import signal
    import subprocess
    import sys
    import time as _time

    from event_stream_for_k8s_spark.sources.roundtrip import (
        cache_dir,
        materialize,
    )

    sf = str(tmp_path / "sf")
    out = cache_dir(sf, "orphan_probe")
    os.makedirs(out, exist_ok=True)
    lock = f"{out}/_WRITING.lock"
    # a child that takes the flock and then hangs forever
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            (
                "import fcntl,os,sys,time\n"
                f"fd=os.open({lock!r},os.O_CREAT|os.O_WRONLY)\n"
                "fcntl.flock(fd,fcntl.LOCK_EX)\n"
                "print('locked',flush=True)\n"
                "time.sleep(600)\n"
            ),
        ],
        stdout=subprocess.PIPE,
    )
    assert child.stdout.readline().strip() == b"locked"
    child.send_signal(signal.SIGKILL)  # dies holding the lock
    child.wait()

    t0 = _time.time()
    result = materialize(
        spark, sf, "orphan_probe",
        lambda o: open(f"{o}/data.txt", "w").write("reclaimed"),
    )
    assert _time.time() - t0 < 30, "blocked on the orphaned lock"
    with open(f"{result}/data.txt") as f:
        assert f.read() == "reclaimed"
    assert not os.path.exists(lock)


def test_materialize_live_lock_not_reclaimed(spark, tmp_path, _private_cache):
    """A lock HELD by a live writer is never taken, no matter how
    long it has been held: a waiter polls until the writer's _DONE
    appears. The flock formulation makes stealing structurally
    impossible (there is no reclaim path at all); a writer healthy
    but slower than any age threshold keeps its lock (ADVICE r07 —
    the old age-before-liveness check stole exactly this lock)."""
    import fcntl
    import os
    import threading
    import time as _time

    from event_stream_for_k8s_spark.sources.roundtrip import (
        cache_dir,
        materialize,
    )

    sf = str(tmp_path / "sf")
    out = cache_dir(sf, "live_probe")
    os.makedirs(out, exist_ok=True)
    lock = f"{out}/_WRITING.lock"
    # genuinely HOLD the flock from another thread of this process
    # (a separate open file description, so it excludes materialize)
    fd = os.open(lock, os.O_CREAT | os.O_WRONLY)
    fcntl.flock(fd, fcntl.LOCK_EX)

    builds: list[str] = []

    def release_later() -> None:
        _time.sleep(1.0)
        with open(f"{out}/data.txt", "w") as f:
            f.write("from-owner")
        with open(f"{out}/_DONE", "w") as f:
            f.write("ok")
        os.remove(lock)
        os.close(fd)  # releases the flock

    t = threading.Thread(target=release_later)
    t.start()
    result = materialize(
        spark, sf, "live_probe", lambda o: builds.append(o)
    )
    t.join()
    assert builds == [], "stole a live writer's lock"
    with open(f"{result}/data.txt") as f:
        assert f.read() == "from-owner"


def test_materialize_rebuilds_recreated_sf_dir(spark, tmp_path, _private_cache):
    """A table directory recreated under the same path with other
    content is a new fixture: the second materialize runs its writer
    instead of serving the first build's ``_DONE`` files. The cache
    keys by the directory's identity (inode, mtime), not its path
    alone. The inode of a removed directory is often reused at once,
    and a coarse-clock filesystem can give the new directory the old
    mtime, so the test moves the mtime on explicitly."""
    import os
    import shutil

    from event_stream_for_k8s_spark.sources.roundtrip import materialize

    sf = tmp_path / "sf"

    def make_sf(content: str) -> None:
        sf.mkdir()
        (sf / "table.txt").write_text(content)

    def writer(out: str) -> None:
        with open(f"{out}/data.txt", "w") as f:
            f.write((sf / "table.txt").read_text())

    make_sf("first")
    old_mtime = os.stat(sf).st_mtime_ns
    first = materialize(spark, str(sf), "identity_probe", writer)
    shutil.rmtree(sf)
    make_sf("second")
    later = old_mtime + 1_000_000_000
    os.utime(sf, ns=(later, later))
    second = materialize(spark, str(sf), "identity_probe", writer)
    assert second != first
    with open(f"{second}/data.txt") as f:
        assert f.read() == "second"


def test_sft_pipeline_plan_shape(spark):
    """llm_sft_pipeline's physical plan (VERDICT r10 #5): ONE pruned
    documents scan (doc_id + text only), partial aggregation below the
    per-doc count exchange, the mate side of the fold join BROADCAST
    (four int columns per doc — always the bounded side), and the
    keyed-shuffle census pinned. The census reads 4 because both
    InMemoryTableScans of the persisted ranked relation textually
    embed its 2 exchanges (groupBy doc_id + window shard) — the cache
    executes them ONCE, so real data movement is 2 keyed shuffles +
    the broadcast."""
    from tools.shuffle_census import census

    p = _plan(spark, "llm_sft_pipeline")
    # r15: the vocab-join merge apply (bpe_apply_vocab) adds a
    # distinct-vocabulary subtree whose documents scan prunes even
    # further (text ONLY — it needs no doc_id); every scan must still
    # be one of the two pruned shapes, never a full-schema read
    assert p.count("FileScan parquet") == p.count(
        "ReadSchema: struct<doc_id:bigint,text:string>"
    ) + p.count("ReadSchema: struct<text:string>")
    assert "partial_sum" in p
    assert "BroadcastHashJoin" in p and "BroadcastNestedLoop" not in p
    c = census(p)
    # census 6 since r15 O5: ONE persisted count-by-word histogram
    # feeds the trainer and the per-word token-count join
    # (bpe_word_ntok) — no corpus-scale distinct, and the join payload
    # is one int. The static count includes the cached histogram's
    # exchange re-embedded at its InMemoryTableScan reference plus the
    # pack_pairs ranked-relation cache's two exchanges embedded at
    # both self-join sides; real keyed data movement is histogram +
    # per-doc count + rank window — see tools/census_baseline.json
    # notes and OPTIMIZATION_r15.md
    assert c["shuffles"] <= 6 and c["single_partition"] == 0, c


def test_sample_reservoir_two_phase_equals_single_window(spark):
    """sample_reservoir's scalable two-phase rank (per-(group, bucket)
    top-k, then top-k over the <=32k survivors) must be IDENTICAL to
    the naive single-window form — the per-bucket top-k is a superset
    of the global hash-order top-k, so phase 2 sees every winner.
    Also: exactly k rows per group when the group has >= k rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    got = {
        (r["o_orderkey"], r["o_orderpriority"], r["rn"])
        for r in REGISTRY["sample_reservoir"].spark(spark, SF).collect()
    }
    o = spark.read.parquet(f"{SF}/orders.parquet")
    h = F.md5(F.col("o_orderkey").cast("string"))
    w = Window.partitionBy("o_orderpriority").orderBy("h", "o_orderkey")
    naive = (
        o.select("o_orderkey", "o_orderpriority", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
    )
    want = {
        (r["o_orderkey"], r["o_orderpriority"], r["rn"])
        for r in naive.collect()
    }
    assert got == want
    sizes = {}
    group_n = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()
    }
    for _, prio, _ in got:
        sizes[prio] = sizes.get(prio, 0) + 1
    for prio, n in group_n.items():
        assert sizes.get(prio, 0) == min(20, n)


def test_deletion_vectors_conservation_and_complement(spark):
    """maint_deletion_vectors: per file n_rows = n_live + n_deleted,
    the global deleted fraction matches the DV generator's 2-in-10
    rule exactly (positions are a deterministic function of the key),
    and the anti-join read path agrees with the direct complement
    filter (merge-on-read ≡ eager delete)."""
    from pyspark.sql import functions as F

    rows = REGISTRY["maint_deletion_vectors"].spark(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_rows"] == r["n_live"] + r["n_deleted"], r
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    want_deleted = li.filter(
        (F.col("l_orderkey") + F.col("l_linenumber")) % 10 < 2
    ).count()
    assert sum(r["n_deleted"] for r in rows) == want_deleted
    want_qty = (
        li.filter((F.col("l_orderkey") + F.col("l_linenumber")) % 10 >= 2)
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")))
        .first()[0]
    )
    assert sum(r["live_qty"] for r in rows) == want_qty


def test_lttb_selects_max_area_point_per_interior_bucket(spark):
    """ts_downsample_lttb: recompute the fixed-anchor triangle area in
    pure Python — mirroring the engine's arithmetic exactly (integer
    micros-since-day-start, value*100 as int, anchors as
    epoch_us(day) + exact-sum/count, the same double expression
    order) — and confirm, for every interior bucket, the selected
    point IS the (area desc, event_id) argmax; endpoint buckets of
    each series keep their (ts, event_id)-first/last point; exactly
    one point per (event_type, day). Events load through catalog.load
    (ts normalization), never a raw parquet read."""
    import collections
    import datetime

    from event_stream_for_k8s_spark.catalog import load as cat_load
    from event_stream_for_k8s_spark.plans import REGISTRY

    rows = REGISTRY["ts_downsample_lttb"].spark(spark, SF).collect()
    raw = (
        cat_load(spark, SF, "events")
        .filter("ts IS NOT NULL AND value IS NOT NULL")
        .select("event_type", "ts", "value", "event_id")
        .collect()
    )
    epoch = datetime.datetime(1970, 1, 1)
    us = datetime.timedelta(microseconds=1)

    buckets = collections.defaultdict(list)
    for r in raw:
        d = r["ts"].replace(hour=0, minute=0, second=0, microsecond=0)
        x = (r["ts"] - epoch) // us  # exact integer micros
        ys = round(r["value"] * 100)
        buckets[(r["event_type"], d)].append((x, ys, r["event_id"]))
    anchors = {}
    for k, v in buckets.items():
        day_us = (k[1] - epoch) // us
        sx = sum(p[0] - day_us for p in v)  # exact xoff sum
        sy = sum(p[1] for p in v)
        anchors[k] = (
            float(day_us) + float(sx) / float(len(v)),
            float(sy) / float(len(v)),
        )
    series = collections.defaultdict(list)
    for et, d in buckets:
        series[et].append(d)
    for et in series:
        series[et].sort()
    got = {(r["event_type"], r["d"]): r for r in rows}
    assert len(got) == len(buckets)
    for et, days in series.items():
        for i, d in enumerate(days):
            r = got[(et, d)]
            pts = buckets[(et, d)]
            if i == 0:
                assert r["role"] == "first"
                # engine: -x desc, event_id asc => min (x, event_id)
                want = min(pts, key=lambda p: (p[0], p[2]))[2]
            elif i == len(days) - 1:
                assert r["role"] == "last"
                # engine: x desc, event_id asc => max x, then MIN id
                want = min(pts, key=lambda p: (-p[0], p[2]))[2]
            else:
                assert r["role"] == "area"
                pax, pay = anchors[(et, days[i - 1])]
                nax, nay = anchors[(et, days[i + 1])]
                want = min(
                    pts,
                    key=lambda p: (
                        -abs(
                            (pax - nax) * (float(p[1]) - pay)
                            - (pax - float(p[0])) * (nay - pay)
                        ),
                        p[2],
                    ),
                )[2]
            assert r["event_id"] == want, (et, d, r["event_id"], want)
