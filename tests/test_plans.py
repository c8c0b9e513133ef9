"""Plan-quality gates: the physical plans the engine should produce at
scale — broadcasts where intended, filter pushdown and column pruning
reaching the parquet scan, codegen on the hot path. Failing these means
a silent perf regression even if results stay correct."""

import pytest

from pybabe_spark.queries import REGISTRY, all_queries

all_queries()


def _plan(spark, name, sf_dir):
    df = REGISTRY[name][0](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, "flagship_revenue_by_nation", sf_dir)
    # customer and nation are broadcast; no sort-merge join anywhere
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 2


def test_flagship_pushes_shipdate_filter(spark, sf_dir):
    plan = _plan(spark, "flagship_revenue_by_nation", sf_dir)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200], plan


def test_filter_project_prunes_columns(spark, sf_dir):
    plan = _plan(spark, "filter_project", sf_dir)
    # ReadSchema must carry only the 4 projected columns
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_comment" not in read_schema
    assert read_schema.count(":") <= 5, read_schema


def test_lookup_join_broadcasts(spark, sf_dir):
    plan = _plan(spark, "join_inner_lookup", sf_dir)
    assert "BroadcastHashJoin" in plan, plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, "topk_orders", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_group_uses_hash_aggregate_with_partial(spark, sf_dir):
    plan = _plan(spark, "group_pricing_summary", sf_dir)
    # map-side partial aggregation before a single exchange
    assert "partial_sum" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan


def test_ann_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, "ann_cosine_topk", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_asof_join_single_shuffle_window(spark, sf_dir):
    plan = _plan(spark, "asof_last_purchase", sf_dir)
    # union + running-last window: exactly one hash exchange on the key,
    # no join operator at all (the O(n·m) inequality-join shape is the
    # regression this guards against)
    assert "Window" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_range_join_keyed_broadcasts(spark, sf_dir):
    plan = _plan(spark, "range_join_error_window", sf_dir)
    # equi-join on the key with the range predicate inside the join,
    # never BroadcastNestedLoop (the cartesian shape)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_rollup_partial_aggregates(spark, sf_dir):
    plan = _plan(spark, "rollup_year_priority", sf_dir)
    assert "Expand" in plan and "partial_count" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ann_ivf_topk_pushes_group_limit(spark, sf_dir):
    plan = _plan(spark, "ann_ivf_topk", sf_dir)
    # per-query top-k must run as WindowGroupLimit (partial before the
    # exchange), and the query side must broadcast
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_gopher_rules_map_only(spark, sf_dir):
    """Quality-rule scoring must stay a scan-fused projection: no
    exchange, no Python worker in the plan."""
    plan = _plan(spark, "gopher_quality_rules", sf_dir)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_pii_scrub_map_only(spark, sf_dir):
    plan = _plan(spark, "pii_scrub_docs", sf_dir)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_upsert_broadcasts_small_update_keys(spark, sf_dir):
    """The anti-join against the updated-key set must broadcast (update
    batches are small next to the base at scale)."""
    plan = _plan(spark, "upsert_customer_balances", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_mix_sources_no_shuffle(spark, sf_dir):
    """Weighted mixing is filters + union — shuffle-free until an
    aggregation asks for one; check the operator in isolation."""
    from pybabe_spark.operators.sampling import mix_sources
    from pybabe_spark.sources.io import read_table
    from pyspark.sql import functions as F

    docs = read_table(spark, sf_dir, "documents")
    mixed = mix_sources(
        [(docs.filter(F.col("source") == "src0"), 1.0),
         (docs.filter(F.col("source") != "src0"), 0.25)],
        "doc_id",
    )
    plan = mixed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_skip_has_no_global_window(spark, sf_dir):
    """skip() must be a boundary-value comparison, not a row_number over
    an unpartitioned window (the single-task funnel at 100 TB). The
    boundary is an in-plan TakeOrdered scalar (lazy — see
    test_skip_is_lazy), so the key filter no longer reaches
    PushedFilters; assert the intended shape instead: no Window, and the
    TakeOrdered boundary subquery present."""
    plan = _plan(spark, "skip_rows", sf_dir)
    assert "Window" not in plan, plan
    assert "TakeOrdered" in plan, plan


def test_skip_is_lazy(spark):
    """Constructing skip() must run NO job; the boundary evaluates
    inside the query's own action (VERDICT r5 next-round item 3)."""
    from pybabe_spark.operators.relational import skip

    df = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 11)], "k int, v int"
    )
    tracker = spark.sparkContext.statusTracker()

    def last_job_id():
        # the newest id, not a count: the status store keeps only the
        # last spark.ui.retainedJobs jobs, so its size can drop
        return max(tracker.getJobIdsForGroup(None), default=-1)

    before = last_job_id()
    out = skip(df, 4, order_by="k")
    assert last_job_id() == before, "skip() ran a job at plan-construction time"
    assert sorted(r["k"] for r in out.collect()) == [5, 6, 7, 8, 9, 10]
    assert last_job_id() > before


def test_dedup_against_broadcasts_seen_keys(spark, sf_dir):
    """The seen-key anti-join must broadcast (the key projection is
    always small next to the batch at scale)."""
    plan = _plan(spark, "dedup_against_seen", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_quantize_embeddings_is_narrow_map(spark, sf_dir):
    """Int8 quantization must stay a shuffle-free, Python-free map."""
    plan = _plan(spark, "quantize_embeddings_int8", sf_dir)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_word_entropy_is_narrow_map(spark, sf_dir):
    plan = _plan(spark, "word_entropy_docs", sf_dir)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_decontaminate_query_broadcasts(spark, sf_dir):
    plan = _plan(spark, "decontaminate_docs", sf_dir)
    assert "BroadcastHashJoin" in plan, plan


def test_introspect_degrades_without_classic_surfaces(spark):
    """Every plan probe must answer None/fallback — never raise — when
    the classic JVM surfaces (df._jdf, df.rdd, sparkContext) are absent,
    which is the Spark Connect session shape."""
    from pybabe_spark.plans.introspect import (
        default_parallelism,
        num_partitions,
        plan_size_bytes,
    )

    class _NoClassic:
        """Quacks like a Connect DataFrame/session: everything raises."""

        def __getattr__(self, name):
            raise AttributeError(name)

    stub = _NoClassic()
    assert plan_size_bytes(stub) is None
    assert num_partitions(stub) is None
    assert default_parallelism(stub) == 8

    # statless-but-present plans answer None too (Long.MaxValue sentinel)
    tiny = spark.createDataFrame([(1,)], "i int")
    assert plan_size_bytes(tiny) in (None,) or plan_size_bytes(tiny) < (1 << 60)


def test_spread_survives_unknown_introspection(spark, monkeypatch):
    """ANN paths must produce identical results when partition/size
    introspection is unavailable (Connect) — _spread degrades to a
    bounded repartition, never an error."""
    import pybabe_spark.plans.introspect as intro
    from pybabe_spark.operators.similarity import ann_brute_force

    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5) for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.filter(F.col("vec_id") < 2)
    want = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in ann_brute_force(emb, queries, k=5).collect()
    )
    monkeypatch.setattr(intro, "num_partitions", lambda df: None)
    monkeypatch.setattr(intro, "plan_size_bytes", lambda df: None)
    got = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in ann_brute_force(emb, queries, k=5).collect()
    )
    assert got == want


def test_chunk_documents_is_narrow_map(spark, sf_dir):
    """Chunking must stay a shuffle-free, Python-free explode."""
    plan = _plan(spark, "chunk_documents_docs", sf_dir)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_pack_tokens_single_bucket_shuffle(spark, sf_dir):
    """Packing's only shuffle is the hash on bucket feeding the
    stateful pandas group stage."""
    plan = _plan(spark, "pack_tokens_docs", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_pack_contiguous_single_shuffle_no_python(spark, sf_dir):
    """Contiguous packing is ONE hash exchange on bucket feeding the
    partitioned cumsum window — no Python stage, no global window."""
    plan = _plan(spark, "pack_contiguous_docs", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan and "Python" not in plan, plan


def test_semantic_dedup_assignment_expansion_is_narrow(spark):
    """The Voronoi-assignment argmax must aggregate NARROW (id, cell,
    sim) rows — the vector column may not ride through the ×k-expanded
    join into the hash aggregate (measured 4.7 GB spill at the ×30
    stress point when it did). The physical aggregate just above the
    expansion join must therefore not reference the normalized-vector
    column."""
    from pybabe_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float(i % 3 + 1)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    plan = (
        semantic_dedup(emb, k_clusters=4, threshold=0.5)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # the max_by aggregate's struct carries exactly (cell, sim)
    aggs = [ln for ln in plan.splitlines() if "max_by" in ln]
    assert aggs, plan
    assert not any("__vn" in ln for ln in aggs), aggs


def test_plan_lint_detects_scale_smells(spark):
    import pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    from pybabe_spark.plans.lint import assert_scales, plan_lint

    clean = spark.range(100).groupBy((F.col("id") % 10).alias("k")).count()
    assert plan_lint(clean) == []
    assert assert_scales(clean) is clean

    global_w = spark.range(10).select(
        F.sum("id").over(Window.orderBy("id")).alias("s")
    )
    assert "global-window" in {c for c, _ in plan_lint(global_w)}
    partitioned = spark.range(10).select(
        F.sum("id").over(Window.partitionBy(F.col("id") % 2).orderBy("id")).alias("s")
    )
    assert "global-window" not in {c for c, _ in plan_lint(partitioned)}

    # severity follows the physical strategy: broadcast-able side ->
    # advisory; neither side broadcast -> the real cartesian disaster
    small_cross = spark.range(5).crossJoin(
        spark.range(5).withColumnRenamed("id", "i2")
    )
    assert {c for c, _ in plan_lint(small_cross)} == {"broadcast-nested-loop"}
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big_cross = spark.range(5).crossJoin(
            spark.range(5).withColumnRenamed("id", "i2")
        )
        assert {c for c, _ in plan_lint(big_cross)} == {"cartesian-product"}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    equi = spark.range(5).join(
        spark.range(5).withColumnRenamed("id", "i2"),
        F.col("id") == F.col("i2"),
    )
    assert plan_lint(equi) == []

    rowudf = spark.range(5).select(udf(lambda x: x + 1, "bigint")(F.col("id")))
    assert "row-python-udf" in {c for c, _ in plan_lint(rowudf)}

    with pytest.raises(ValueError, match="does not scale"):
        assert_scales(small_cross)
    assert assert_scales(small_cross, allow={"broadcast-nested-loop"}) is small_cross


@pytest.mark.deep
def test_plan_lint_passes_headline_queries(spark, sf_dir):
    """The flagship and the scale-path ANN/dedup queries must lint
    clean; the known reference-parity global window and the quarantined
    all-pairs oracle definitions are the only expected findings across
    the whole registry."""
    from pybabe_spark.plans.lint import plan_lint
    from pybabe_spark.queries import REGISTRY, all_queries

    all_queries()  # load extensions
    expected_dirty = {
        # reference-parity single-stream semantics, documented
        "window_rolling_sum": {"global-window"},
        # value-level sweep de-globalized: bucket-partitioned cumsum;
        # the finding is the ≤1024-row limit()-proved bucket-prefix
        # self-join (inequality → BNLJ by construction, bounded
        # independent of data size — the active_intervals idiom)
        "mann_whitney_events": {"broadcast-nested-loop"},
        # same de-globalized cumsum machinery as mann_whitney: the
        # finding is the ≤1024-row limit()-proved bucket-prefix
        # self-join; the arm-totals attach is maxRows-proven
        "ks_test_events": {"broadcast-nested-loop"},
        # the strict-adjacency lag runs on PERIOD rows (weeks of
        # calendar), bounded by time span, never by corpus size
        "growth_accounting_events": {"global-window"},
        "window_udf_rolling_max": {"global-window"},
        "skip_rows": set(),  # boundary plan: no window — must stay clean
        # all-pairs oracle definitions + the in-query exact recall
        # baseline: broadcast side bounded by contract -> advisory code
        "ann_cosine_topk": {"broadcast-nested-loop"},
        # matryoshka audit = TWO ann_cosine_topk passes (16- and 64-dim)
        # + the metrics join; same bounded-query-set brute-force contract
        "matryoshka_recall_embeddings": {"broadcast-nested-loop"},
        "embedding_neardup": {"broadcast-nested-loop"},
        "ann_ivf_topk": {"broadcast-nested-loop"},
        # /16-bucketed ip-range lookup: now a hash EQUI-join (the
        # nested-loop shape scanned ALL ranges per row) — must stay clean
        "geoip_country": set(),
        # SemDeDup Voronoi assignment: k centroid rows broadcast against
        # the corpus — the intended linear-pass plan; the quadratic pair
        # stage is a cell equi-join, NOT all-pairs
        "semdedup_embeddings": {"broadcast-nested-loop"},
        # PQ ADC: per-query decimal lookup tables (bounded by the
        # query-batch contract) broadcast against the codes scan
        "ann_pq_topk": {"broadcast-nested-loop"},
        # IVF-PQ itself joins on cell id (clean); the finding is the
        # in-query ann_pq recall anchor (same contract as ann_pq_topk)
        "ann_ivfpq_topk": {"broadcast-nested-loop"},
        # BM25: linear aggs + broadcast idf + TakeOrdered — must stay
        # clean (the 1-row scalar attach is maxRows-proven)
        "bm25_search_docs": set(),
        # hybrid RRF (r14): both input lists are provably bounded, so
        # the fusion collects them and the declared query's plan is a
        # VALUES-literal LocalTableScan — nothing left to lint (the
        # dense side's bounded-query brute-force BNL now runs inside
        # the operator's own collect, covered by ann_cosine_topk /
        # hard_negatives below)
        "hybrid_search_docs": set(),
        # hard negatives: the same bounded-query brute-force contract
        "hard_negatives_embeddings": {"broadcast-nested-loop"},
        # inverted shingle equi-join (jaccard_pairs shape) — clean
        "containment_pairs_docs": set(),
        # temperature resampling: group-partitioned window (not global),
        # broadcast alloc table, maxRows-proven scalar attach — clean
        "temperature_resample_docs": set(),
        # pagerank: per-iteration equi-join + hash agg, integer
        # arithmetic only — no window, no nested loop, no Python
        "pagerank_trade_network": set(),
        # the personalized form adds one seed-flag equi-join — clean
        "trustrank_trade_network": set(),
        # stored BM25 probe: partition-pruned scan + 1-row stats attach
        # (maxRows-proven), no posting join — must stay clean
        "bm25_stored_docs": set(),
        # kmeans certificate: Arrow assignment pass + JVM distance
        # re-check, 8-row cells equi-join, maxRows-proven scalar
        # attaches — clean
        "kmeans_embeddings": set(),
        # PMI: two count aggs, pruned-candidate equi-joins, TakeOrdered
        # — clean (scalar attaches maxRows-proven)
        "pmi_collocations_docs": set(),
        # pure codegen map — clean
        "normalize_text_docs": set(),
        # two linear passes + bin-grid equi-join + maxRows-proven
        # scalar attaches — clean
        "histogram_orders": set(),
        # funnel: user-keyed join chain + 1-row unions/attach — clean
        "funnel_events": set(),
        # appended index probe: same pruned-scan + broadcast-only plan
        "bm25_incremental_docs": set(),
        # user-partitioned lag/cumsum windows (never global) — clean
        "sessionize_batch_events": set(),
        # per-key sequence grid + equi-join + key-partitioned LOCF
        # window — clean
        "gap_fill_events": set(),
        # same grid plan + two key-partitioned IGNORE-NULLS windows
        # over one sort - clean
        "gap_fill_linear_events": set(),
        # chi2/V materialize the FULL R x C grid (r9 sparse-table fix):
        # the category-table cross is a BNLJ by construction, bounded
        # by the operator's own output-cell contract (like the NB
        # class grid); everything else is hash aggs + broadcasts
        "chi2_orders_priority_status": {"broadcast-nested-loop"},
        "cramers_v_orders": {"broadcast-nested-loop"},
        # MI: one cell agg + marginal aggs over the tiny cell table +
        # three maxRows-proven 1-row attaches - clean
        "mutual_information_orders": set(),
        # log-rank at-risk counts: the <=1024-row limit()-proved
        # bucket-prefix self-join (inequality -> BNLJ by construction)
        "logrank_events": {"broadcast-nested-loop"},
        # symmetric-delete blocking: deletion-key equi-joins over
        # distinct strings, never all-pairs — clean
        "fuzzy_pairs_customer_names": set(),
        # FS scoring rides the same blocking + two id equi-joins + one
        # codegen weight projection - clean
        "fellegi_sunter_customers": set(),
        "fuzzy_match_part_names": set(),
        # bloom prefilter: Arrow-batched bit test + anti-join on the
        # hit subset only — clean
        "dedup_against_bloom_docs": set(),
        # NB class grid: the C-row class table broadcast against the
        # per-doc token counts (C bounded by contract, like the
        # semdedup centroid broadcast) — the model join itself is a
        # hash equi-join
        "naive_bayes_lang_docs": {"broadcast-nested-loop"},
        # skyline cross-bucket prefix: a ≤32-row limit()-proved
        # bucket-stats self-join (inequality → BNLJ by construction,
        # bounded independent of data size); the data path itself is
        # bucketed windows + one equi-join
        "skyline_parts_price_size": {"broadcast-nested-loop"},
        # sweep-line bucket-prefix: the same limit()-proved bounded
        # inequality self-join over bucket totals (calendar-span-sized,
        # guarded at max_buckets); the data path is a partitioned
        # cumulative window
        "active_sessions_curve": {"broadcast-nested-loop"},
    }
    for key in ["flagship_revenue_by_nation", "ann_lsh_topk",
                # appended stored-LSH probe: pruned scan + broadcast
                # query join, same clean plan as the fresh index
                "ann_lsh_appended_topk",
                "minhash_lsh_pairs",
                "jaccard_pairs_words",  # shingle equi-join, NOT all-pairs
                "segment_dedup_docs", "pack_tokens_docs", "chunk_documents_docs",
                "rolling_value_per_user", "skip_rows",
                # Arrow-batched encode and the banded stored-index probe
                # are pure equi-join/linear plans — must stay clean
                "pq_codes_embeddings", "near_dedup_stored_docs",
                # LM scoring joins + 1-row scalar attaches (maxRows-
                # proven), DSIR broadcast models, span-removal window —
                # all must stay clean
                "lm_perplexity_docs", "dsir_weights_docs",
                "dsir_sample_docs", "strip_dup_spans_docs",
                # iterative GD: broadcast weights + two linear aggs per
                # round — must stay clean
                "quality_classifier_docs",
                # held-out AUC: histogram + bounded bin explode + equi
                # join, deliberately NOT a global rank window
                "quality_classifier_eval",
                "lm_trigram_perplexity_docs",
                "clip_docs_middle", "curriculum_order_docs",
                # tokenizer-seam twins: Arrow-batched pandas UDF /
                # mapInPandas stages (never row-at-a-time Python)
                "pack_tokens_tokenizer_docs", "clip_docs_tokenizer",
                "bpe_token_count_docs", "tokenize_docs",
                # bucket-partitioned cumsum window (never global)
                "pack_contiguous_docs",
                # count agg + TakeOrdered head + 1-row scalar attach
                "skew_report_orders",
                # user-keyed equi-join + per-conversion windows + a
                # low-cardinality channel rollup — clean end to end
                "attribution_last_touch_events",
                "attribution_linear_events",
                "attribution_u_shaped_events",
                "attribution_time_decay_events",
                # key-partitioned lag chain / grouped exact percentiles
                # + key joins — never a global window
                "ewma_events",
                "mad_anomalies_events",
                # pure codegen translate/regexp chain, zero shuffles
                "soundex_nations",
                # one Expand + one hash agg (single shuffle for all
                # grouping sets)
                "cube_orders_report",
                # distinct-value anti-join + 1-row-proven scalar attaches
                "fk_check_orders_customer",
                # key-partitioned lead() + hash agg — two key shuffles
                "twap_events",
                # one key-partitioned window pass
                "rank_normalize_docs",
                # layered key-partitioned cumulative windows + hash agg
                "cusum_alarms_events",
                # one ref percentile agg + two bin-grid aggs + 1-row
                # attaches — clean
                "psi_orders_price",
                # distinct-duration table + group-partitioned windows
                "km_survival_events",
                # key-partitioned rank window + hash agg
                "gini_orders_priority",
                # the clip -> pack -> curriculum composition: narrow
                # clip, bucketed applyInPandas pack, equi join back,
                # range-sorted curriculum — must stay clean end to end
                "clip_pack_curriculum_docs",
                # CDC: feed-only window + anti-join + union
                "cdc_apply_events",
                # CDC apply + full-outer diff + tiny agg, composition
                "cdc_diff_report_events",
                # one map-side-combinable hash agg
                "ols_lineitem_price_qty",
                # codegen bucketize/interleave + 1-row-proven min/max
                # attach + one hash agg
                "zorder_stats_orders",
                # 3x3 grid-cell equi-join, never all-pairs
                "spatial_radius_customers_suppliers",
                # frontier joins + min aggs per hop, lineage-cut
                "label_propagation_trade",
                # one key-partitioned lag window + one hash agg
                "acf_user_values",
                # support-pruned pair equi-join + partitioned top-k
                # window
                "item_neighbors_parts",
                # one FILTERed max_by hash agg on top of the ER plan
                "golden_record_customers",
                # one (key,bucket) hash agg
                "ohlc_bars_events",
                # bounded collect_list agg + path count + TakeOrdered
                "path_counts_events",
                # degree-oriented wedge equi-joins + corner explode
                "clustering_coeff_suppliers",
                # pushdown scan-agg, join-free
                "q6_forecast_revenue",
                # one lag window pass + one hash agg
                "seasonal_backtest_events",
                # one stats agg + 1-row-proven broadcast-back
                "cuped_adjust_events",
                # (group,bucket)-partitioned cumsum + per-group window
                # over <=1024 bucket totals + one final agg — the
                # distinct-value funnel is gone
                "weighted_quantiles_lineitem",
                # one conditional moment agg
                "mean_test_events",
                # distinct projection + group-bounded shingle join
                "source_overlap_docs",
                # cell-bucketed interval equi-join, canonical emission
                "overlap_join_sessions",

                # rank tables via (group,cell) windows + value joins +
                # one moment agg - no global window
                "spearman_lineitem",
                # ONE fixed-width (2B+2 sums) map-combinable agg +
                # in-row array_sort of B means - no second pass
                "bootstrap_ci_orders",
                # support-pruned pair agg + 2-row explode + broadcasts
                "association_rules_lineitem",
                # rollup hash agg + 1-row edge agg + codegen scoring
                "rfm_segments_orders",
                # QI hash agg + 1-row summary, profile idiom
                "k_anonymity_customers",
                # per-round frontier equi-join + min hash agg
                "sssp_trade_nations",
                # category hash agg + 1-row global agg + broadcast back
                "target_encode_orders",
                # per-round degree hash agg + two semi-joins, shrinking
                "kcore_suppliers",
                # one conditional 4-cell moment agg
                "did_estimate_events",
                # position-count hash aggs + pruned joins + TakeOrdered
                "llr_collocations_docs",
                # group-bounded pair join + keyed cumsum reach test
                "theilsen_slope_events",
                # one keyed lag window + one hash agg
                "interarrival_burstiness_events",
                # one hash agg to <=bins rows, all-integer
                "calibration_bins_docs",
                # one (key,period) hash agg + cohort-keyed windows
                "cohort_ltv_events",
                # one keyed lag-window pass + one hash agg (acf shape)
                "ccf_activity_purchases",
                # one hash agg to <=arms rows + codegen decision
                "srm_check_events",
                # per-group edge agg broadcast back + conditional agg
                "trimmed_mean_orders",
                # one (key,day) hash agg + keyed lag window
                "period_over_period_events",
                # per-user conditional agg + one quantile agg
                "time_to_convert_events",
                # (key,period) distinct + keyed window + two hash aggs
                "streaks_events",
                # one group-partitioned cumsum window, no global sort
                "token_budget_sample_docs",
                # posexplode + line-hash df agg + anti-join + in-row
                # ordered reassembly (array_sort) - window-free
                "strip_boilerplate_docs",
                # one (group,category) hash agg + per-group rollup
                "category_diversity_docs",
                # (type,day) hash agg -> keyed MAD gate, composition
                "volume_anomalies_events",
                # one HOF projection pass + tiny dim agg + 1-row summary
                "embedding_stats_quality"]:
        fn, _ = REGISTRY[key]
        codes = {c for c, _ in plan_lint(fn(spark, sf_dir))}
        assert codes == set(), (key, codes)
    for key, want in expected_dirty.items():
        fn, _ = REGISTRY[key]
        codes = {c for c, _ in plan_lint(fn(spark, sf_dir))}
        assert codes == want, (key, codes)


def test_explain_fallback_sees_join_strategy(spark):
    """The Connect-path plan source (captured explain string) must
    surface the same physical join strategies as the classic JVM handle,
    so lint's join checks don't silently pass everything there."""
    from pybabe_spark.plans.lint import _explain_physical

    cross = spark.range(10).crossJoin(
        spark.range(10).withColumnRenamed("id", "id2")
    )
    txt = _explain_physical(cross)
    assert "== Physical Plan ==" in txt
    assert "CartesianProduct" in txt or "BroadcastNestedLoopJoin" in txt


def test_html_extract_map_only(spark, sf_dir):
    """Markup strip must stay a scan-fused codegen projection."""
    plan = _plan(spark, "html_extract_docs", sf_dir)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_url_domain_stats_single_exchange_no_python(spark, sf_dir):
    """URL canonicalize + per-domain rollup: regexp work fuses into the
    scan; the only exchanges serve the distinct-count aggregate."""
    plan = _plan(spark, "url_domain_stats_docs", sf_dir)
    assert "Python" not in plan, plan
    assert "partial_count" in plan, plan


def test_validate_row_rules_single_scan(spark, sf_dir):
    """All row rules fold into ONE aggregation over ONE orders scan;
    unique adds a keyed agg, fk one more scan + join — so the orders
    parquet appears at most 3 times, never once per rule (6 rules)."""
    plan = _plan(spark, "validate_orders", sf_dir)
    assert plan.count("orders.parquet") <= 3, plan
    assert "Python" not in plan, plan


def test_cms_build_partial_aggregates(spark, sf_dir):
    plan = _plan(spark, "cms_counts_orders", sf_dir)
    # map-side combine on the (d,pos) cells before the exchange
    assert "partial_count" in plan, plan
    assert "Python" not in plan, plan


def test_scd2_single_key_shuffle(spark, sf_dir):
    """SCD2 collapse: windows + aggregation all ride ONE user_id
    exchange (the sessionization plan shape)."""
    plan = _plan(spark, "scd2_events_history", sf_dir)
    assert "Window" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Python" not in plan, plan


def test_table_diff_single_full_outer_join(spark, sf_dir):
    plan = _plan(spark, "table_diff_orders", sf_dir)
    assert "FullOuter" in plan, plan
    assert plan.count("Join") <= 2, plan  # physical ops mention join once-ish
    assert "Python" not in plan, plan


def test_zscore_anomalies_no_python_no_global_window(spark, sf_dir):
    plan = _plan(spark, "zscore_anomalies_events", sf_dir)
    assert "Python" not in plan, plan
    # global mode: stats agg + join back, no window at all
    assert "Window" not in plan, plan


def test_retention_single_corpus_distinct(spark, sf_dir):
    """The only corpus-scale work is the (user, period) distinct; the
    size window runs post-aggregation on cohort rows."""
    plan = _plan(spark, "retention_cohorts_events", sf_dir)
    assert "Python" not in plan, plan
    assert "partial_" in plan, plan


def test_sequence_count_one_shuffle_no_python(spark, sf_dir):
    plan = _plan(spark, "sequence_count_events", sf_dir)
    assert "Python" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_json_flatten_agg_no_python_partial(spark, sf_dir):
    plan = _plan(spark, "json_flatten_events", sf_dir)
    assert "Python" not in plan, plan
    assert "partial_count" in plan, plan


def test_pseudonymize_map_only(spark, sf_dir):
    plan = _plan(spark, "pseudonymize_customers", sf_dir)
    assert "Exchange" not in plan and "Python" not in plan, plan


def test_ab_test_single_conditional_agg(spark, sf_dir):
    """Per-user conversion agg + the 4-counter test agg: exactly two
    aggregation layers over one events scan, no Python."""
    plan = _plan(spark, "ab_test_events", sf_dir)
    assert plan.count("events.parquet") == 1, plan
    assert "Python" not in plan, plan


def test_benford_two_pass_no_python(spark, sf_dir):
    """Digit-table pass + 1-row scalar pass — the histogram-style
    two-pass bound (was 4 scans before the χ² identity rewrite)."""
    plan = _plan(spark, "benford_orders_price", sf_dir)
    assert plan.count("orders.parquet") <= 2, plan
    assert "Python" not in plan, plan


def test_weighted_sample_take_ordered(spark, sf_dir):
    plan = _plan(spark, "weighted_sample_orders", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_pareto_take_ordered_no_global_window(spark, sf_dir):
    plan = _plan(spark, "pareto_suppliers_revenue", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_frequent_pairs_no_cartesian(spark, sf_dir):
    plan = _plan(spark, "frequent_pairs_lineitem", sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_quantile_bins_single_scan_pair(spark, sf_dir):
    """Edges agg + binned projection: the orders scan appears at most
    twice (edge pass + bin pass), bin assignment is codegen."""
    plan = _plan(spark, "quantile_bins_orders", sf_dir)
    assert plan.count("orders.parquet") <= 2, plan
    assert "Python" not in plan, plan


def test_q6_pushes_all_filters(spark, sf_dir):
    """Q6's whole predicate set must reach the parquet scan and the
    plan must be join-free with a single partial-agg exchange."""
    plan = _plan(spark, "q6_forecast_revenue", sf_dir)
    pushed = plan.split("PushedFilters")[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    assert "Join" not in plan, plan
    assert "partial_sum" in plan, plan
