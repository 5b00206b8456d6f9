"""Physical-plan assertions: the properties that make these queries scale
must be visible in the executed plan, not just intended (pushdown reaches the
scan, dims broadcast, no Python UDFs in JVM-only pipelines)."""

from __future__ import annotations

from futures_eos_cdc_spark.plans import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushed_to_parquet_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_reads_only_needed_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # column pruning: the FileScan output list must omit the unused key cols
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_orderkey" not in scan_line
    assert "l_partkey" not in scan_line
    assert "l_quantity" in scan_line and "l_shipdate" in scan_line


def test_top_customers_dims_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_customers_by_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at least
    assert "TakeOrderedAndProject" in plan


def test_market_price_lookup_is_broadcast_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "market_price_lookup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_partial_aggregation(spark, sf_dir):
    # partial (map-side) aggregation before the exchange
    plan = _plan(spark, sf_dir, "signal_decisions")
    assert "HashAggregate" in plan
    # EXACTLY two hash exchanges: (sym,win,tf) ranking + (sym,win) rollup.
    # A third would mean a distinct-agg Expand or a join crept back in.
    assert plan.count("Exchange hashpartitioning") == 2


def test_no_python_udfs_in_jvm_pipelines(spark, sf_dir):
    for name in (
        "signal_decisions",
        "q1_pricing_summary",
        "orders_from_decisions",
        "minhash_lsh_near_dup",
        "text_stats",
        "cosine_topk_bruteforce",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_anti_join_pushes_priority_filter(spark, sf_dir):
    plan = _plan(spark, sf_dir, "customers_without_orders")
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan


def test_topk_window_group_limit(spark, sf_dir):
    # Spark ≥3.5 pushes a WindowGroupLimit below the exchange for rank<=k
    plan = _plan(spark, sf_dir, "topk_per_group")
    assert "WindowGroupLimit" in plan


def test_q6_all_predicates_pushed_and_pruned(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # predicates reach the scan (toString truncates the PushedFilters list —
    # assert the untruncated prefix proves all three columns participate)
    assert (
        "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
        "IsNotNull(l_quantity), GreaterThanOrEqual" in scan_line
    )
    # projection prunes to exactly the 4 referenced columns
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp_ntz>" in scan_line
    )


def test_q4_uses_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q4_order_priority")
    assert "LeftSemi" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # pushed below the join


def test_above_brand_avg_broadcasts_agg_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "above_brand_avg_parts")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ngram_jaccard_single_candidate_shuffle_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ngram_jaccard_near_dup")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q2_take_ordered_and_broadcast_dims(spark, sf_dir):
    # correlated-MIN rejoin: no global sort (TakeOrderedAndProject), dims
    # broadcast, and the derived-offers exchange reused (subplan shared by
    # both the offers and the per-part MIN sides)
    df = QUERIES["q2_min_cost_supplier"](spark, sf_dir)
    df.collect()  # AQE: exchange reuse only appears in the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "ReusedExchange" in plan


def test_pii_scrub_is_pure_projection(spark, sf_dir):
    # map-side only: no shuffle, no Python in the plan
    plan = _plan(spark, sf_dir, "pii_scrub")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_stats_all_jvm_with_partial_aggs(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_repetition_stats")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "partial_sum" in plan or plan.count("HashAggregate") >= 4


def test_token_blocks_prefix_sum_is_sharded(spark, sf_dir):
    # The packing prefix sum must NOT run as one window per language (a real
    # corpus is majority one language → single-reducer sort of ~half the
    # data). Every window that orders the chunk stream (chunk_idx in its
    # spec) must also partition by the doc-shard key; the only lang-only
    # window allowed is the tiny stitch pass over per-shard totals.
    plan = _plan(spark, sf_dir, "token_blocks")
    window_lines = [
        l for l in plan.splitlines() if "windowspecdefinition" in l
    ]
    assert window_lines, "expected window operators in token_blocks plan"
    for line in window_lines:
        if "chunk_idx" in line:
            assert "shard" in line, f"chunk-stream window not sharded: {line}"
    # and the stitch comes back as a broadcast join, not another shuffle
    assert "BroadcastHashJoin" in plan


def test_dedup_keep_rows_single_exchange(spark, sf_dir):
    # one hash exchange on the content digest feeds BOTH window functions
    # (row_number + group count share the partitioning); a second exchange
    # would mean the count window re-shuffled or a join crept in
    plan = _plan(spark, sf_dir, "dedup_keep_rows")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_global_shuffle_shards_single_exchange(spark, sf_dir):
    # the deterministic global shuffle is ONE exchange on shard_id + a
    # per-shard sort — no global sort (no rangepartitioning) anywhere
    plan = _plan(spark, sf_dir, "global_shuffle_shards")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_dedup_incremental_no_corpus_payload_shuffle(spark, sf_dir):
    # the corpus side must collapse to distinct digests BEFORE the anti-join
    # (text never crosses the wire), and the batch window must reuse the
    # anti-join's digest partitioning (no extra exchange for the window)
    plan = _plan(spark, sf_dir, "dedup_incremental_batch")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    anti_side = [l for l in scans if "text" in l]
    # both scans read text (to hash it) — but the JOIN must be on the digest:
    assert "LeftAnti" in plan
    assert plan.count("Exchange hashpartitioning") <= 3  # corpus agg + join sides
    assert "Window" in plan
    assert len(anti_side) >= 1


def test_decontaminate_all_joins_broadcast(spark, sf_dir):
    # eval grams and the contaminated-id set are both corpus-tiny: every
    # join must be broadcast — a single SortMergeJoin here would shuffle
    # the exploded gram stream at corpus scale
    plan = _plan(spark, sf_dir, "decontaminate_docs")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_token_block_segments_adds_no_shuffle(spark, sf_dir):
    # the segment split is a projection + bounded explode over the
    # token_blocks stream — identical exchange count to token_blocks itself
    p1 = _plan(spark, sf_dir, "token_blocks")
    p2 = _plan(spark, sf_dir, "token_block_segments")
    assert p2.count("Exchange hashpartitioning") == p1.count(
        "Exchange hashpartitioning"
    )
    assert "Generate explode" in p2 or "Generate posexplode" in p2


def test_kmeans_clusters_single_exchange_for_both_windows(spark, sf_dir):
    # cluster size + balanced-sample rank share the cluster partitioning:
    # exactly one hash exchange; assignment itself is a pure projection
    plan = _plan(spark, sf_dir, "embedding_kmeans_clusters")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_scd2_single_key_exchange(spark, sf_dir):
    # one hash exchange on the key, then a streaming window pass — lead()
    # must not introduce extra shuffles
    plan = _plan(spark, sf_dir, "scd2_customer_history")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_r6_queries_all_jvm_no_python(spark, sf_dir):
    """Every round-6 query stays whole-stage-codegen JVM — no Python eval
    nodes anywhere in the executed plan."""
    for name in (
        "line_dedup_docs",
        "duplicate_text_spans",
        "bm25_topk_retrieval",
        "doc_perplexity_scores",
        "ohlcv_candles",
        "gap_fill_price_grid",
        "pagerank_near_dup",
        "neardup_incremental_batch",
        "simhash64_hamming_near_dup",
        "dedup_canonical_docs",
        "quality_classifier_scores",
        # semantic_dedup_embeddings is deliberately Arrow-batched
        # (applyInPandas cell kernel) — covered by its own test below
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_ohlcv_candles_single_exchange(spark, sf_dir):
    """Both rank windows and the final aggregate partition on
    (symbol, bucket_s): Catalyst must plan exactly ONE hash exchange."""
    plan = _plan(spark, sf_dir, "ohlcv_candles")
    assert plan.count("Exchange hashpartitioning") == 1


def test_bm25_broadcasts_model_and_query_tables(spark, sf_dir):
    """The query-term table and the df table must broadcast — the
    corpus-sized tf side never shuffles for them — and the df aggregate's
    input must be semi-joined to the query-term set FIRST, so the broadcast
    df side is query-term-sized (bounded) rather than vocabulary-sized
    (unbounded — the r6 100 TB scale-killer)."""
    plan = _plan(spark, sf_dir, "bm25_topk_retrieval")
    assert plan.count("BroadcastHashJoin") >= 3  # qt, df, stats
    # the query-term restriction of the df aggregate survives optimization
    assert "LeftSemi" in plan


def test_tfidf_df_broadcast_is_size_gated(spark, sf_dir, monkeypatch):
    """Small (known-local, under-threshold) input → broadcast df: the
    asserted-fast fixture plan. Forced-large input → the term-keyed
    sort-merge join: the only plan that survives a web-corpus vocabulary.
    """
    from futures_eos_cdc_spark.plans import dataprep

    plan_small = _plan(spark, sf_dir, "tfidf_top_terms")
    assert "BroadcastHashJoin" in plan_small
    # Force the large path (input "not known small") AND emulate the large
    # vocabulary's size estimate by disabling auto-broadcast: the un-hinted
    # tf⋈df join must fall back to the term-keyed sort-merge join. (At
    # fixture scale Catalyst's own estimate still broadcasts it — that's
    # the point of removing only the FORCED hint: the planner keeps its
    # stats-driven choice.)
    monkeypatch.setattr(dataprep, "TFIDF_BROADCAST_MAX_INPUT_BYTES", -1)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_large = _plan(spark, sf_dir, "tfidf_top_terms")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan_large


def test_quality_classifier_scan_shaped(spark, sf_dir):
    """The classifier pass must be a pure projection over the scan — no
    hash/range shuffle anywhere (a 100 TB quality gate is scan-shaped).
    The only allowed exchange is spread()'s round-robin fan-out, which is
    a fixture-scale artifact (real corpora arrive with ample splits)."""
    plan = _plan(spark, sf_dir, "quality_classifier_scores")
    assert "Exchange hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_single_cell_shuffle(spark, sf_dir):
    """SemDeDup's cost model: ONE hash exchange on cell feeding the Arrow
    pair kernel; no row-at-a-time Python, no second shuffle for the pair
    scan (the kept-flag join rides the tiny dropped-ids table)."""
    plan = _plan(spark, sf_dir, "semantic_dedup_embeddings")
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_token_budget_mixture_broadcasts_rates(spark, sf_dir):
    """The 20-row rates table must broadcast onto the corpus — a sort-merge
    join here would shuffle every document for 20 rows of rates."""
    plan = _plan(spark, sf_dir, "token_budget_mixture")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_r7_queries_no_cartesian_products(spark, sf_dir):
    """The candidate-generation rewrites exist to AVOID the quadratic plan:
    none of the round-7 queries may fall back to a cartesian join."""
    for name in (
        "fuzzy_join_part_names",
        "doc_containment_dedup",
        "domain_cap_sample",
        "leakage_safe_split",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_domain_cap_plans_window_group_limit_in_query(spark, sf_dir):
    plan = _plan(spark, sf_dir, "domain_cap_sample")
    assert "WindowGroupLimit" in plan


def test_containment_gram_cap_precedes_candidate_join(spark, sf_dir):
    """The max_gram_occ frequency cap must run BEFORE the probe-gram join
    (optimized plan: the aggregate feeding the join filters on n_occ), so
    a viral gram never reaches candidate generation."""
    opt = _optimized(spark, sf_dir, "doc_containment_dedup")
    # the cap survives optimization as a filter over the grouped gram counts
    assert any(
        "Filter" in line and "n_occ" in line for line in opt.splitlines()
    ), opt[:2000]


def test_fuzzy_join_is_equi_join_on_variant_keys(spark, sf_dir):
    """FastSS candidates come from a hash-partitioned equi-join on the
    deletion-variant key — SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin
    are all fine; what must NOT happen is a theta-join on levenshtein."""
    plan = _plan(spark, sf_dir, "fuzzy_join_part_names")
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_quality_weighted_sample_scan_shaped(spark, sf_dir):
    """The soft quality filter must keep the hard gate's ideal shape: a
    pure projection over the scan — no hash/range shuffle, no Python
    (spread()'s round-robin fan-out is the allowed fixture-scale artifact,
    same as test_quality_classifier_scan_shaped)."""
    plan = _plan(spark, sf_dir, "quality_weighted_sample")
    assert "Exchange hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hybrid_rrf_query_bounded_broadcasts(spark, sf_dir):
    """Hybrid retrieval inherits bm25's query-bounded shape: the query-term
    and df tables broadcast (never the corpus), and no Python eval
    appears anywhere in the fused plan."""
    plan = _plan(spark, sf_dir, "hybrid_rrf_retrieval")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cosine_topk_q8_stays_jvm_side(spark, sf_dir):
    """The quantize + integer-dot pipeline is pure JVM expressions over a
    broadcast-queries join — no Python eval, no corpus-side shuffle."""
    plan = _plan(spark, sf_dir, "cosine_topk_q8")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q8_rerank_band_and_queries_broadcast(spark, sf_dir):
    """The SQ8 ladder's exact rung touches the corpus only through
    broadcast lookups: the quantized top-m band and the query vectors
    are both broadcast, so no shuffle lands on the embeddings side
    beyond the quantized rung's own ranking exchange."""
    plan = _plan(spark, sf_dir, "cosine_topk_q8_rerank")
    assert plan.count("BroadcastHashJoin") >= 2  # band + queries
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_v1k_corpus_side_shape(spark, sf_dir):
    """Every subword apply (BPE, byte BPE, Unigram-LM, WordPiece; counts,
    blocks and vocabulary queries) keeps Python on the VOCABULARY only:
    one Arrow stage (the distinct-words tokenizer), the corpus joins the
    tokenized vocab via broadcast (no corpus-side shuffle on word), and
    the only wide corpus exchanges are the doc- or token-keyed
    aggregations."""
    for name in (
        "bpe_token_counts_v1k",
        "bpe_token_blocks_v1k",
        "bpe_subword_vocab_v1k",
        "bpe_token_counts_bytes",
        "unigram_token_counts",
        "unigram_subword_vocab",
        "wordpiece_token_counts",
        "wordpiece_subword_vocab",
    ):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("ArrowEvalPython") == 0, name  # mapInPandas shows as...
        if name == "bpe_token_blocks_v1k":
            # the packing prefix sum reads the counts subplan in two
            # branches; at run time AQE reuses the one broadcast of the
            # tokenized vocabulary, so the final plan tokenizes once
            df = QUERIES[name](spark, sf_dir)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("== Initial Plan ==")[0]
            assert "ReusedExchange" in plan, name
        assert plan.count("MapInPandas") == 1, name  # ...exactly one vocab stage
        assert "BroadcastHashJoin" in plan, name  # wtok joins the corpus broadcast
        assert "SortMergeJoin" not in plan, name


def test_bpe_v1k_blocks_and_subwords_shapes(spark, sf_dir):
    """The v1k family keeps its discipline everywhere: blocks adds only
    the packing prefix sum's exchanges on top of the broadcast word
    join; the subword vocabulary keeps Python on the distinct-word table
    (one Arrow stage) with a broadcast join back."""
    plan = _plan(spark, sf_dir, "bpe_subword_vocab_v1k")
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    plan = _plan(spark, sf_dir, "bpe_token_blocks_v1k")
    # the packing prefix sum reads the counts subplan in TWO branches
    # (per-doc window + shard totals — the established token_blocks
    # shape), so the vocabulary Arrow stage appears twice; both instances
    # stay vocabulary-shaped, and no corpus-side sort-merge join appears
    assert 1 <= plan.count("MapInPandas") <= 2
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_r10_selection_queries_all_jvm_no_python(spark, sf_dir):
    """The round-10 data-selection family stays whole-stage-codegen JVM:
    hashed-n-gram featurization, Bloom probing, BM25/cosine composition
    and the cosine max-reduction are all built-in expressions."""
    for name in (
        "dsir_importance_sample",
        "bloom_dedup_gate",
        "hard_negative_mining",
        "semantic_decontamination",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name


def test_dsir_distribution_tables_broadcast(spark, sf_dir):
    """DSIR's scale guarantee: the bucket histogram/ratio tables are
    n_buckets rows (a constant) and must reach the per-doc counts as
    broadcasts; the only corpus-sized exchanges are the two gram/doc
    aggregates. The global top-k must be a TakeOrderedAndProject, never
    a full sort."""
    plan = _plan(spark, sf_dir, "dsir_importance_sample")
    assert plan.count("BroadcastHashJoin") >= 1  # lr joins the doc counts
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_decontamination_broadcasts_eval_side(spark, sf_dir):
    """The eval-embedding side is broadcast (nested-loop over a tiny
    broadcast list) and the per-vector max is a partial aggregate — the
    corpus scan never shuffles embeddings."""
    plan = _plan(spark, sf_dir, "semantic_decontamination")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan or plan.count(
        "Exchange hashpartitioning"
    ) <= 1  # at most the vec_id agg exchange


def test_gopher_rules_scan_shape(spark, sf_dir):
    """Every Gopher rule is an array/regex expression over the doc's own
    tokens: the plan must be a pure projection over the scan — no join,
    no aggregate exchange, no Python."""
    plan = _plan(spark, sf_dir, "gopher_quality_rules")
    # spread()'s round-robin file-spreading exchange is fixture plumbing;
    # the RULES must add no key exchange of their own
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_perplexity_buckets_window_partitioned_by_lang(spark, sf_dir):
    """The CCNet tertile must be a LANGUAGE-partitioned window — a global
    (unpartitioned) ntile would single-partition the corpus."""
    plan = _plan(spark, sf_dir, "perplexity_buckets")
    assert "ntile(3)" in plan
    assert "Window" in plan and "partitionBy" not in plan  # physical form
    import re

    w = re.search(r"Window \[ntile\(3\).*?partition.*?lang", plan, re.S)
    assert w is not None, "ntile window not partitioned by lang"


def test_langid_scoring_stage_is_projection_only(spark, sf_dir):
    """langid_scores = one training aggregation (bounded n_langs x
    buckets output) + a SCORING stage that must stay a pure projection:
    the weight vectors ride as array literals, so the registered query's
    plan has NO join anywhere and no Python — the corpus is scanned once
    for training and once for scoring, never shuffled for scoring."""
    plan = _plan(spark, sf_dir, "langid_scores")
    assert "Join" not in plan  # scoring is literal-array folds, join-free
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "aggregate(" in plan  # the per-language fold expressions


def test_wordpiece_counts_vocabulary_shaped_arrow_join(spark, sf_dir):
    """WordPiece token counts must be the distinct-words Arrow join-back
    shape (the BPE/unigram discipline): exactly one MapInPandas over the
    DISTINCT-word table, its output broadcast back to the corpus — never
    a corpus-side sort-merge join, never Python over the corpus."""
    plan = _plan(spark, sf_dir, "wordpiece_token_counts")
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_prototype_pruning_single_cluster_exchange(spark, sf_dir):
    """Assignment + prototype distance must be a projection (no join; at
    fixture cell counts the literal expression, no Python), and BOTH
    windows (cluster size + hardest rank) must share ONE cluster-keyed
    exchange."""
    plan = _plan(spark, sf_dir, "prototype_pruning")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" not in plan  # 16 cells x 64 dims < the term budget
    assert "BatchEvalPython" not in plan


def test_exactsubstr_gram_cut_has_no_pair_join(spark, sf_dir):
    """The linear ExactSubstr formulation must never plan the pairwise
    stage: no cartesian/nested-loop, no Python eval, and every join in
    the plan is an equi-join (gram flag join, (doc,p) event join, doc
    reassembly join) — the quadratic gram self-join of
    duplicate_text_spans is absent by construction."""
    plan = _plan(spark, sf_dir, "exactsubstr_gram_cut")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_moore_lewis_models_broadcast_no_python(spark, sf_dir, monkeypatch):
    """Since the r13 collapse both LMs live in ONE (w1,w2)-keyed model
    table with the target slice as a conditional sum, so the corpus-sized
    scoring side sees exactly ONE broadcast model join.  The 1-row
    vocab/entropy scalar frame still plans as a single
    BroadcastNestedLoopJoin (broadcast of a 1-row frame always does in
    Spark — bounded, accepted).  Whole plan stays JVM-side, nothing
    cartesian or quadratic.  The model broadcast is the small-input
    plan; past TFIDF_BROADCAST_MAX_INPUT_BYTES of documents the model
    join loses its hint."""
    from futures_eos_cdc_spark.plans import dataprep

    plan = _plan(spark, sf_dir, "moore_lewis_selection")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") == 1  # the single collapsed model join
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # 1-row scalar frame only
    # Force the large path (input "not known small") and emulate the large
    # model's size estimate by disabling auto-broadcast: the un-hinted
    # model join must fall back to a sort-merge join on (w1, w2).
    monkeypatch.setattr(dataprep, "TFIDF_BROADCAST_MAX_INPUT_BYTES", -1)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_large = _plan(spark, sf_dir, "moore_lewis_selection")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan_large
    assert "SortMergeJoin" in plan_large


def test_ann_ivf_pq_plan_shape(spark, sf_dir):
    """IVF-PQ's scan side must read CODES, not vectors: the probe, codes
    and band joins all broadcast (queries/band are query-bounded), the
    whole ADC expression stays JVM-side (the codebook is ONE parsed
    literal), and nothing plans a cartesian — full vectors re-enter only
    through the id-keyed band join."""
    plan = _plan(spark, sf_dir, "ann_cosine_ivf_pq")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # probe + codes + band


def test_bpe_bytes_python_touches_only_distinct_words(spark, sf_dir):
    """Byte-level BPE's only Python is the vocabulary-shaped tokenizer:
    exactly ONE MapInPandas (over DISTINCT words — the byte mapping runs
    once per word, never per occurrence), its counts broadcast back onto
    the corpus explode, no row-at-a-time eval, no cartesian."""
    plan = _plan(spark, sf_dir, "bpe_token_counts_bytes")
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1  # vocab join-back
