"""Physical-plan assertions for the scale claims in SCALE.md.

Correctness gates prove values; these tests prove the SHAPE — filters
reach the parquet scan, dimension joins broadcast, global top-k runs as
a bounded heap, and column pruning trims the read schema. A regression
here means a query got slower at scale even if its values still match.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    from etl_router_spark.queries import all_queries

    qs = all_queries()

    def plan_of(name: str) -> str:
        df = qs[name](spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    return plan_of


def test_q6_filters_push_to_scan(plans):
    plan = plans("q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:", 1)[1][:400]


def test_q6_reads_only_needed_columns(plans):
    plan = plans("q6_forecast_revenue")
    schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_extendedprice" in schema and "l_discount" in schema
    assert "l_orderkey" not in schema and "l_returnflag" not in schema


def test_q5_dimension_chain_broadcasts(plans):
    plan = plans("q5_nation_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_top_parts_is_a_bounded_heap(plans):
    plan = plans("q_top_parts_by_revenue")
    assert "TakeOrderedAndProject" in plan


def test_lookup_prunes_dimension_before_broadcast(plans):
    plan = plans("lookup_merge")
    part_scan = plan.split("part.parquet", 1)[0]
    schema = part_scan.rsplit("ReadSchema:", 1)[-1].splitlines()[0]
    assert "p_size" not in schema, schema  # un-merged column never read


def test_q4_semi_join_not_inner(plans):
    plan = plans("q4_order_priority")
    assert "LeftSemi" in plan


def test_q22_anti_join_and_no_driver_scalar(plans):
    plan = plans("q22_idle_customers")
    assert "LeftAnti" in plan
    # the scalar average is a broadcast join, not a collected literal
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_decontaminate_broadcasts_benchmark(plans):
    """The benchmark n-gram set must broadcast: the corpus postings
    never shuffle for the contamination semi-join."""
    plan = plans("corpus_decontaminate")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_hash_sample_is_shuffle_free(plans):
    """Deterministic sampling is a pure map-side filter — zero
    Exchange in the plan."""
    plan = plans("corpus_hash_sample")
    assert "Exchange" not in plan


def test_block_cosine_has_no_driver_collect(spark, sf_dir):
    """The block-GEMM pair plan contains the corpus only as a scan ->
    exchange -> applyInPandas pipeline; nothing in the plan (or its
    construction) collects the corpus to the driver."""
    from etl_router_spark.io import load_table
    from etl_router_spark.functions.dedup import embedding_cosine_pairs
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    df = embedding_cosine_pairs(emb, threshold=0.5, method="block", num_blocks=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    # one shuffle: the block-pair expansion exchange feeding the GEMM
    assert "CollectLimit" not in plan and "CartesianProduct" not in plan


def test_cdc_apply_is_aggregation_not_window(plans):
    """cdc_apply must be the max_by partial-agg shape: no Window sort
    over the changelog, pushdown intact."""
    plan = plans("cdc_apply_events")
    assert "max_by" in plan
    assert "Window" not in plan
    assert "PushedFilters: [IsNotNull(user_id), LessThan(user_id,200)]" in plan


def test_rollup_is_one_expand_aggregation(plans):
    """ROLLUP = Expand + ONE aggregation over broadcast-joined dims —
    never per-level re-scans of the fact table."""
    plan = plans("q_rollup_revenue")
    assert plan.count("Expand") >= 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the fact parquet is scanned exactly once
    assert plan.count("lineitem.parquet") == 1


def test_pivot_has_no_distinct_prejob(plans):
    """Explicit pivot values: the plan is a single aggregation tree;
    no second scan of events to discover the pivot values."""
    plan = plans("q_pivot_event_matrix")
    assert plan.count("events.parquet") == 1


def test_window_funcs_share_one_partitioning(plans):
    """lag/lead/row_number/running-sum share the (custkey) partition
    shuffle; only the ntile order adds a sort within it."""
    plan = plans("q_window_funcs")
    assert plan.count("Exchange hashpartitioning") == 1


def test_profile_is_single_pass(plans):
    """All columns profile in one Aggregate — one scan of orders, no
    per-column jobs, no shuffle other than the global aggregate."""
    plan = plans("profile_orders")
    assert plan.count("orders.parquet") == 1


def test_cosine_join_has_no_driver_collect(spark, sf_dir):
    """Cross-set GEMM: plan contains the applyInPandas boundary and no
    broadcast of collected corpus (driver stays out of the data path)."""
    from pyspark.sql import functions as F

    from etl_router_spark.functions.dedup import embedding_cosine_join
    from etl_router_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_cosine_join(
        emb.filter(F.col("vec_id") < 100),
        emb.filter(F.col("vec_id") >= 100),
        threshold=0.5, left_blocks=2, right_blocks=2,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_q2_argmax_uses_broadcasts_and_no_cartesian(plans):
    plan = plans("q2_best_supplier_per_part")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q9_part_filter_broadcasts_into_fact(plans):
    plan = plans("q9_profit_by_nation_year")
    assert plan.count("BroadcastHashJoin") >= 3  # part, supplier, nation
    assert "CartesianProduct" not in plan


def test_q16_distinct_pairs_before_countdistinct(plans):
    plan = plans("q16_supplier_count_by_part_attrs")
    assert "BroadcastHashJoin" in plan


def _executed_plan(spark, sf_dir, name):
    # the scalar-subquery queries rely on AQE RUNTIME exchange reuse
    # (ReuseExchangeAndSubquery does not fire at static planning under
    # AQE), so these pins execute the query and read the final plan
    # from the SQL status store
    from etl_router_spark.queries import all_queries

    df = all_queries()[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    store = spark._jsparkSession.sharedState().statusStore()
    return store.executionsList().last().physicalPlanDescription()


def test_q20_scalar_threshold_reuses_shipped_exchange(spark, sf_dir):
    # the scalar average rides on a REUSED exchange of the per-supplier
    # aggregate: the fact table is scanned once at runtime
    desc = _executed_plan(spark, sf_dir, "q20_heavy_shippers")
    assert "ReusedExchange" in desc or "ReusedQueryStage" in desc


def test_q11_scalar_threshold_reuses_pv_exchange(spark, sf_dir):
    desc = _executed_plan(spark, sf_dir, "q11_important_parts")
    assert "ReusedExchange" in desc or "ReusedQueryStage" in desc


def test_line_dedup_no_window_no_text_in_winner_shuffle(plans):
    """line_dedup's winner selection must be a partial-agg groupBy
    (map-side combine kills hot boilerplate lines), never a window sort
    over the line stream; the plan carries no Window at all."""
    plan = plans("corpus_line_dedup")
    assert "Window" not in plan
    assert "partial_min" in plan or "merge_min" in plan or "min(" in plan
    # one groupBy(id) over the flagged lines serves totals + kept
    # counts + reassembly: the line stream must shuffle by id ONCE
    assert plan.count("hashpartitioning(id#") <= 2  # join sides of flag join excluded


def test_embedding_ops_are_shuffle_free(plans):
    """Normalization and quantization are per-row column maps — zero
    Exchange in either plan."""
    assert "Exchange" not in plans("embedding_normalize")
    assert "Exchange" not in plans("embedding_quantize")


def test_asof_nearest_single_keyed_shuffle(spark, sf_dir):
    """nearest-direction as-of: both window passes must reuse ONE
    hash partitioning on the join key — no second Exchange for the
    descending tie order, and never a pair-explosion join."""
    from pyspark.sql import functions as F

    from etl_router_spark.functions.joins import asof_join
    from etl_router_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    plan = asof_join(p, c, on="user_id", direction="nearest")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("hashpartitioning(user_id") <= 2  # two sides of the union
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") == 2  # backward + forward pass, same partitioning


def test_duplicate_spans_single_posting_pass(plans):
    """The posting subtree (tokenize+shingle+md5 explode over the
    corpus) must appear ONCE: the dup filter is a count window over the
    digest, not a groupBy + self-semi-join that recomputes the scan."""
    plan = plans("corpus_duplicate_spans")
    # r15: the scalar-n path routes through the list machinery, whose
    # single pass is a plain explode over the per-doc materialized
    # token array (the posexplode form re-tokenized per gram position)
    assert plan.count("Generate explode") + plan.count("Generate posexplode") == 1
    # exchanges: gh window, id window, final groupBy partial/final pair
    assert plan.count("Exchange hashpartitioning") <= 3


def test_service_stage_is_shuffle_free(plans):
    """TransformService is embarrassingly parallel: one Arrow boundary,
    zero exchanges."""
    plan = plans("service_process_batch")
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_mix_sample_corpus_never_shuffles(plans):
    """The fact side reaches the keep-filter via broadcast join; the
    only exchanges aggregate the tiny per-domain counts."""
    plan = plans("corpus_mix_target")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_filter_broadcasts_thresholds(plans):
    """The per-group threshold frame must broadcast back onto the
    corpus — a shuffle join here would reshuffle the whole corpus for
    a group-count-sized dimension."""
    plan = plans("corpus_quality_filter")
    assert "BroadcastHashJoin" in plan


def test_url_normalize_is_shuffle_free(plans):
    """URL canonicalization is a pure projection: any Exchange means
    the regex/array pipeline fell out of the scan stage."""
    plan = plans("text_url_normalize")
    assert "Exchange" not in plan


def test_zorder_keys_single_stats_broadcast(plans):
    """The z-key plan reads min/max once (one aggregate subtree feeding
    a broadcast nested-loop of the 1-row stats frame); the interleave
    itself must stay in the scan projection — no extra shuffle of the
    fact rows."""
    plan = plans("sink_zorder_keys")
    assert "BroadcastNestedLoopJoin" in plan
    # the only exchanges allowed are the stats aggregate + its
    # broadcast; the row side must not Exchange
    assert plan.count("Exchange hashpartitioning") == 0


def test_pca_project_is_pure_jvm_and_shuffle_free(plans):
    # the projection gate must stay zero-Python (no Arrow/Python eval
    # nodes) and narrow (no Exchange): per-row zip_with + fold only
    plan = plans("embedding_pca_project")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "PythonUDF" not in plan, plan


def test_bm25_broadcast_is_query_sized(plans):
    # BM25's 100 TB contract (r16 shape): no corpus-wide exchange.
    # Nothing is persisted: the probe side and the df branch each run
    # their own (filtered) tokenize+explode map pass, and the broadcast
    # query-term filter sits BELOW every tf aggregate so only query-term
    # token rows reach either hits-sized exchange; the per-term document
    # frequency is a count over that tf table (one row per containing
    # doc), never a vocabulary-wide distinct-doc aggregate.
    plan = plans("text_bm25_topk")
    assert "BroadcastHashJoin" in plan
    # every corpus tokenize site (Generate over __toks) must sit BELOW
    # the qterm BroadcastHashJoin, i.e. the chain between the exchange
    # above it and the Generate itself contains the broadcast term
    # filter — so no corpus-wide (id, term) rows ever reach a shuffle
    # (the tree prints top-down: ... Exchange -> partial agg -> BHJ ->
    # Filter -> Generate)
    parts = plan.split("Generate explode(__toks")
    assert len(parts) >= 2, plan
    for seg in parts[:-1]:
        tail = seg.rsplit("Exchange hashpartitioning", 1)[-1]
        assert "BroadcastHashJoin" in tail, tail
    # df derived from the filtered tf table: the old token-stream
    # distinct-doc recount (vocabulary-df hazard) is gone
    assert "count(distinct" not in plan, plan


def test_pq_encode_is_map_side_only(spark, sf_dir):
    """PQ encoding must not shuffle BY KEY: literal-codebook assignment
    is a pure column expression over the scan. The one exchange
    permitted is the r15 round-robin `spread_small_scan` (fires only on
    under-partitioned inputs like the single-row-group fixtures; a
    no-op at real scale) — nothing may hash-partition or sort."""
    from etl_router_spark.functions.pq import deterministic_codebooks, pq_encode
    from etl_router_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = (pq_encode(emb, deterministic_codebooks(64, m=4, k=8))
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == plan.count(
        "Exchange RoundRobinPartitioning"), plan
    assert "Join" not in plan, plan


def test_ivfpq_candidates_join_broadcast_no_cartesian(spark, sf_dir):
    """IVF-PQ candidate generation is a broadcast equi-join on the
    centroid id — the corpus side must not shuffle for it and no
    cartesian/nested-loop join may appear."""
    from etl_router_spark.functions.pq import deterministic_codebooks, ivfpq_topk
    from etl_router_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = (ivfpq_topk(emb.filter("vec_id < 10"), emb,
                       deterministic_codebooks(64, m=4, k=8),
                       k=5, nprobe=2, n_centroids=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the only exchanges are the broadcast itself + the final per-query
    # ranking window — the corpus scan side feeds the join directly
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_semantic_dedup_plan_shape(spark, sf_dir):
    """SemDeDup's 100 TB contract, pinned (the PQ treatment): cell
    assignment is a map-side literal-centroid expression — the KEPT
    corpus branch feeds the final anti-join straight from the scan with
    ZERO Exchange — the only shuffles are the within-cell pair groupBy
    and the dropped-id distinct, and the anti-join itself broadcasts
    the (small) dropped-id set. A refactor that reintroduces a
    corpus-side shuffle or a sort-merge/cartesian anti-join fails here
    before it ships."""
    from etl_router_spark.functions.dedup import semantic_dedup
    from etl_router_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = (semantic_dedup(emb, threshold=0.3, n_cells=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan, plan
    # pair groupBy (__cell) + dropped-id distinct — nothing else
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    # the kept branch (probe side of the anti-join) is the bare scan:
    # no Exchange may appear between the FileScan and the join
    probe = plan.split("BroadcastHashJoin", 1)[1].split("BroadcastExchange")[0]
    assert "Exchange" not in probe, probe
    assert "EvalPython" not in plan and "PythonUDF" not in plan, plan


def test_ivfpq_rerank_fetch_is_broadcast_no_corpus_shuffle(spark, sf_dir):
    """Two-stage re-rank: the stage-2 candidate fetch must broadcast
    the (query_id, neighbor_id) shortlist onto the corpus scan — never
    shuffle the corpus's full-width vectors. Allowed exchanges are the
    two ranking windows (stage-1 ADC, stage-2 exact), both keyed on
    query_id over candidate-sized data."""
    from etl_router_spark.functions.pq import (
        deterministic_codebooks,
        ivfpq_rerank_topk,
    )
    from etl_router_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = (ivfpq_rerank_topk(emb.filter("vec_id < 10"), emb,
                              deterministic_codebooks(64, m=4, k=8),
                              k=5, shortlist=20, nprobe=2, n_centroids=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_epoch_upsample_corpus_never_shuffles(spark, sf_dir):
    """epoch_upsample's contract: the only hash exchange is the tiny
    per-domain counts aggregate; the epochs frame joins back as a
    broadcast and the repeat explode is map-side over the scan."""
    from etl_router_spark.functions.corpus import epoch_upsample
    from etl_router_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (epoch_upsample(docs, {f"src{i}": 1.0 for i in range(20)},
                           token_budget=1e9, size_col="n_chars",
                           max_epochs=2.0)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "Generate explode" in plan, plan


def test_snapshot_diff_shuffles_digests_not_documents(spark, sf_dir):
    """snapshot_diff reduces each side to (id, digest) BEFORE the
    full-outer join: the digest md5 must be computed below every
    exchange, so the shuffle carries two longs per row, never text."""
    from etl_router_spark.functions.corpus import snapshot_diff
    from etl_router_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source")
    plan = (snapshot_diff(docs, docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    # every exchange's subtree already projected the digest: the plan
    # text below the first Exchange must not reference the text column
    # as a join/partition key, and md5 appears under each scan branch
    assert plan.count("md5") >= 2, plan
    for frag in plan.split("Exchange hashpartitioning")[1:]:
        head = frag.split("\n")[0]
        assert "doc_id" in head, head


def test_bloom_probe_zero_exchange(spark, sf_dir):
    """The Bloom decontamination probe is a pure map over the corpus
    scan — the literal filter rides in the plan; no join, no KEYED
    shuffle, for BOTH hash families. The one exchange permitted is the
    r15 round-robin `spread_small_scan` (fires only on under-partitioned
    inputs like the single-row-group fixtures; a no-op at real scale) —
    nothing may hash-partition or sort-merge the corpus."""
    from etl_router_spark.functions.corpus import bloom_decontaminate
    from etl_router_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter("doc_id < 50")
    for fam in ("h60", "xxhash64"):
        plan = (bloom_decontaminate(docs, bench, n=8, m_bits=1 << 14,
                                    k=3, hash_family=fam)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Join" not in plan, (fam, plan)
        assert plan.count("Exchange") == plan.count(
            "Exchange RoundRobinPartitioning"), (fam, plan)


def test_mix_sample_external_sizes_zero_row_exchange(spark, sf_dir):
    """With a persisted (domain, __n) table mix_sample is a SINGLE
    corpus scan with no hash exchange: rates derive from the tiny
    external frame and broadcast onto the fact side — the nightly
    path (the counts pass is only for ad-hoc calls; its cost is the
    adjudicated corpus_mix_target constant in SCALE.md)."""
    from pyspark.sql import functions as F

    from etl_router_spark.functions.corpus import mix_sample
    from etl_router_spark.io import load_table

    sizes = spark.createDataFrame(
        [(f"src{i}", 1000.0) for i in range(20)], "source string, __n double")
    docs = load_table(spark, sf_dir, "documents")
    for kw in ({"weights": {"src1": 0.5, "src2": 0.5}},
               {"temperature": 0.5}):
        plan = (mix_sample(docs, domain_col="source", size_col="n_chars",
                           domain_sizes=sizes, **kw)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange hashpartitioning" not in plan, (kw, plan)
        assert "BroadcastHashJoin" in plan, (kw, plan)
        assert "SortMergeJoin" not in plan, (kw, plan)


def test_bloom_probe_broadcast_mode_zero_row_exchange(spark, sf_dir):
    """broadcast=True swaps the plan literal for a one-row broadcast
    frame: the corpus side still sees NO hash exchange (nothing
    corpus-sized shuffles) — the only addition is the single-row
    BroadcastExchange that ships the bit array once per executor
    instead of once per task binary."""
    from etl_router_spark.functions.corpus import bloom_decontaminate
    from etl_router_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter("doc_id < 50")
    plan = (bloom_decontaminate(docs, bench, n=8, m_bits=1 << 14,
                                k=3, broadcast=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bloom_broadcast_and_literal_agree(spark, sf_dir):
    """Mode is a transport decision, not a semantics decision: the
    surviving doc_id set must be identical literal vs broadcast."""
    from etl_router_spark.functions.corpus import bloom_decontaminate
    from etl_router_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter("doc_id % 7 = 0")
    kw = dict(n=8, m_bits=1 << 14, k=3)
    lit = {r[0] for r in bloom_decontaminate(
        docs, bench, broadcast=False, **kw).select("doc_id").collect()}
    bc = {r[0] for r in bloom_decontaminate(
        docs, bench, broadcast=True, **kw).select("doc_id").collect()}
    assert lit == bc


def test_bloom_h60_rejects_oversized_filter():
    """h60 positions carry 40 bits: m_bits beyond 2^32 must fail fast
    (modulo bias + unreachable bits silently inflate the FP rate)."""
    import pytest

    from etl_router_spark.functions.corpus import _bloom_pos_sql

    with pytest.raises(ValueError, match="2\\^32|xxhash64"):
        _bloom_pos_sql("g", (1 << 33), 3, "h60")
    # xxhash64 is 64-bit: same size must be accepted
    assert len(_bloom_pos_sql("g", (1 << 33), 3, "xxhash64")) == 3


def test_retrieval_eval_partitions_by_query_only(spark):
    """retrieval_eval's shuffles are all query_id-keyed: per-query
    groups are <= k rows, so a million-query evaluation is a million
    tiny sorted groups — nothing corpus-sized ever shuffles."""
    from etl_router_spark.functions.indexing import retrieval_eval

    runs = spark.createDataFrame(
        [("q1", "a", 1)], "query_id string, doc_id string, rank int")
    qrels = spark.createDataFrame(
        [("q1", "a", 1.0)], "query_id string, doc_id string, rel double")
    plan = (retrieval_eval(runs, qrels, k=10)
            ._jdf.queryExecution().executedPlan().toString())
    for frag in plan.split("Exchange hashpartitioning")[1:]:
        head = frag.split("\n")[0]
        assert "query_id" in head, head
    assert "CartesianProduct" not in plan


def test_domain_cap_exact_single_host_shuffle(spark, sf_dir):
    """Exact per-host cap is ONE hash shuffle on the host key (the
    row_number window) — no join, no second exchange of corpus rows."""
    from pyspark.sql import functions as F

    from etl_router_spark.functions.corpus import domain_cap
    from etl_router_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", F.expr("concat('https://', source, '.example.com/p/', "
                      "CAST(doc_id AS STRING))"))
    plan = (domain_cap(docs, url_col="url", cap=5)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_domain_cap_threshold_rows_never_shuffle(spark, sf_dir):
    """Threshold mode: corpus rows reach the output through a
    broadcast join + map-side hash filter only — the only hash
    exchanges carry the per-host COUNT partials (sums, never rows),
    and no sort-merge/cartesian join may appear."""
    from pyspark.sql import functions as F

    from etl_router_spark.functions.corpus import domain_cap
    from etl_router_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", F.expr("concat('https://', source, '.example.com/p/', "
                      "CAST(doc_id AS STRING))"))
    plan = (domain_cap(docs, url_col="url", cap=5, method="threshold")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the count aggregation is the single row-keyed exchange; with an
    # external domain_counts table even that disappears
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_domain_cap_external_counts_zero_row_exchange(spark, sf_dir):
    """With a persisted (host, __n) table the docs probe side never
    hash-shuffles: the over-cap host list joins as a broadcast, so
    documents are filtered map-side. Since r13 the broadcast is
    AQE-picked, not hinted (an over-cap list is data-dependent — a low
    cap over a crawl puts millions of hosts over it, where a forced
    hint OOMs), and a stats-less external counts frame plans SMJ
    statically — so assert the RUNTIME-final adaptive plan: the join
    ran as broadcast and the only hash exchange is the host list's own
    (over-cap-sized), never the documents'."""
    from pyspark.sql import functions as F

    from etl_router_spark.functions.corpus import domain_cap
    from etl_router_spark.io import load_table

    counts = spark.createDataFrame(
        [(f"src{i}.example.com", 1000) for i in range(20)],
        "host string, __n long")
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", F.expr("concat('https://', source, '.example.com/p/', "
                      "CAST(doc_id AS STRING))"))
    out = domain_cap(docs, url_col="url", cap=5, method="threshold",
                     domain_counts=counts)
    out.collect()  # finalize THIS frame's adaptive plan in place
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, plan
    assert "SortMergeJoin" not in final, plan
    # the initial SMJ's leaf shuffles materialize before AQE replans,
    # but are read back LOCALLY (map-side files, no cross-partition
    # redistribution of the documents) — the known cost of runtime
    # conversion on a stats-less frame, vs. zero shuffle when the
    # counts come from a source with statistics (static broadcast,
    # test_quality_filter_broadcasts_thresholds) and vs. an OOM when
    # a data-sized over-cap list is force-hinted
    assert "AQEShuffleRead local" in final, plan


def test_yield_curve_one_pass_no_row_shuffle(spark, sf_dir):
    """filter_yield_curve is ONE aggregation pass: ungrouped, the plan
    has no hash exchange at all (partial sums -> 1-row reduce);
    grouped, exactly one exchange keyed by the group column carrying
    2T+2 sums per group — never data rows."""
    from pyspark.sql import functions as F

    from etl_router_spark.functions.corpus import filter_yield_curve
    from etl_router_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "score", F.col("n_chars") / 600.0)
    plan = (filter_yield_curve(docs, "score", [0.2, 0.5, 0.8],
                               size_col="n_chars")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    grouped = (filter_yield_curve(docs, "score", [0.2, 0.5, 0.8],
                                  size_col="n_chars", group_col="source")
               ._jdf.queryExecution().executedPlan().toString())
    assert grouped.count("Exchange hashpartitioning") == 1, grouped
    assert "Join" not in grouped, grouped


def test_yield_curve_values(spark):
    """Hand-checked curve: counts, unit sums and fractions per
    threshold; NULL scores never kept but still count in totals."""
    from etl_router_spark.functions.corpus import filter_yield_curve

    df = spark.createDataFrame(
        [(1, 0.1, 10), (2, 0.5, 20), (3, 0.9, 30), (4, None, 40)],
        "doc_id bigint, score double, n_tok int")
    rows = {r["threshold"]: r for r in filter_yield_curve(
        df, "score", [0.2, 0.6], size_col="n_tok").collect()}
    assert rows[0.2]["n_docs_kept"] == 2 and rows[0.2]["n_units_kept"] == 50.0
    assert rows[0.6]["n_docs_kept"] == 1 and rows[0.6]["n_units_kept"] == 30.0
    assert rows[0.2]["frac_docs"] == 0.5 and rows[0.2]["frac_units"] == 0.5
    import pytest

    with pytest.raises(ValueError, match="increasing"):
        filter_yield_curve(df, "score", [0.6, 0.2])
    with pytest.raises(ValueError, match="threshold"):
        filter_yield_curve(df, "score", [])


def test_bloom_prebuilt_words_matches_rebuild(spark, sf_dir):
    """Build-once/probe-forever: a prebuilt bit array must flag the
    exact same documents as an in-call build, and a size mismatch
    must fail fast (positions are modulo m_bits)."""
    import pytest

    from etl_router_spark.functions.corpus import (
        bloom_bitmap,
        bloom_decontaminate,
    )
    from etl_router_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter("doc_id % 7 = 0")
    words = bloom_bitmap(bench, n=8, m_bits=1 << 14, k=3)
    built = {r[0] for r in bloom_decontaminate(
        docs, bench, n=8, m_bits=1 << 14, k=3).select("doc_id").collect()}
    pre = {r[0] for r in bloom_decontaminate(
        docs, None, n=8, m_bits=1 << 14, k=3,
        prebuilt_words=words).select("doc_id").collect()}
    assert built == pre
    with pytest.raises(ValueError, match="m_bits"):
        bloom_decontaminate(docs, None, n=8, m_bits=1 << 15, k=3,
                            prebuilt_words=words)


def test_fuzzy_decon_broadcast_sides_agree(spark, sf_dir):
    """broadcast_side is a transport decision: matched ids are
    identical whether the probes or the index ship whole, and
    decontaminate_fuzzy (index side broadcast — corpus rows stay
    distributed) must agree with a probes-side run. Tag mode flags
    exactly the drop mode's complement."""
    from pyspark.sql import functions as F

    from etl_router_spark.functions.corpus import decontaminate_fuzzy
    from etl_router_spark.functions.dedup import (
        minhash_index,
        minhash_index_matches,
    )
    from etl_router_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    idx = minhash_index(bench, num_hashes=8, bands=4)
    kw = dict(num_hashes=8, bands=4, threshold=0.5)
    via_probes = {r[0] for r in minhash_index_matches(
        corpus, idx, broadcast_side="probes", **kw).collect()}
    via_index = {r[0] for r in minhash_index_matches(
        corpus, idx, broadcast_side="index", **kw).collect()}
    assert via_probes == via_index
    kept = {r[0] for r in decontaminate_fuzzy(
        corpus, bench, mode="drop", **kw).select("doc_id").collect()}
    tagged = decontaminate_fuzzy(corpus, bench, mode="tag", **kw)
    flagged = {r[0] for r in
               tagged.filter("contaminated").select("doc_id").collect()}
    all_ids = {r[0] for r in corpus.select("doc_id").collect()}
    assert flagged == via_index
    assert kept == all_ids - flagged
    # The PROBE join must broadcast (the benchmark index is tiny by
    # contract); the FINAL anti-join's strategy is AQE's runtime call —
    # the matched-id set is the contaminated subset of the corpus,
    # unbounded for a dirty corpus, so forcing it broadcast risked
    # driver OOM (r11 advisor fix). Pin: no forced-broadcast hint on
    # the matched set, probe join broadcast, no cartesian anywhere.
    q = decontaminate_fuzzy(corpus, bench, **kw)._jdf.queryExecution()
    plan = q.executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # exactly ONE broadcast hint survives analysis: the index side of
    # the probe join — none on the corpus-sized matched-id set
    analyzed = q.analyzed().toString()
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == 1, analyzed


def test_minhash_probe_auto_is_unhinted(spark, sf_dir):
    """broadcast_side="auto" (the default) must carry NO forced
    broadcast hint anywhere in the probe plan — the batch side is
    small in the common case but data-dependent, and a forced hint of
    a by-contract-small frame is the exact OOM class the round-13
    rerank-fetch fix established (no AQE fallback when scale inflates
    it). AQE broadcasts the measured-small side at runtime; the
    explicit "probes"/"index" overrides keep their forced hints."""
    from pyspark.sql import functions as F

    from etl_router_spark.functions.dedup import (
        dedup_against_minhash_index,
        minhash_index,
        minhash_index_matches,
    )
    from etl_router_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    idx = minhash_index(docs.filter(F.col("doc_id") < 300),
                        num_hashes=8, bands=4)
    batch = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 500))
    kw = dict(num_hashes=8, bands=4, threshold=0.5)
    auto = minhash_index_matches(batch, idx, **kw)
    assert "ResolvedHint" not in \
        auto._jdf.queryExecution().analyzed().toString()
    # the full incremental-dedup composition (probe join + the
    # matched-id anti-join) is hint-free end-to-end
    kept = dedup_against_minhash_index(batch, idx, **kw)
    assert "ResolvedHint" not in \
        kept._jdf.queryExecution().analyzed().toString()
    # forced overrides still hint exactly one side
    for side in ("probes", "index"):
        forced = minhash_index_matches(batch, idx, broadcast_side=side, **kw)
        analyzed = forced._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint (strategy=broadcast)") == 1, side
    # transport never changes values
    assert {r[0] for r in auto.collect()} == \
        {r[0] for r in minhash_index_matches(
            batch, idx, broadcast_side="probes", **kw).collect()}


def test_fuzzy_decontaminate_anti_join_converts_to_broadcast(spark, sf_dir):
    """The drop-mode anti-join must let AQE convert to a broadcast
    join when the matched-id set measures small — which requires the
    hit set to be its OWN query stage. Before r15 the match pipeline's
    id-distinct reused the minhash groupBy(id) partitioning, the build
    side reached the join unmaterialized, and the runtime-FINAL plan
    kept a corpus-shuffling SortMergeJoin regardless of hit count; the
    round-robin boundary in decontaminate_fuzzy restores the
    documented adaptive behavior (corpus side: local shuffle read, no
    fetch, no sort). The anti-join itself stays hint-free (a huge hit
    set must keep the sort-merge fallback): the initial plan's
    LeftAnti is a SortMergeJoin — proof the conversion is AQE's
    runtime decision, not a static hint. (The ONE ResolvedHint in the
    analyzed plan belongs to the contract-bounded benchmark-INDEX
    broadcast inside minhash_index_matches, not to the anti-join.)"""
    from pyspark.sql import functions as F

    from etl_router_spark.functions.corpus import decontaminate_fuzzy
    from etl_router_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = decontaminate_fuzzy(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        num_hashes=8, bands=4, shingle_n=3, threshold=0.5)
    assert kept._jdf.queryExecution().analyzed().toString().count(
        "ResolvedHint") == 1  # the index side only — none on the anti
    kept.collect()  # finalize THIS QueryExecution's adaptive plan
    plan = kept._jdf.queryExecution().executedPlan().toString()
    final, _, initial = plan.split("== Final Plan ==", 1)[-1].partition(
        "== Initial Plan ==")
    anti_initial = [ln for ln in initial.splitlines() if "LeftAnti" in ln]
    assert anti_initial and all(
        "SortMergeJoin" in ln for ln in anti_initial), initial
    anti_lines = [ln for ln in final.splitlines() if "LeftAnti" in ln]
    assert anti_lines, final
    assert all("BroadcastHashJoin" in ln for ln in anti_lines), final


def test_hard_negatives_partitions_by_query_only(spark):
    """mine_hard_negatives' exchanges are all (query_id[, doc_id])-
    keyed: per-query groups are top-k-sized, nothing corpus-sized
    shuffles, no cartesian anywhere. Values hand-checked: positives
    keep run rank (NULL when never retrieved), negatives are the
    top-ranked unjudged docs, capped and deterministic."""
    from etl_router_spark.functions.indexing import mine_hard_negatives

    runs = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3), ("q1", "d", 4),
         ("q2", "x", 1)],  # q2 has no positives -> emits nothing
        "query_id string, doc_id string, rank int")
    qrels = spark.createDataFrame(
        [("q1", "b", 2.0), ("q1", "z", 1.0), ("q1", "neg", 0.0)],
        "query_id string, doc_id string, rel double")
    out = mine_hard_negatives(runs, qrels, n_negatives=2)
    rows = {(r["query_id"], r["doc_id"]): (r["rank"], r["label"])
            for r in out.collect()}
    assert rows == {
        ("q1", "b"): (2, 1),      # judged positive, retrieved at rank 2
        ("q1", "z"): (None, 1),   # judged positive, recall gap
        ("q1", "a"): (1, 0),      # top-ranked unjudged -> hard negative
        ("q1", "c"): (3, 0),      # next negative (cap 2: d excluded)
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    for frag in plan.split("Exchange hashpartitioning")[1:]:
        head = frag.split("\n")[0]
        assert "query_id" in head, head
    assert "CartesianProduct" not in plan


def test_hard_negatives_dedups_duplicate_qrels(spark):
    """The r11 fix for the advisor finding: duplicate (query_id,
    doc_id) qrel rows with rel > 0 (multiple judgment rounds,
    differing grades) must yield ONE label-1 pair — and must not
    multiply through the rank-attaching left join either."""
    from etl_router_spark.functions.indexing import mine_hard_negatives

    runs = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 2)],
        "query_id string, doc_id string, rank int")
    qrels = spark.createDataFrame(
        # b judged three times (two rounds + a re-grade), z twice
        [("q1", "b", 1.0), ("q1", "b", 2.0), ("q1", "b", 1.0),
         ("q1", "z", 1.0), ("q1", "z", 1.0)],
        "query_id string, doc_id string, rel double")
    out = mine_hard_negatives(runs, qrels, n_negatives=2).collect()
    assert len(out) == 3  # b, z (positives, once each), a (negative)
    rows = {(r["query_id"], r["doc_id"]): (r["rank"], r["label"])
            for r in out}
    assert rows == {("q1", "b"): (2, 1), ("q1", "z"): (None, 1),
                    ("q1", "a"): (1, 0)}


def test_ivfpq_guard_stays_off_the_join_key(spark, sf_dir):
    """Pins the SCALE.md round-14 nullability lesson: the bad-vector
    guard (a raise_error CASE, nullable in Catalyst's eyes) must never
    ride the cell-id JOIN KEY — there the join-inferred isnotnull()
    survives as a Filter that re-evaluates the full O(cells x dims)
    distance arrays per corpus row (measured +30-40% on these gates).
    The invariant: no Filter node in the optimized plan contains the
    argmin's array_min, i.e. distances are computed exactly once, in
    the projections."""
    from pyspark.sql import functions as F

    from etl_router_spark.functions.pq import ivfpq_topk
    from etl_router_spark.io import load_table
    from etl_router_spark.queries_llm import _pq_books

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivfpq_topk(emb.filter(F.col("vec_id") < 10), emb, _pq_books(),
                     k=5, nprobe=2, n_centroids=8)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if line.lstrip(" +-:").startswith("Filter"):
            assert "array_min" not in line, line[:200]
    # the guard itself is still present (corpus id + query id), so bad
    # vectors raise rather than vanish through the join
    assert plan.count("raise_error") >= 4, plan.count("raise_error")


def test_tokenizer_binding_not_reinlined(plans):
    """Static tripwire for the r15 lambda-binding idiom
    (``bound_shingles_sql``/``transform(array(tokens), ...)[0]``): the
    token array is bound ONCE per row, so the ``split(`` tokenizer
    appears a small fixed number of times in the executed-plan text. A
    future optimizer that inlines single-element transforms would
    re-embed the split expression at every reference site inside the
    per-gram lambdas (O(len^2) re-tokenize per row, the r15
    captured-expression trap) and multiply the textual occurrences —
    caught here as a test failure instead of a silent slowdown.
    Bounds = measured r16 counts + 1 slack for benign plan churn."""
    for name, bound in [
        ("corpus_duplicate_spans", 2),
        ("text_bigram_logprob", 6),
        ("select_dsir_topk", 4),
        ("corpus_bloom_decontaminate", 2),
    ]:
        n = plans(name).count("split(")
        assert n <= bound, f"{name}: {n} split( sites (bound {bound})"


def test_bloom_literal_probe_filter_stays_above_spread(plans):
    """The literal-transport Bloom probe relies on an OR-ed
    always-false non-deterministic guard (``spark_partition_id() < 0``)
    to keep the md5-per-gram probe Filter ABOVE the round-robin spread
    exchange — a future optimizer that splits OR-ed conditions into
    pushable conjuncts would push the probe back onto the
    under-partitioned scan and serialize it onto one core (r15
    measurement: the spread bought nothing without the guard). Tree
    prints top-down, so the probe filter must appear BEFORE the
    round-robin exchange, and no md5 condition may appear after it."""
    plan = plans("corpus_bloom_decontaminate")
    rr = plan.find("Exchange RoundRobinPartitioning")
    assert rr != -1, plan[:1500]
    head, tail = plan[:rr], plan[rr:]
    probe = head.find("SPARK_PARTITION_ID")
    assert probe != -1, head[:2000]
    assert "md5(" not in tail.split("FileScan", 1)[0], tail[:2000]
