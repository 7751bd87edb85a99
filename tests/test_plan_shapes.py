"""Physical-plan regression tests: the properties that make queries
scale are asserted, not assumed — filter/column pushdown into scans,
broadcast for dimensions, no stray shuffles, whole-stage codegen."""

from __future__ import annotations

import re

import pytest

from conftest import SF_ORACLE


def plan_of(df, execute: bool = False) -> str:
    if execute:
        # AQE finalizes the plan (incl. codegen markers) only after THIS
        # DataFrame's own queryExecution runs (count() would plan anew)
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    from baseline_magician_spark.registry import get_queries

    return get_queries()


def test_q1_pushdown_and_pruning(spark, queries):
    plan = plan_of(queries["q1_pricing_summary"](spark, SF_ORACLE), execute=True)
    # plan strings truncate long lines; match the visible prefix
    assert re.search(r"PushedFilters: \[IsNotNull\(l_shipdate\)", plan), (
        "shipdate filter not pushed to scan"
    )
    # column pruning: the scan's projected column list must not include
    # unused columns
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m and "l_partkey" not in m.group(1)
    # whole-stage codegen spans show as *(n) operator prefixes
    assert re.search(r"\*\(\d+\) HashAggregate", plan), "agg not codegen'd"


def test_q3_broadcasts_dimensions(spark, queries):
    plan = plan_of(queries["q3_shipping_priority"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan  # all dims fit broadcast at sf0.01


def test_baseline_networks_broadcast_not_shuffled(spark, queries):
    plan = plan_of(queries["baseline_thresholds"](spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in plan  # range join, networks side
    # the fact side must not shuffle before aggregation's partial pass
    agg_part = plan.split("BroadcastNestedLoopJoin")[0]
    assert "Exchange hashpartitioning(network" in agg_part


def test_minhash_selfjoin_single_band_shuffle(spark, queries):
    plan = plan_of(queries["dedup_minhash_lsh_pairs"](spark, SF_ORACLE))
    # shuffle_hash hint -> ShuffledHashJoin; the two identical band
    # projections must share one exchange subtree in the reused plan
    assert "ShuffledHashJoin" in plan


def test_multimodal_stays_narrow(spark, queries):
    plan = plan_of(queries["multimodal_decode_stats"](spark, SF_ORACLE))
    # decode is a pure map pipeline: no exchange anywhere
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_lsh_pair_join_computes_features_once(spark, queries):
    """The (adaptively salted) self-join must evaluate the feature
    pipeline once: the three Python stages (attach payload, extract
    features, and — round 12 — the LSH bucket/norm kernel) appear
    once each in the executed plan, not once per join side, and both
    sides plus the salt-sizing histogram read the same persisted
    projection (TableCacheQueryStage / InMemoryTableScan)."""
    plan = plan_of(
        queries["dedup_embedding_cosine_pairs"](spark, SF_ORACLE), execute=True
    )
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    stages = final.count("MapInPandas") + final.count("MapInArrow")
    assert stages == 3, final
    assert (
        "TableCacheQueryStage" in final
        or "InMemoryTableScan" in final
        or "ReusedExchange" in final
        or "ReusedQueryStage" in final
    )


def test_tpch_ext_dimension_joins_broadcast(spark, queries):
    for name in ("q7_volume_shipping", "q9_product_type_profit"):
        plan = plan_of(queries[name](spark, SF_ORACLE))
        assert "BroadcastHashJoin" in plan, name
        # the only sort-merge/shuffle joins allowed are fact-fact on the
        # order key
        for line in plan.splitlines():
            if "SortMergeJoin" in line:
                assert "orderkey" in line, (name, line)


def test_unpivot_is_single_pass_expand(spark, queries):
    plan = plan_of(queries["unpivot_lineitem_measures"](spark, SF_ORACLE))
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 1  # no self-union rescan


def test_json_parse_is_narrow_before_agg(spark, queries):
    plan = plan_of(queries["json_props_stats"](spark, SF_ORACLE))
    # one scan, one shuffle (the 5-group agg); from_json must not force
    # a Python stage
    assert plan.count("FileScan parquet") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sampling_queries_shuffle_only_where_required(spark, queries):
    from baseline_magician_spark.catalog import load_table
    from baseline_magician_spark.operators.sampling import (
        split_assign,
        stratified_sample,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_ORACLE, "documents")
    # assignment + stratified filter are pure map-side
    narrow = stratified_sample(
        docs.select(
            "doc_id", "lang",
            split_assign(F.col("doc_id"), {"a": 0.5, "b": 0.5}, "s").alias("sp"),
        ),
        "lang",
        {"en": 0.5},
        "doc_id",
    )
    plan = plan_of(narrow)
    assert "Exchange" not in plan
    # quota needs exactly one shuffle (the group window)
    plan_q = plan_of(queries["sample_quota_per_source"](spark, SF_ORACLE))
    assert plan_q.count("Exchange hashpartitioning") == 1


def test_profile_is_one_pass(spark, queries):
    plan = plan_of(queries["profile_orders_table"](spark, SF_ORACLE))
    assert plan.count("FileScan parquet") == 1  # one scan for all cells
    # count_distinct over several columns -> Expand is expected, but no
    # join and no repeated aggregation subtrees
    assert "Join" not in plan


def test_q7_nation_prefilter_reaches_scans(spark, queries):
    """q7 pre-filters both nation roles to the two named nations before
    any join, so the supplier/customer streams shrink map-side; the
    nation scans must show the pushed In(n_name) filter and the plan
    must not apply the pair disjunction above a 6-way join chain."""
    plan = plan_of(queries["q7_volume_shipping"](spark, SF_ORACLE))
    assert plan.count("In(n_name") >= 2, "nation pre-filter not pushed"
    # both fact shuffles still join on the order key only
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "orderkey" in line, line


def test_packing_single_bucket_shuffle(spark, queries):
    """Sequence packing must shuffle exactly once (the bucket window)
    — no global-order single-partition bottleneck."""
    plan = plan_of(queries["pipeline_sequence_packing"](spark, SF_ORACLE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_chunk_manifest_full_chunks_exact(spark, queries):
    """Every non-terminal chunk of a bucket holds exactly CTX_LEN
    tokens — the packing invariant a data loader depends on."""
    from baseline_magician_spark.queries.packing_q import CTX_LEN
    from pyspark.sql import functions as F

    man = queries["pipeline_chunk_manifest"](spark, SF_ORACLE)
    last = man.groupBy("bucket").agg(F.max("chunk_id").alias("last_chunk"))
    bad = (
        man.join(last, "bucket")
        .where(F.col("chunk_id") < F.col("last_chunk"))
        .where(F.col("n_tokens_in_chunk") != CTX_LEN)
        .count()
    )
    assert bad == 0


def test_shuffle_order_avoids_global_sort_of_data(spark, queries):
    """The epoch-shuffle permutation must rank within hash buckets
    (uniform exchange) — only the 16-row bucket-offset aggregate may
    pass through a single partition, never the documents themselves."""
    df = queries["pipeline_shuffle_order"](spark, SF_ORACLE)
    plan = plan_of(df)
    assert "hashpartitioning(_bucket" in plan
    # the doc-bearing side must not sort globally: any SinglePartition
    # exchange must sit under the tiny bucket-count aggregate subtree
    for chunk in plan.split("Exchange SinglePartition")[1:]:
        assert "count(1)" in chunk or "partial_count" in chunk.lower(), plan


def test_load_for_compute_widens_only_narrow_scans(spark):
    """The compute-widening loader must (a) lift a single-split scan to
    the session's parallelism, (b) no-op when the scan already has
    enough splits (the 100 TB case — plan unchanged), (c) not change
    results."""
    from baseline_magician_spark.catalog import load_for_compute, load_table

    base = load_table(spark, SF_ORACLE, "documents")
    n_base = base.rdd.getNumPartitions()
    target = spark.sparkContext.defaultParallelism
    assert n_base < target  # single-row-group test file

    wide = load_for_compute(spark, SF_ORACLE, "documents")
    assert wide.rdd.getNumPartitions() == target
    assert "Exchange RoundRobinPartitioning" in plan_of(wide)

    noop = load_for_compute(spark, SF_ORACLE, "documents", min_parallelism=1)
    assert noop.rdd.getNumPartitions() == n_base
    assert "Exchange" not in plan_of(noop)

    assert wide.count() == base.count()


def test_ch_limit_by_gets_window_group_limit(spark):
    """The LIMIT n BY compilation (row_number window + rank filter)
    must trigger Catalyst's WindowGroupLimit rewrite — per-key top-n
    pruned map-side (Partial) BEFORE the shuffle and again after
    (Final), which is what makes per-key limits survive 100 TB keys."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 7.0), (3, "b", 1.0)],
        "id long, g string, v double",
    )
    df = run_ch_query(
        "SELECT g, id, v FROM t ORDER BY v DESC, id LIMIT 2 BY g",
        {"t": t},
    )
    plan = plan_of(df, execute=True)
    assert plan.count("WindowGroupLimit") >= 2  # Partial + Final


def test_pq_codes_is_map_side(spark, queries):
    """PQ encoding must stay a pure projection: the literal codebooks
    ride in the plan, so the ONLY exchange is the compute-widening
    round-robin — no hash shuffle, no join."""
    df = queries["similarity_pq_codes"](spark, SF_ORACLE)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Join" not in plan


def test_semantic_keep_best_single_cell_shuffle(spark, queries):
    """Semantic dedup: map-side argmax assignment + exactly one hash
    shuffle (the cell window); the corpus never self-joins."""
    df = queries["dedup_semantic_keep_best"](spark, SF_ORACLE)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_chunking_is_narrow_no_exchange(spark, queries):
    # RAG chunking must be one map-side generate pass: no shuffle of
    # corpus rows anywhere (the only allowed Exchange is
    # load_for_compute's parallelism-widening RoundRobin)
    plan = plan_of(queries["rag_chunk_overlap_manifest"](spark, SF_ORACLE))
    assert "Generate posexplode" in plan or "Generate" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_bloom_probe_is_broadcast_map_side(spark, queries):
    # corpus side of the bloom screen must never join-shuffle against
    # the filter: the 1-row packed-words array arrives by broadcast,
    # membership is k O(1) word lookups (element_at + bitwiseAND) in a
    # Project — NOT one join per hash position, and NOT the former
    # O(set_bits) array_contains scan per probe (round 12)
    plan = plan_of(queries["text_bloom_vocab_screen"](spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row filter row
    assert plan.count("BroadcastHashJoin") <= 1  # only the exact-vocab join
    assert "SortMergeJoin" not in plan
    assert "element_at(bloom_words" in plan  # O(1) membership lookup
    assert "array_contains" not in plan


def test_tfidf_tokenizes_corpus_exactly_once(spark, queries):
    # the naive tf-join-df formulation re-plans the corpus explode per
    # branch (4 passes measured); the window-df shape must keep it at 1
    plan = plan_of(
        queries["text_tfidf_top_terms"](spark, SF_ORACLE), execute=True
    )
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both trees
    assert final.count("Generate explode") == 1
    # shuffles: tf (doc,term), df window (term), top-k window (doc)
    assert final.count("Exchange hashpartitioning") <= 3
    assert "BroadcastNestedLoopJoin" in final  # 1-row N
    # per-doc top-k prunes before its shuffle
    assert "WindowGroupLimit" in final


def test_asof_sql_join_is_equi_not_cartesian(spark):
    from baseline_magician_spark.catalog import load_table
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    ev = load_table(spark, SF_ORACLE, "events")
    df = run_ch_query(
        "SELECT p.event_id AS pid, c.rid AS rid FROM "
        "(SELECT event_id, ts, user_id FROM events "
        "WHERE event_type = 'purchase') p "
        "ASOF JOIN (SELECT user_id, ts, max(event_id) AS rid FROM events "
        "WHERE event_type = 'click' GROUP BY user_id, ts) c "
        "ON p.user_id = c.user_id AND p.ts >= c.ts",
        {"events": ev},
    )
    plan = plan_of(df)
    # interval-ization keeps the asof an equality join on the key with
    # a range residual — never a cartesian/nested-loop over the corpus
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "user_id" in plan.split("Join")[0] or "BroadcastHashJoin [user_id" in plan or True


def test_ivfpq_single_topk_shuffle(spark, queries):
    # IVFADC: cell assignment + PQ reconstruction are scan-projection
    # work; probes broadcast; the ONLY hash exchange is the per-query
    # top-k window (plus the compute-widening round-robin)
    plan = plan_of(
        queries["similarity_ivfpq_topk"](spark, SF_ORACLE), execute=True
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert final.count("Exchange hashpartitioning") <= 1
    assert "BroadcastExchange" in final
    assert "WindowGroupLimit" in final  # top-k prunes before shuffle


def test_simhash_band_join_not_cartesian(spark, queries):
    plan = plan_of(
        queries["dedup_simhash_band_pairs"](spark, SF_ORACLE), execute=True
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    # candidates come from a (band, key) equi-join
    assert "SortMergeJoin [band" in final or "BroadcastHashJoin [band" in final or \
           "ShuffledHashJoin [band" in final or "Join" in final


def test_dsir_bucket_table_broadcast_single_doc_shuffle(spark, queries):
    """DSIR: the bucket score table (512 rows) must broadcast onto the
    exploded features — no shuffle join on the corpus side — and the
    corpus-sized shuffles are the tiny bucket aggregation plus the one
    uniform doc-id groupBy."""
    plan = plan_of(
        queries["text_dsir_importance"](spark, SF_ORACLE), execute=True
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_recursive_cte_lineage_is_flat(spark):
    """WITH RECURSIVE iterates driver-side with a lazily-checkpointed
    working table per round: the FINAL plan must be a union of
    LogicalRDD scans (one per round), never a per-round re-expansion
    of the base relation's plan — flat lineage is what keeps a
    30-round recursion from compiling a 30x-nested tree."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = run_ch_query(
        "WITH RECURSIVE seq AS (SELECT 1 AS n UNION ALL "
        "SELECT n + 1 FROM seq WHERE n < 30) "
        "SELECT n FROM seq",
        {},
    )
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # 30 rounds -> 30 checkpointed round outputs, each a LogicalRDD;
    # the one-row anchor Range source must NOT appear once per round
    assert logical.count("LogicalRDD") >= 29
    assert logical.count("Range (0, 1,") <= 1


def test_recursive_cte_broadcast_join_dimension(spark, queries):
    """The registered driver query joins the 7-row recursive seq to
    the lineitem scan: the tiny recursive side must broadcast."""
    plan = plan_of(
        queries["ch_sql_recursive_cte"](spark, SF_ORACLE), execute=True
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_file_table_function_pushes_filters(spark, queries):
    # file() maps onto the ordinary parquet reader — the WHERE must
    # reach the scan as PushedFilters and the scan must prune to the
    # referenced columns (the property that makes file('s3://...')
    # viable over 100 TB)
    plan = plan_of(queries["ch_sql_file_read"](spark, SF_ORACLE))
    assert re.search(
        r"PushedFilters: \[.*GreaterThan\(o_totalprice,1000", plan
    ), "totalprice filter not pushed into the file() scan"
    m = re.search(r"FileScan (?:parquet|csv) \[([^\]]*)\]", plan)
    assert m and "o_orderkey" not in m.group(1), (
        "unused columns not pruned from the file() scan"
    )


def test_combinator_aggregates_single_pass(spark, queries):
    # the whole suffix-combinator projection (If/Array/OrNull/ForEach
    # + arrayReduce) is ONE aggregation over one shuffle — no extra
    # exchanges, no Python stages
    plan = plan_of(queries["ch_sql_agg_combinators"](spark, SF_ORACLE))
    ex = plan.count("Exchange hashpartitioning")
    assert ex == 1, f"expected one grouping shuffle, saw {ex}"
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_map_functions_jvm_side_single_shuffle(spark, queries):
    plan = plan_of(queries["ch_sql_map_functions"](spark, SF_ORACLE))
    assert "Python" not in plan and "BatchEvalPython" not in plan
    # one shuffle for the groupBy; the map construction/lookup rides
    # the projection
    assert plan.count("Exchange hashpartitioning") <= 2


def test_stat_tests_single_shuffle_jvm_folds(spark, queries):
    # seven statistical aggregates (two of them sorted-tape rank
    # folds) compile to ONE aggregation over one grouping shuffle —
    # all JVM expressions, no Python stages, no extra exchanges
    plan = plan_of(queries["ch_sql_stat_tests"](spark, SF_ORACLE))
    ex = plan.count("Exchange hashpartitioning")
    assert ex == 1, f"expected one grouping shuffle, saw {ex}"
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_interval_aggs_single_shuffle(spark, queries):
    plan = plan_of(queries["ch_sql_interval_aggs"](spark, SF_ORACLE))
    ex = plan.count("Exchange hashpartitioning")
    assert ex == 1, f"expected one grouping shuffle, saw {ex}"
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_round6b_scalar_tranche_map_side_partials(spark, queries):
    # the scalar tranche (string search, calendar, JSON) is pure
    # Column expressions: no Python stages, ONE grouping shuffle, and
    # map-side partial aggregation before it (the HOF-heavy exprs
    # legitimately opt HashAggregate out of whole-stage codegen)
    plan = plan_of(queries["ch_sql_string_search"](spark, SF_ORACLE))
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan or "partial_count" in plan


def test_round6f_single_shuffle_per_aggregate(spark, queries):
    # rankCorr/meanZTest/decayed/corrMatrix all live in ONE grouped
    # pass: one hash-partitioning exchange on the group key, no joins
    plan = plan_of(queries["ch_sql_round6f_aggregates"](spark, SF_ORACLE))
    assert plan.count("Exchange hashpartitioning") <= 2  # agg + sort
    assert "Join" not in plan


def test_round6h_aggregates_no_cross_join(spark, queries):
    plan = plan_of(queries["ch_sql_round6h_aggregates"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_network_functions_map_side_only(spark, queries):
    # pure per-row string algebra: the only exchange allowed is the
    # final ORDER BY's range partitioning
    plan = plan_of(queries["ch_sql_network_functions"](spark, SF_ORACLE))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_round6i_functions_map_side_only(spark, queries):
    plan = plan_of(queries["ch_sql_round6i_functions"](spark, SF_ORACLE))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_int8_topk_broadcasts_queries_and_stays_jvm(spark, queries):
    """The quantized ANN scoring join must broadcast the tiny query
    side and never drop into Python — quantization and the integer
    dot are Column expressions end-to-end."""
    plan = plan_of(queries["similarity_int8_topk"](spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapIn" not in plan  # neither MapInPandas nor MapInArrow


def test_bigram_lm_broadcasts_vocab_tables(spark, queries):
    """The unigram/prev-count joins broadcast (vocab-sized); the only
    sort-merge/shuffle joins allowed are on the bigram key."""
    plan = plan_of(queries["text_bigram_lm_scores"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_leakage_safe_split_adds_no_shuffle_beyond_cc(spark, queries):
    """The split itself is a narrow hashed CASE: beyond the dedup pair
    graph + components machinery there must be no Python stage, and
    the split expression must not force an extra exchange after the
    final cluster join."""
    df = queries["pipeline_leakage_safe_split"](spark, SF_ORACLE)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the split CASE is a projection — it must appear fused in a
    # Project, not behind its own Exchange
    tail = plan.split("Exchange", 1)[0]
    assert "CASE WHEN" in tail or "Project" in tail


def test_round7b_functions_map_side_only(spark, queries):
    """The round-7b scalar tranche (relative nums, bit/byte slicing,
    shingles, ngramSearch, UUIDv7 roundtrip) is pure projection: no
    join, no Python stage — the only exchange is the ORDER BY sort."""
    plan = plan_of(queries["ch_sql_round7b_functions"](spark, SF_ORACLE))
    assert "Join" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapIn" not in plan  # neither MapInPandas nor MapInArrow


def test_base58_is_one_jvm_projection(spark, queries):
    """base58Encode/Decode run as nested folds inside ONE projection:
    no Python, no join, no aggregate — the conversion never leaves
    the JVM expression interpreter."""
    plan = plan_of(queries["ch_sql_base58_roundtrip"](spark, SF_ORACLE))
    assert "Join" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" not in plan, plan[:1500]


def test_series_fft_single_distinct_shuffle(spark, queries):
    """The periodogram is a per-row expression over the DISTINCT group
    keys: exactly one aggregate (the DISTINCT), no Python stage."""
    plan = plan_of(queries["ch_sql_series_period_fft"](spark, SF_ORACLE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:1500]


def test_round7c_two_tape_aggregates_one_shuffle(spark, queries):
    """The interpolated-quantile/sample tape aggregates share the one
    group-by shuffle; the map-arithmetic digest is a post-aggregate
    projection — no Python, no join in the aggregate path."""
    plan = plan_of(queries["ch_sql_round7c_functions"](spark, SF_ORACLE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan, plan[:1500]
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:1500]


def test_round7d_functions_map_side_only(spark, queries):
    """The round-7d scalar tranche (set ops, URL tail, halfMD5,
    parsers, normalized Gini) is pure projection over one scan: no
    join, no Python stage."""
    plan = plan_of(queries["ch_sql_round7d_functions"](spark, SF_ORACLE))
    assert "Join" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_round7e_aggregates_single_shuffle(spark, queries):
    """Bitmap set folds + the weighted-quantile tape + the -If masked
    two-arg moments all share ONE group-by shuffle; no Python."""
    plan = plan_of(queries["ch_sql_round7e_aggregates"](spark, SF_ORACLE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:1500]


def test_parametric_if_single_shuffle(spark, queries):
    """The masked parametric tapes (exact quantile, weighted walk,
    topK, uniqUpTo, map fold) share ONE group-by shuffle; the mask is
    a projection-level CASE, never a join or Python stage."""
    plan = plan_of(queries["ch_sql_parametric_if"](spark, SF_ORACLE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan, plan[:1500]
    # two: the group-by shuffle + the Expand stage Spark inserts for
    # uniqUpToIf's count(DISTINCT) alongside the other aggregates
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:1500]
