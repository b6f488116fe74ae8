"""Explain-plan assertions — the 100 TB posture, checked mechanically.

- parquet scans must push filters and prune columns (a scan reading all
  columns for a 2-column projection is wrong at any scale);
- dimension joins must be broadcast hash joins;
- NO query may plan a CartesianProduct; nested-loop joins are allowed only
  where one side is a bounded broadcast dim (query sets, candidate dims).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()

# queries whose plan legitimately contains a BroadcastNestedLoopJoin:
# one side is a tiny bounded set (ANN query vectors / the reference's
# dim-sized fuzzy candidate list), broadcast by construction.
NESTED_LOOP_OK = {
    "ann_brute_topk",
    "ann_ivf_topk",
    "ann_recall_report",  # composes G1/G2/G3 — inherits their broadcast query dims
    "match_fuzzy_levenshtein",
    "unify_entities",
    "text_idf_vocab",  # 1-row corpus-size aggregate broadcast as a scalar
    "text_tfidf_topterms",  # 1-row corpus-size aggregate broadcast as a scalar
    "api_fulltext_rank",  # 1-row corpus-size aggregate broadcast as a scalar
    "text_collocations_pmi",  # 1-row corpus-total aggregate broadcast as a scalar
    "q11_important_stock",  # 1-row total-value threshold broadcast as a scalar
    "q15_top_supplier",  # 1-row max-revenue aggregate broadcast as a scalar
    "q22_global_sales_opp",  # 1-row avg-balance threshold broadcast as a scalar
    "text_contamination",  # 4-phrase literal blocklist broadcast over the corpus
    "text_unigram_logprob",  # 1-row corpus-total aggregate broadcast as a scalar
    "sketch_bloom_membership",  # probe = users x broadcast event-type dim (bounded)
    "etl_dag_end_to_end",  # unify's broadcast dim + two 1-row report aggregates combined
    "quality_constraint_checks",  # three 1-row rule aggregates combined via broadcast
    "mix_corpus_temperature",  # 1-row min-count aggregate broadcast as a scalar
    "events_freshness",  # 1-row high-water-mark aggregate broadcast as a scalar
    "sketch_cms_heavy_hitters",  # 1-row stream-size aggregate broadcast as a scalar
    "suppliers_pareto_abc",  # 1-row grand-total aggregate broadcast as a scalar
    "orders_rfm_segments",  # 1-row max-date aggregate broadcast as a scalar
    "mix_curriculum_stages",  # 1-row corpus-count aggregate broadcast as a scalar
    "cluster_kmeans_embed",  # K-row centroid dim broadcast over the corpus per iteration
    "dedup_semantic_kmeans",  # inherits the k-means broadcast centroid cross join
    "sketch_theta_setops",  # |types|-row sketch metas paired via broadcast `<` join
    "orders_market_basket",  # 1-row order-count aggregate broadcast as a scalar
    "events_funnel_3step",  # four 1-row step-count aggregates combined via broadcast
}


def _spark_plan(df) -> str:
    return df._jdf.queryExecution().sparkPlan().toString()


def _executed_plan(df) -> str:
    """Physical plan AFTER exchange insertion (needed to count shuffles)."""
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_product(name, spark, sf_dir):
    plan = _spark_plan(QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in NESTED_LOOP_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a nested-loop join without a bounded broadcast side"
        )


def test_q6_filter_pushdown_and_pruning(spark, sf_dir):
    from australian_company_etl_spark.plans.tpch import q6_forecast_revenue

    plan = _spark_plan(q6_forecast_revenue(spark, sf_dir))
    assert "PushedFilters: [" in plan
    # the shipdate/discount/quantity predicates reach the parquet reader
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    # column pruning: untouched wide columns never leave the scan
    read_schema = plan.split("ReadSchema")[1]
    for needed in ("l_extendedprice", "l_discount"):
        assert needed in read_schema
    for pruned in ("l_comment", "l_shipmode", "l_orderkey"):
        assert pruned not in read_schema


def test_dim_joins_are_broadcast(spark, sf_dir):
    from australian_company_etl_spark.plans.tpch import (
        q3_shipping_priority,
        q5_local_supplier,
        q10_returned_items,
    )

    for fn in (q3_shipping_priority, q5_local_supplier, q10_returned_items):
        plan = _spark_plan(fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{fn.__name__} lost its broadcast dim join"


def test_asof_join_is_single_window_pass(spark, sf_dir):
    """The as-of join must be the union+window form: one shuffle on the
    partition key and NO join operator at all."""
    plan = _executed_plan(QUERIES["asof_join_last_error"](spark, sf_dir))
    assert "Join" not in plan, "as-of join should be a window pass, not a join"
    assert plan.count("Exchange hashpartitioning") == 1, (
        "as-of join should shuffle exactly once"
    )
    assert "Window" in plan


def test_range_join_is_bucketed_equijoin(spark, sf_dir):
    """The band join must equi-join on (user, time-bucket) — never an
    inequality-only nested loop."""
    plan = _spark_plan(QUERIES["range_join_close_pairs"](spark, sf_dir))
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    assert "user_id" in plan.split("Join")[1][:200]


def test_kmv_prunes_to_k_rows_per_group(spark, sf_dir):
    """The rank filter must rewrite to WindowGroupLimit so only k rows per
    group survive each side of the shuffle (the KMV partial-merge shape)."""
    plan = _spark_plan(QUERIES["sketch_kmv_distinct"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_hash_sample_is_shuffle_free(spark, sf_dir):
    """Deterministic sampling is a pure filter — it must plan without any
    Exchange (embarrassingly parallel at any scale)."""
    plan = _executed_plan(QUERIES["sample_stratified_hash"](spark, sf_dir))
    assert "Exchange" not in plan


def test_dedup_pairgen_is_equijoin(spark, sf_dir):
    """Candidate generation in every dedup family member must be an
    equi-join (hash/sort-merge), never a cartesian expansion."""
    for name in (
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_embedding_cosine",
    ):
        plan = _spark_plan(QUERIES[name](spark, sf_dir))
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
            "BroadcastHashJoin" in plan
        ), f"{name} has no equi-join pair generator"
        assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name,kernel",
    [
        ("unify_entities", "levenshtein("),
        ("match_multi_scorer", "levenshtein("),
        ("match_blocked_fuzzy", "levenshtein("),
        ("dedup_setsim_prefix", "array_intersect("),
        ("dedup_minhash_lsh", "array_intersect("),
        ("dedup_ngram_jaccard", "array_intersect("),
        ("match_keyword_jaccard", "array_intersect("),
    ],
)
def test_pairwise_verify_scores_each_candidate_once(name, kernel, spark, sf_dir):
    """Every pairwise verify scores through `score_once`: the scorer sits on
    exactly one plan line, a projection under the explode barrier — never
    in a join condition, where the pushed-down threshold would make each
    surviving pair pay the scorer again in the output projection."""
    plan = _executed_plan(QUERIES[name](spark, sf_dir))
    lines = [ln for ln in plan.splitlines() if kernel in ln]
    assert len(lines) == 1, f"{name}: scorer on {len(lines)} plan lines"
    node = lines[0].split("[", 1)[0]
    assert "Join" not in node, f"{name}: scorer evaluated in {node.strip()}"


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """The 100 TB co-located-join posture: fact tables bucketed on the join
    key join WITHOUT an Exchange on either side (bucket pruning replaces
    the shuffle). Broadcast is disabled so the plan can't dodge the
    question; bucket metadata lives in the session catalog."""
    import shutil

    from pyspark.sql import functions as F

    from australian_company_etl_spark.sources.registry import load_tables

    t = load_tables(spark, sf_dir, ["orders", "customer"])
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t["orders"].write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
            "overwrite"
        ).saveAsTable("b_orders")
        t["customer"].write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode(
            "overwrite"
        ).saveAsTable("b_customer")
        j = spark.table("b_orders").join(
            spark.table("b_customer"), F.col("o_custkey") == F.col("c_custkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        # same result as the plain (shuffled) join
        plain = t["orders"].join(
            t["customer"], F.col("o_custkey") == F.col("c_custkey")
        )
        assert j.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_salted_join_shuffles_on_composite_key(spark, sf_dir):
    """L5: the fact-dim exchange must partition on (user_id, salt) so a hot
    user key spreads across JOIN_SALT reducers instead of one."""
    from australian_company_etl_spark.plans.temporal import join_skew_salted

    plan = _executed_plan(join_skew_salted(spark, sf_dir))
    import re

    assert re.search(r"hashpartitioning\([^)]*user_id[^)]*salt", plan), (
        "salted join does not shuffle on the composite (user_id, salt) key"
    )


def test_partitioned_scan_uses_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """The 100 TB layout lever: a fact table partitioned on the join key,
    joined to a selectively-filtered dim, must plan a dynamicpruning
    partition filter on the fact scan — only the partitions the dim
    selects are read, decided at runtime from the broadcast side."""
    from pyspark.sql import functions as F

    from australian_company_etl_spark.sources.registry import load_tables

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    fact_dir = str(tmp_path / "events_by_day")
    ev.withColumn("day", F.to_date("ts")).write.partitionBy("day").mode(
        "overwrite"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    # independent dim with a selective predicate — DPP only plans when the
    # build side actually filters (a derived distinct of the same scan
    # does not count as selective)
    days = sorted(r.day for r in fact.select("day").distinct().collect())
    dim = spark.createDataFrame(
        [(d, "wanted" if i < 2 else "other") for i, d in enumerate(days)],
        "day date, tag string",
    ).filter(F.col("tag") == "wanted")
    j = fact.join(F.broadcast(dim), "day").groupBy("tag").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_mapinpandas_path_prunes_scan_columns(spark, sf_dir):
    """The Arrow/mapInPandas boundary must not defeat column pruning: the
    audio-features plan consumes only (doc_id, text), so the documents scan
    may not read lang/source/n_chars — at 100 TB reading two of five
    columns is the difference between a 40 TB and a 100 TB scan."""
    import re

    from australian_company_etl_spark.plans.multimodal import mm_audio_features

    plan = (
        mm_audio_features(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"ReadSchema:\s*(\S+)", plan)
    assert m, plan
    schema = m.group(1)
    for col in ("lang", "source", "n_chars"):
        assert col not in schema, f"scan reads pruned column {col}: {schema}"


def test_pq_codebook_and_query_tables_are_broadcast(spark, sf_dir):
    """G5: both small sides (centroid codebook joins, ADC query-distance
    table) must be broadcast — the corpus side is never replicated."""
    from australian_company_etl_spark.plans.similarity import ann_pq_topk

    plan = _spark_plan(ann_pq_topk(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, "codebook/ADC joins not broadcast"
    assert "CartesianProduct" not in plan


# queries whose plan legitimately contains an Arrow-batched Python operator:
# the multimodal decode/feature paths, where the semantics (byte-level codec
# work) cannot be expressed as JVM column expressions. Everything else must
# stay entirely JVM-side — a row-at-a-time BatchEvalPython anywhere is a
# 10-100x regression at scale and always a bug in this codebase.
PANDAS_PATH_OK = {
    "mm_video_framesample",
    "mm_audio_features",
    "mm_audio_resample",
    "mm_image_features",
    "text_contamination",  # flag-gated Aho-Corasick mapInPandas variant
    "knn_graph_lsh",  # r13 cogrouped Arrow scoring kernel (seq_dot_cross)
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_python_in_the_hot_path(name, spark, sf_dir):
    plan = _spark_plan(QUERIES[name](spark, sf_dir))
    assert "BatchEvalPython" not in plan, (
        f"{name} plans a row-at-a-time Python UDF — rewrite with built-in "
        f"column functions or an Arrow-batched pandas path"
    )
    if name not in PANDAS_PATH_OK:
        for node in (
            "ArrowEvalPython",
            "MapInPandas",
            "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas",
        ):
            assert node not in plan, (
                f"{name} plans {node}; only the declared multimodal/contamination "
                f"paths may leave the JVM"
            )


def test_cdc_snapshot_is_partial_agg_not_window(spark, sf_dir):
    """Changelog compaction must plan as a partially-aggregated max — the
    map-side combiner bounds the shuffle to O(keys) — never as a
    row_number window that moves and sorts every changelog row."""
    plan = _spark_plan(QUERIES["events_cdc_snapshot"](spark, sf_dir))
    assert "partial_max" in plan
    assert "Window" not in plan
    assert "row_number" not in plan


def test_theta_setops_prunes_sketches_and_joins_hash(spark, sf_dir):
    """The sketch build must prune to k rows per type before any join
    (WindowGroupLimit), and every join against the kept-hash table must be
    a broadcast hash join — only the |types|-row meta pairing may use the
    broadcast nested-loop `<` join."""
    plan = _spark_plan(QUERIES["sketch_theta_setops"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_drift_psi_is_one_scan_two_aggs(spark, sf_dir):
    """The drift profile reads the corpus once and reduces to O(bins)
    rows: exactly one parquet scan of documents, and only the pruned
    (doc_id, n_chars) columns reach it."""
    df = QUERIES["quality_drift_psi"](spark, sf_dir)
    plan = _spark_plan(df)
    assert plan.count("FileScan parquet") == 1
    scan = plan[plan.index("FileScan parquet"):]
    assert "text" not in scan.split("ReadSchema")[1][:200]


def test_watermark_lag_window_rides_type_partition(spark, sf_dir):
    """One running-max window on event_type; the final aggregate must ride
    the same partitioning (no second exchange after the window)."""
    plan = _executed_plan(QUERIES["events_watermark_lag_audit"](spark, sf_dir))
    # the tree prints top-down: everything ABOVE the Window operator (the
    # final aggregate) must reuse the window's event_type partitioning —
    # the only Exchange allowed is the window's own input shuffle below it
    above_window = plan[: plan.index("Window")]
    assert "Exchange" not in above_window
    assert plan.count("Exchange hashpartitioning") == 1


def test_runtime_bloom_filter_prunes_fact_before_shuffle(spark, sf_dir):
    """Semi-join reduction, the other runtime-filtering lever next to DPP:
    with a selective dimension side, Catalyst injects a bloom filter that
    prunes fact rows BEFORE the join shuffle (might_contain on the fact
    scan side). At 100 TB this is the difference between shuffling the
    whole fact table and shuffling the ~matching fraction. Thresholds are
    forced here because bench-scale tables sit under the defaults; on a
    real cluster the defaults fire on their own."""
    from pyspark.sql import functions as F

    from australian_company_etl_spark.sources.registry import load_tables

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = load_tables(spark, sf_dir, ["orders", "lineitem"])
        sel = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        j = t["lineitem"].join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter was not injected"
        # the filter must sit on the fact (lineitem) side, keyed on l_orderkey
        assert "l_orderkey" in plan.split("might_contain")[1][:200]
        # and the join result must equal the unfiltered-join result
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        plain = t["lineitem"].join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
        assert j.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_peak_concurrency_nets_points_before_the_sweep(spark, sf_dir):
    """J23's sweep must (a) net the +1/−1 boundary points with a map-side
    partial_sum BEFORE any shuffle (the netted points are O(distinct
    timestamps), the reduction the 100 TB posture rests on), (b) run ONE
    window on the event_type partition, and (c) let the final max ride
    that same partitioning — no exchange above the window."""
    plan = _executed_plan(QUERIES["events_peak_concurrency"](spark, sf_dir))
    assert "partial_sum" in plan  # netting combines map-side
    assert plan.count("Window") == 1
    assert "Exchange" not in plan[: plan.index("Window")]
    # exactly two shuffles: (type, t) for netting, (type) for the sweep
    assert plan.count("Exchange hashpartitioning") == 2


def test_snapshot_diff_pushes_cutoff_and_avoids_windows(spark, sf_dir):
    """C12 must push the v1 cutoff predicate into the parquet scan (the
    old snapshot reads only its own slice), reduce both snapshots with
    map-side partial aggregates, and classify via a full-outer equi-join —
    never a window over raw history."""
    plan = _spark_plan(QUERIES["quality_snapshot_diff"](spark, sf_dir))
    assert "LessThan(ts" in plan.split("PushedFilters")[1][:300]
    assert "partial_count" in plan and "partial_sum" in plan
    assert "FullOuter" in plan
    assert "Window" not in plan


def test_bottomk_merge_prunes_to_k_rows_map_side(spark, sf_dir):
    """M8's per-(type, day) bottom-k must rewrite to WindowGroupLimit with
    a PARTIAL phase — each map task forwards at most k rows per group, so
    the shuffle carries O(groups x k), not the raw log — and the final
    |types|-row merged/direct summaries must pair via a broadcast hash
    join."""
    plan = _executed_plan(QUERIES["sketch_bottomk_daily_merge"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert ", Partial" in plan  # map-side phase present, not just the Final
    assert "BroadcastHashJoin" in plan


def test_hll_sliding_window_merges_partials_not_raw_events(spark, sf_dir):
    """M9's sliding distinct must reduce raw events to per-(type, day)
    register partials with a map-side combine BEFORE any window
    expansion (partial_max on the bucket agg), and expand windows only
    by joining those partials against the broadcast day dim — broadcast
    hash joins throughout, never a cartesian or nested loop."""
    plan = _executed_plan(QUERIES["sketch_hll_sliding_window"](spark, sf_dir))
    assert "partial_max" in plan  # daily registers combine map-side
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multitable_lsh_is_l_bucket_equijoins(spark, sf_dir):
    """The 3-table OR'd LSH candidate stage must plan as L separate
    bucket EQUI-joins against broadcast query dims (unioned, then
    deduped) — never one join with an OR'd bucket predicate, which
    degenerates to a nested loop over the corpus."""
    from australian_company_etl_spark.plans.similarity import (
        N_TABLES,
        ann_lsh_multitable_topk,
    )

    plan = _spark_plan(ann_lsh_multitable_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") == N_TABLES
    assert "Union" in plan


def test_spread_if_narrow_noop_on_wide_input(spark, sf_dir):
    """The corpus-spread helper must insert ZERO Exchange when the input is
    already at least as wide as the session's parallelism — the 100 TB case,
    where the scan arrives in thousands of file-split partitions and an
    unconditional repartition would shuffle every corpus byte before
    map-only work."""
    from australian_company_etl_spark.functions.partitioning import spread_if_narrow
    from australian_company_etl_spark.sources.registry import load_tables

    par = spark.sparkContext.defaultParallelism
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    wide = docs.repartition(par, "doc_id")  # simulate an already-wide scan
    out = spread_if_narrow(wide, "doc_id")
    assert out is wide  # passthrough: not even a new plan node
    # and the composed plan carries exactly the one (simulated-scan) exchange
    plan = _spark_plan(out.select("doc_id"))
    assert plan.count("Exchange") == 1


def test_spread_if_narrow_spreads_a_one_partition_input(spark, sf_dir):
    """A single-file (1-partition) corpus — the local bench shape — must be
    spread to defaultParallelism so interpreted per-row work parallelizes."""
    from australian_company_etl_spark.functions.partitioning import spread_if_narrow
    from australian_company_etl_spark.sources.registry import load_tables

    par = spark.sparkContext.defaultParallelism
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    narrow = docs.coalesce(1)
    assert narrow.rdd.getNumPartitions() < par
    out = spread_if_narrow(narrow, "doc_id")
    assert out.rdd.getNumPartitions() == par
    assert "Exchange hashpartitioning(doc_id" in _executed_plan(out)


# The Exchange-over-Generate walker lives in scripts/audit_wide_plans.py —
# ONE implementation shared by the doc_id-focused shingle test below and
# the full-registry any-key sweep, so a heuristic fix cannot silently
# diverge between them.
from scripts.audit_wide_plans import (  # noqa: E402
    _generate_to_exchange_chains as _exploded_rows_cross_an_exchange,
    _single_partition_carries_raw_rows,
)


def test_curriculum_and_deciles_sorts_are_distributed(spark, sf_dir):
    """VERDICT r07 tasks 1-2: the last two single-task sort windows.
    mix_curriculum_stages' global ntile planned `Exchange SinglePartition`
    over the ENTIRE documents corpus; window_value_deciles partitioned all
    three distribution functions by the 5-value c_mktsegment (≤5 effective
    tasks, each sorting N/5 rows). Both must now rank via the two-phase
    range-partitioned form: (a) no SinglePartition exchange carries
    unaggregated corpus rows, (b) the sort runs over a rangepartitioning
    exchange, and (c) the heavy row_number window rides the (__pid[, seg])
    hash partition — never the bare segment key or no key at all."""
    import re

    for name in ("mix_curriculum_stages", "window_value_deciles"):
        plan = _executed_plan(QUERIES[name](spark, sf_dir))
        assert _single_partition_carries_raw_rows(plan) == [], (
            f"{name} funnels raw rows through a SinglePartition exchange"
        )
        assert "Exchange rangepartitioning" in plan, (
            f"{name} lost its range-partitioned two-phase rank"
        )
        # every row_number window's input exchange partitions on __pid
        for m in re.finditer(r"Window \[row_number\(\) windowspecdefinition\(([^,]+),", plan):
            assert "__pid" in m.group(1), (
                f"{name}: row_number window partitioned on {m.group(1)}, not __pid"
            )


def test_single_partition_walker_flags_raw_and_allows_aggregated():
    """The walker must flag a raw corpus scan under a SinglePartition
    exchange (the global-ntile shape) and allow a bounded aggregate (the
    distributed rank's offsets frame, a global count) — and a
    WindowGroupLimit-pruned window (pmi's top-k) is bounded too."""
    raw = "\n".join([
        "Window [ntile(4)]",
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS",
        "   +- Project [doc_id#1L, n_chars#2L]",
        "      +- FileScan parquet [doc_id#1L,n_chars#2L]",
    ])
    assert len(_single_partition_carries_raw_rows(raw)) == 1

    aggregated = "\n".join([
        "Window [sum(__c#3L)]",
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS",
        "   +- HashAggregate(keys=[__pid#4], functions=[count(1)])",
        "      +- Exchange hashpartitioning(__pid#4, 32)",
        "         +- HashAggregate(keys=[__pid#4], functions=[partial_count(1)])",
        "            +- FileScan parquet [doc_id#1L]",
    ])
    assert _single_partition_carries_raw_rows(aggregated) == []

    group_limited = "\n".join([
        "Window [row_number()]",
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS",
        "   +- WindowGroupLimit [rnk#5], 50, Partial",
        "      +- FileScan parquet [tok#6]",
    ])
    assert _single_partition_carries_raw_rows(group_limited) == []

    # a reused shuffle emits as many rows as the original exchange — a
    # SinglePartition directly over a ReusedExchange is the same corpus
    # funnel as one over a scan (review finding: the first leaf regex
    # matched only *Scan nodes, so exchange reuse dodged the audit)
    reused_raw = "\n".join([
        "Window [ntile(4)]",
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS",
        "   +- ReusedExchange [doc_id#1L], Exchange hashpartitioning(doc_id#1L, 32)",
    ])
    assert len(_single_partition_carries_raw_rows(reused_raw)) == 1
    reused_bounded = "\n".join([
        "Window [sum(__c#3L)]",
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS",
        "   +- HashAggregate(keys=[__pid#4], functions=[count(1)])",
        "      +- ReusedExchange [doc_id#1L], Exchange hashpartitioning(doc_id#1L, 32)",
    ])
    assert _single_partition_carries_raw_rows(reused_bounded) == []

    # a persisted (cached) corpus subtree under a SinglePartition is the
    # same funnel as a direct scan — registry plans DO persist reused
    # subtrees, so a leaf regex without InMemoryTableScan/InMemoryRelation
    # leaves the sweep partially blind there (ADVICE r08)
    cached_raw = "\n".join([
        "Window [ntile(4)]",
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS",
        "   +- InMemoryTableScan [doc_id#1L, n_chars#2L]",
        "      +- InMemoryRelation [doc_id#1L, n_chars#2L], StorageLevel(disk, memory)",
        "         +- FileScan parquet [doc_id#1L,n_chars#2L]",
    ])
    assert len(_single_partition_carries_raw_rows(cached_raw)) == 1
    cached_bounded = "\n".join([
        "Window [sum(__c#3L)]",
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS",
        "   +- HashAggregate(keys=[__pid#4], functions=[count(1)])",
        "      +- InMemoryTableScan [doc_id#1L]",
    ])
    assert _single_partition_carries_raw_rows(cached_bounded) == []


def test_no_registry_plan_single_task_sorts_raw_rows(spark, registry_dfs_small):
    """Registry-wide closure of the single-task-sort class (SURVEY §5's
    'last single-task global sorts were replaced' claim, made mechanical):
    NO query may plan an Exchange SinglePartition whose subtree reaches a
    leaf scan without a bounding Aggregate/WindowGroupLimit/Limit."""
    offenders = {}
    for name in sorted(registry_dfs_small):
        plan = _executed_plan(registry_dfs_small[name])
        bad = _single_partition_carries_raw_rows(plan)
        if bad:
            offenders[name] = bad
    assert offenders == {}


# every registry query whose plan explodes per-token rows keyed by doc_id —
# the surface on which the round-5 spread_if_narrow swap regressed when the
# input was wide (multi-file) and the then-window forced a post-explode
# doc_id exchange of token rows.
SHINGLE_FAMILY = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_substring_spans",
    "dedup_incremental",
    "dedup_setsim_prefix",
    "text_fingerprint",
    "text_repetition_ratio",
    "text_collocations_pmi",
]


@pytest.fixture(scope="module")
def wide_docs_dir(spark, sf_dir, tmp_path_factory):
    """A MULTI-FILE documents corpus at least as wide as the session's
    parallelism — the 100 TB scan shape, where spread_if_narrow passes
    through and any keyed requirement must NOT re-shuffle exploded rows."""
    out = tmp_path_factory.mktemp("wide") / "corpus"
    out.mkdir()
    par = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(par).write.mode("overwrite").parquet(str(out / "documents.parquet"))
    return str(out)


@pytest.mark.parametrize("name", SHINGLE_FAMILY)
def test_shingle_family_never_shuffles_exploded_rows_on_wide_input(
    name, spark, wide_docs_dir
):
    """Round-5 regression guard (VERDICT r05 What's-wrong #1): on a wide
    corpus, every doc_id exchange in a shingle-family plan must carry
    partial-aggregated per-doc rows (an Aggregate sits between the Generate
    and the Exchange), never the exploded token rows themselves. The old
    test only checked that the helper added no Exchange — this one checks
    where the REQUIRED exchange lands."""
    from australian_company_etl_spark.sources.registry import load_tables

    docs = load_tables(spark, wide_docs_dir, ["documents"])["documents"]
    assert docs.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    df = QUERIES[name](spark, wide_docs_dir)
    plan = _executed_plan(df)
    offenders = _exploded_rows_cross_an_exchange(plan, key="doc_id")
    assert offenders == [], f"{name}: exploded rows cross {offenders}"


def test_plans_have_no_unconditional_repartition():
    """Greppable guarantee: no plan or operator module calls .repartition(
    directly — every corpus spread goes through spread_if_narrow (the sinks
    in sources/export.py keep their deliberate shard-routing repartitions)."""
    import pathlib

    root = pathlib.Path("australian_company_etl_spark")
    offenders = []
    for sub in ("plans", "operators"):
        for p in (root / sub).glob("*.py"):
            if ".repartition(" in p.read_text():
                offenders.append(str(p))
    assert offenders == []


def test_registry_wide_plan_audit_full_sweep(spark, sf_dir, tmp_path_factory):
    """VERDICT r05 task 4 — the whole spread_if_narrow surface, not just
    the shingle family: on a wide multi-file corpus, NO registry plan may
    put an `Exchange hashpartitioning` directly above a `Generate` (raw
    generated rows crossing a shuffle), for ANY key. Two adjudicated
    allowances, both semantically required and non-expanding:

    - dedup_lines: the seg-keyed window shuffles exploded SEGMENT rows —
      segments are DISJOINT (they tile the document), so the exchange
      moves ~1x corpus bytes, the minimum any global segment dedup pays;
      there is no per-doc partial form of a cross-doc first-occurrence
      rank.
    - join_skew_salted: the (key, salt) exchange above the explode carries
      the deliberately salt-REPLICATED small side — replication factor x
      dim bytes, the textbook salting trade that buys hot-key spreading
      on the fact side.

    Everything else must keep generated rows inside their scan partition
    until an aggregate or join reduces them."""
    from scripts.audit_wide_plans import audit, build_wide_dir

    allow = {"dedup_lines", "join_skew_salted"}
    wide = str(tmp_path_factory.mktemp("wide_full"))
    build_wide_dir(spark, sf_dir, wide)
    offenders = {k: v for k, v in audit(spark, wide).items() if k not in allow}
    assert offenders == {}


def test_width_probe_memoized_per_plan(spark, sf_dir, monkeypatch):
    """VERDICT r05 task 7: composed pipelines (K1/K3 chain several text ops
    over one corpus) must pay the analyzer width probe once per loaded
    corpus per session, not once per call site. The memo key is
    (applicationId, analyzed-plan semanticHash), so re-loading the same
    table hits the cache while a different plan probes fresh."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from australian_company_etl_spark.functions import partitioning as P

    P._WIDTH_CACHE.clear()
    probes = {"n": 0}
    # Spark 4: pyspark.sql.DataFrame is the abstract base; the session's
    # frames are the classic subclass, whose own `rdd` (a cached_property)
    # shadows the base one — patch the concrete class.
    real = ClassicDataFrame.rdd.func

    def counting_rdd(df):
        probes["n"] += 1
        return real(df)

    monkeypatch.setattr(ClassicDataFrame, "rdd", property(counting_rdd))
    from australian_company_etl_spark.sources.registry import load_tables

    d1 = load_tables(spark, sf_dir, ["documents"])["documents"]
    P.spread_if_narrow(d1, "doc_id")
    assert probes["n"] == 1
    # same table re-loaded (a composed pipeline's second op): cache hit
    d2 = load_tables(spark, sf_dir, ["documents"])["documents"]
    P.spread_if_narrow(d2, "doc_id")
    assert probes["n"] == 1
    # a different plan (projection changes the analyzed plan): fresh probe
    P.spread_if_narrow(d1.select("doc_id"), "doc_id")
    assert probes["n"] == 2


def test_exchange_walker_flags_raw_generates_in_any_branch():
    """The walker must flag a raw Generate feeding an Exchange (the
    round-5 regression shape) and must examine EVERY Generate in the
    subtree — a join whose first-printed branch protects its Generate
    behind an Aggregate while the second branch feeds raw exploded rows
    was invisible to an earlier first-match-only version."""
    protected = "\n".join([
        "Exchange hashpartitioning(doc_id#1L, 32)",
        "+- HashAggregate(keys=[doc_id#1L])",
        "   +- Generate posexplode(t#2)",
        "      +- FileScan parquet",
    ])
    assert _exploded_rows_cross_an_exchange(protected) == []

    direct = "\n".join([
        "Exchange hashpartitioning(doc_id#1L, 32)",
        "+- Project [doc_id#1L, tok#3]",
        "   +- Generate posexplode(t#2)",
        "      +- FileScan parquet",
    ])
    assert len(_exploded_rows_cross_an_exchange(direct)) == 1
    assert _exploded_rows_cross_an_exchange(direct, key="doc_id")
    assert _exploded_rows_cross_an_exchange(direct, key="vec_id") == []

    # second branch raw: first Generate is aggregate-protected, the raw
    # one appears later in the same exchange subtree
    two_branch = "\n".join([
        "Exchange hashpartitioning(doc_id#1L, 32)",
        "+- SortMergeJoin [doc_id#1L]",
        "   :- HashAggregate(keys=[doc_id#1L])",
        "   :  +- Generate posexplode(t#2)",
        "   :     +- FileScan parquet",
        "   +- Project [doc_id#4L]",
        "      +- Generate posexplode(u#5)",
        "         +- FileScan parquet",
    ])
    # NB: the join itself sits between the second Generate and the
    # exchange here, so this exact shape is accepted (join outputs are
    # not the raw exploded stream); drop the join to see the raw flag
    second_raw = "\n".join([
        "Exchange hashpartitioning(doc_id#1L, 32)",
        "+- Union",
        "   :- HashAggregate(keys=[doc_id#1L])",
        "   :  +- Generate posexplode(t#2)",
        "   :     +- FileScan parquet",
        "   +- Project [doc_id#4L]",
        "      +- Generate posexplode(u#5)",
        "         +- FileScan parquet",
    ])
    assert len(_exploded_rows_cross_an_exchange(two_branch)) == 0
    assert len(_exploded_rows_cross_an_exchange(second_raw)) == 1


def test_aqe_skew_split_fires_on_hot_band_corpus(spark, tmp_path):
    """The SURVEY §4 claim "AQE skew-split handles hot bands" must stay
    MEASURED (VERDICT r06 task 3): on a template-farm corpus where one
    boilerplate shingle family shares every band value, the production F2
    candidate join must (a) get its hot partitions split by
    OptimizeSkewedJoin — SortMergeJoin(skew=true) with skewed AQE shuffle
    reads on both sides of the self-join — and (b) return the identical
    pair count with the splitting on and off. Thresholds are the
    local-scale set validated in scripts/skew_demo.py (AQE reads
    post-compression MapStatus bytes; see the script docstring)."""
    from australian_company_etl_spark.operators.cache import release_tracked
    from australian_company_etl_spark.plans.dedup import _minhash_bands_sets
    from scripts.skew_demo import DEMO_CONFS, make_corpus, run_candidates

    saved = {}
    confs = dict(DEMO_CONFS)
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        make_corpus(spark, str(tmp_path))
        bands, _sh = _minhash_bands_sets(spark, str(tmp_path))
        bands.count()

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        n_off, _sec, plan_off = run_candidates(spark, bands)
        assert "skew=true" not in plan_off

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        n_on, _sec, plan_on = run_candidates(spark, bands)
        assert "SortMergeJoin(skew=true)" in plan_on
        # both sides of the self-join carry skewed AQE shuffle reads
        assert len([ln for ln in plan_on.splitlines()
                    if "AQEShuffleRead" in ln and "skewed" in ln]) >= 2
        assert n_on == n_off > 0
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        release_tracked()


def test_q3_shuffled_hash_hint_is_size_guarded(spark, sf_dir, monkeypatch):
    """r13 (VERDICT r12 item 3): q3's shuffle_hash hint must be a function
    of the corpus size — present while the orders table is under the
    heap-coupled bound, absent (planner's choice stands) above it. The
    unguarded hint was the q5-measured failure shape: an SHJ build that
    scales with SF against a partition count derived from cores."""
    from australian_company_etl_spark.plans import tpch

    plan = _spark_plan(tpch.q3_shipping_priority(spark, sf_dir))
    assert "ShuffledHashJoin" in plan, "hint should apply under the bound"

    monkeypatch.setattr(tpch, "_orders_bytes", lambda _d: 1 << 60)
    plan_big = _spark_plan(tpch.q3_shipping_priority(spark, sf_dir))
    assert "ShuffledHashJoin" not in plan_big, (
        "above the bound the join must fall back to the planner's choice"
    )
    monkeypatch.undo()
    # output unchanged by the guard machinery at the gate SF
    a = sorted(map(tuple, tpch.q3_shipping_priority(spark, sf_dir).collect()))
    monkeypatch.setattr(tpch, "_orders_bytes", lambda _d: 1 << 60)
    b = sorted(map(tuple, tpch.q3_shipping_priority(spark, sf_dir).collect()))
    assert a == b
