"""Physical-plan shape guards: the scale posture (SURVEY.md section 4 /
README design rules) as regression tests. A change that silently drops
a pushdown, broadcasts nothing, or introduces a cartesian product
should fail HERE, not at 100 TB.
"""

import pytest

from boostdb_spark import suite
from tests.conftest import SF_DIR


def _plan(spark, name):
    df = suite.spark_queries()[name](spark, SF_DIR)
    # formatted mode prints untruncated PushedFilters + codegen spans
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_scan_pushes_series_and_time_filters(spark):
    p = _plan(spark, "flagship_series_scan")
    assert "PushedFilters" in p
    assert "EqualTo(event_type,click)" in p
    assert "GreaterThanOrEqual(ts," in p and "LessThan(ts," in p


def test_q1_prunes_columns(spark):
    p = _plan(spark, "agg_groupby_q1")
    # 16-column lineitem must scan only the 6 referenced columns
    readschema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in readschema and "l_comment" not in readschema
    assert "l_quantity" in readschema


def test_q1_partial_aggregation(spark):
    # map-side partial agg before the exchange: two HashAggregate levels
    p = _plan(spark, "agg_groupby_q1")
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_dim_joins_broadcast(spark):
    p = _plan(spark, "join_dims")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "ann_lsh_topk",
        "agg_q5_local_revenue",
        "agg_q14_promo_share",
        "join_skew_salted",
        "emb_neardup_cosine",
        "join_interval_overlap",
        "dedup_semantic",
    ],
)
def test_candidate_joins_are_equi_not_cartesian(spark, name):
    """LSH bands / pigeonhole chunks / shingle buckets / multi-table
    pipelines must join on keys — never a cross product."""
    p = _plan(spark, name)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_cte_pushes_filters_per_scan(spark):
    """dialect_cte: the WITH body's series filter and the outer query's
    series filter each reach THEIR parquet scan as PushedFilters, the
    CTE aggregation runs partial+final, and the join is key-based."""
    p = _plan(spark, "dialect_cte")
    assert "EqualTo(event_type,click)" in p       # CTE body scan
    assert "EqualTo(event_type,purchase)" in p    # outer scan
    assert p.count("HashAggregate") >= 2          # partial+final CTE agg
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


@pytest.mark.parametrize("name", ["ann_lsh_topk", "ann_ivf_topk"])
def test_ann_candidate_join_broadcasts_queries(spark, name):
    """The ANN candidate join must broadcast the (tiny by construction)
    query side — shuffle-free hash join, corpus streams, no AQE replan.
    Guards the r2 ann_lsh_topk wall-time regression fix."""
    p = _plan(spark, name)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_asof_join_single_shuffle_no_range_explosion(spark):
    p = _plan(spark, "asof_join_backward")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # union + window implementation: exactly the per-key sort, no join op
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "Window" in p


def test_whole_stage_codegen_everywhere_cheap(spark):
    """The scan->filter->project pipeline of the flagship query must sit
    inside WholeStageCodegen (no interpreted operators in the hot
    path)."""
    p = _plan(spark, "flagship_series_scan")
    # formatted mode marks codegen'd operators with "[codegen id : N]"
    for op in ("Filter", "Project"):
        assert any(
            f"{op} [codegen id" in ln for ln in p.splitlines()
        ), f"{op} not codegen'd"


def test_q3_pushes_filters_and_takeordered(spark):
    p = _plan(spark, "agg_q3_topk")
    assert "TakeOrderedAndProject" in p  # top-k, not a global sort
    assert "EqualTo(c_mktsegment,BUILDING)" in p
    assert "LessThan(o_orderdate," in p and "GreaterThan(l_shipdate," in p


def test_dialect_join_pushes_per_source_series_filters(spark):
    p = _plan(spark, "dialect_join")
    # both sides scan with their own series predicate pushed
    assert "EqualTo(event_type,purchase)" in p
    assert "EqualTo(event_type,error)" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_sampling_is_codegen_filter_no_shuffle(spark):
    p = _plan(spark, "doc_sample_det")
    assert "Exchange" not in p  # pure scan->filter->project pipeline


def test_bucketed_join_entry_shuffle_free(spark):
    """The join_bucketed_colocated suite entry: ZERO Exchange below the
    SortMergeJoin — the bucketed layout replaces the join shuffle; the
    only Exchange in the whole plan is the post-join aggregation."""
    import re

    df = suite.spark_queries()["join_bucketed_colocated"](spark, SF_DIR)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in tree
    below_join = tree[tree.index("SortMergeJoin"):]
    assert "Exchange" not in below_join  # both sides scan co-located buckets
    assert len([ln for ln in below_join.splitlines() if "Scan parquet" in ln]) == 2
    assert len(re.findall(r"\bExchange\b", tree)) == 1  # final agg only


def test_quantize_int8_is_narrow_map(spark):
    """Quantization must stay a pure projection: no UDF, no KEYED
    shuffle — all HOF expressions in one map stage. The only exchange
    allowed is the parallelism spread (RoundRobin repartition of a
    one-file fixture input; a no-op at real scale where the scan
    already has >= defaultParallelism partitions — interpreted HOF
    lambdas on a single task were 3x the wall)."""
    p = _plan(spark, "emb_quantize_int8")
    low = p.lower()
    assert "hashpartitioning" not in low and "rangepartitioning" not in low
    if "Exchange" in p:
        assert "roundrobinpartitioning" in low  # the spread, nothing else
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_multimodal_pixel_entries_have_no_shuffle(spark):
    """The codec pipelines are mapInPandas chains — partition-local,
    zero Exchange end to end."""
    for name in ("multimodal_pixels", "multimodal_audio"):
        p = _plan(spark, name)
        assert "Exchange" not in p, name


def test_ts_linear_trend_single_shuffle_pair(spark):
    """Bucket-mean agg + per-series fold: exactly the two aggregate
    exchanges (bucket means, then series fold) — no window, no join."""
    import re

    p = _plan(spark, "ts_linear_trend")
    assert "Join" not in p
    # formatted mode lists each node in the tree AND a details section:
    # count the numbered detail headers only
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2


def test_compressed_blocks_single_shuffle(spark):
    """Compress -> decompress is one groupBy exchange; the decode is a
    partition-local Arrow pass (no further shuffle)."""
    import re

    p = _plan(spark, "scan_compressed_blocks")
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 1
    assert "Join" not in p


def test_gopher_rules_no_key_shuffle(spark):
    """The quality filter is a pure codegen projection: the only
    Exchange allowed is the deliberate round-robin `_spread`
    repartition (fixture parallelism) — never a key hash shuffle or
    an aggregate."""
    p = _plan(spark, "txt_gopher_rules")
    assert "hashpartitioning" not in p
    assert "HashAggregate" not in p and "SortMergeJoin" not in p


def test_temperature_mixture_broadcasts_rate_table(spark):
    """The per-source rate table joins as a broadcast; the full data
    side must not shuffle through a SortMergeJoin."""
    p = _plan(spark, "doc_temperature_mixture")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_dialect_setops_union_all_no_exchange(spark):
    """UNION ALL through the dialect front is a zero-shuffle
    concatenation; plain UNION adds exactly the one distinct
    exchange."""
    from boostdb_spark.plans import sugar
    from boostdb_spark.suite import EVENTS_BINDING, load_tables

    load_tables(spark, SF_DIR)
    ua = sugar.query(
        spark,
        "SELECT click.user_id FROM boost.events "
        "UNION ALL SELECT error.user_id FROM boost.events",
        EVENTS_BINDING,
    )
    p = ua._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Union" in p and "Exchange" not in p


def test_dialect_subquery_pushes_both_scans(spark):
    """Both the outer and the IN-subquery scans carry their own pushed
    filters — decorrelation did not forfeit pushdown."""
    p = _plan(spark, "dialect_subquery")
    assert "LeftSemi" in p
    assert p.count("PushedFilters: [") >= 2
    assert "EqualTo(event_type,purchase)" in p
    assert "EqualTo(event_type,signup)" in p


def test_matryoshka_zero_shuffle(spark):
    """No KEYED shuffle — only the parallelism-spread RoundRobin
    repartition of the one-file fixture input (no-op at real scale)."""
    p = _plan(spark, "emb_matryoshka")
    low = p.lower()
    assert "hashpartitioning" not in low and "rangepartitioning" not in low
    if "Exchange" in p:
        assert "roundrobinpartitioning" in low  # the spread, nothing else


def test_emb_dim_stats_partial_agg(spark):
    """posexplode -> grouped agg with map-side partial aggregation: two
    HashAggregate levels around one exchange on the 64-value dim key."""
    p = _plan(spark, "emb_dim_stats")
    assert p.count("HashAggregate") >= 2


def test_snapshot_diff_one_join_no_cartesian(spark):
    """CDC diff is exactly ONE full-outer equi-join on the key — never
    a nested loop, never a second pass over either snapshot."""
    import re

    p = _plan(spark, "scan_snapshot_diff")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # formatted mode lists each node in the tree AND a details section:
    # count the numbered detail headers only
    joins = re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)", p)
    assert len(joins) == 1
    assert "FullOuter" in p


def test_rollup_cascade_coarse_levels_reuse_partials(spark):
    """The hourly level is the only aggregation of raw rows: coarser
    levels re-aggregate the checkpointed partials, so the raw events
    scan appears ONCE in the plan (the cascade's scan-once claim)."""
    df = suite.spark_queries()["ts_rollup_cascade"](spark, SF_DIR)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert p.count("events.parquet") <= 1


def test_hive_partition_prune_in_plan(spark):
    # the day predicate must prune DIRECTORIES (PartitionFilters), not
    # just row groups; the residual event_type filter stays pushed
    p = _plan(spark, "scan_hive_partition_prune")
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf and "2024-01-15" in pf[0]
    assert "EqualTo(event_type,click)" in p


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT cpu.host, cpu FROM bench.metrics WHERE cpu < 5",
        "SELECT a.cpu AS x, b.mem AS y FROM bench.metrics a "
        "JOIN bench.metrics b ON a.host = b.host",
    ],
    ids=["single_source", "join"],
)
def test_dialect_time_range_prunes_family_partitions(spark, tmp_path, sql):
    """A time-ranged dialect query over a registered series-family view
    prunes ts_date DIRECTORIES in every scan, pushes each scan's series
    to parquet, evaluates the exact ts check in the scan's Filter (one
    ``exists`` over ``array(ts)``, whose generated code is the same for
    every range) and keeps the Project in whole-stage codegen."""
    from boostdb_spark.plans import sugar
    from boostdb_spark.sources import SeriesFamily

    day = 86_400 * 10**9
    t0 = 1_704_067_200 * 10**9
    fam = SeriesFamily(spark, "bench", "metrics", str(tmp_path))
    fam.write(spark.createDataFrame(
        [(s, t0 + i * day // 2, float(i), f"h{i % 3}")
         for s in ("cpu", "mem") for i in range(20)],
        "series string, ts long, value double, host string",
    ))
    fam.register()
    binding = sugar.SeriesFamilyBinding(view=fam.view_name)
    start, end = t0 + 4 * day, t0 + 5 * day
    df = sugar.query(spark, sql, binding, start=start, end=end)
    df.collect()  # the final adaptive plan marks its codegen stages
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    lines = p.splitlines()
    pf = [ln for ln in lines if "PartitionFilters" in ln]
    assert pf and all("ts_date" in ln for ln in pf), pf
    pushed = [ln for ln in lines if ln.startswith("PushedFilters")]
    assert len(pushed) == len(pf) and all("EqualTo(series," in ln for ln in pushed), pushed
    # formatted mode prints the final adaptive plan and the initial one
    checks = [ln for ln in lines if ln.startswith("Condition") and "exists(array(ts#" in ln]
    assert len(checks) >= len(pf), p
    assert all(f">= {start})" in ln and f"< {end})" in ln for ln in checks), checks
    assert "Project [codegen id" in p, p


def test_bm25_single_broadcast_stats_join(spark):
    # corpus stats ride ONE single-row broadcast join; no sort-merge
    p = _plan(spark, "txt_bm25_topk")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_funnel_joins_stay_user_keyed(spark):
    # no cartesian products anywhere in the step chain
    p = _plan(spark, "agg_funnel")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_interp_align_single_exchange(spark):
    # union + two frames over ONE (ts, tag) sort: exactly one shuffle
    # on the join key feeds both window frames
    p = _plan(spark, "ts_interp_align")
    import re

    exch = len(re.findall(r"\bExchange hashpartitioning\(user_id", p))
    assert exch <= 2  # one per union branch pre-AQE accounting
    assert "CartesianProduct" not in p


def test_values_localrelation_broadcast(spark):
    # inline VALUES must be a LocalTableScan (exact stats) feeding a
    # BroadcastHashJoin — never an ExistingRDD (unknown stats, no
    # broadcast) and never a shuffle of the literal dimension
    p = _plan(spark, "dialect_values")
    assert "LocalTableScan" in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "Scan ExistingRDD" not in p


def test_distinct_on_windowgrouplimit(spark):
    # DISTINCT ON compiles to a rank window; Spark's rank pushdown
    # (WindowGroupLimit) must kick in so the top-1 filter never
    # materializes full per-group sorts — and there is no self-join
    p = _plan(spark, "dialect_distinct_on")
    assert "WindowGroupLimit" in p
    assert "Join" not in p


def test_select_exclude_narrows_readschema(spark):
    # the excluded wide columns must not leave the parquet scan
    p = _plan(spark, "dialect_select_exclude")
    readschema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "props" not in readschema and "ts" not in readschema
    assert "event_id" in readschema


def test_lttb_windowgrouplimit_and_broadcast(spark):
    # the per-bucket argmax must ride WindowGroupLimit (top-k per
    # bucket without full sorts); the bucket-mean neighbor table is
    # broadcast-sized (n_out rows per series)
    p = _plan(spark, "ts_lttb")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


def test_ignore_nulls_single_window(spark):
    # LOCF is ONE Window operator over the derived projection
    p = _plan(spark, "dialect_ignore_nulls")
    assert p.count("Window") >= 1
    assert "Join" not in p


def test_setops_all_no_join_explosion(spark):
    # bag-semantics set ops plan as aggregate-style exchanges, not
    # joins over duplicated rows
    p = _plan(spark, "dialect_setops_all")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_pivot_single_aggregate_no_pervalue_scans(spark):
    # PIVOT with an explicit value list is ONE partial+final hash
    # aggregate over ONE scan — never a per-value scan-and-union and
    # never a driver-side distinct pass
    p = _plan(spark, "dialect_pivot")
    scans = [ln for ln in p.splitlines()
             if ln.startswith("(") and "Scan parquet" in ln]
    assert len(scans) == 1, scans
    assert "Union" not in p
    assert p.count("HashAggregate") >= 2  # partial + final


def test_unpivot_one_expand(spark):
    # UNPIVOT is Spark's native Expand (rows x |cols|) — no join, no
    # per-column union
    p = _plan(spark, "dialect_unpivot")
    assert "Expand" in p
    assert "Union" not in p


def test_tablesample_filter_in_scan_pipeline(spark):
    # the deterministic hash cut is a codegen filter conjoined with the
    # series filter: one scan, no exchange before the filter, and the
    # series equality still reaches the parquet scan
    p = _plan(spark, "dialect_sample")
    assert "EqualTo(event_type,click)" in p
    scans = [ln for ln in p.splitlines()
             if ln.startswith("(") and "Scan parquet" in ln]
    assert len(scans) == 1
    assert "Exchange" not in p  # pure scan+filter+project pipeline


def test_distinct_agg_expand_two_level(spark):
    # multi-distinct aggregation: Spark's Expand-based rewrite with
    # partial+final levels on ONE scan — the standard distinct shape,
    # no self-joins
    p = _plan(spark, "dialect_distinct_agg")
    scans = [ln for ln in p.splitlines()
             if ln.startswith("(") and "Scan parquet" in ln]
    assert len(scans) == 1, scans
    assert "Join" not in p
    assert "Expand" in p
    assert p.count("HashAggregate") >= 2


def test_groups_frame_one_exchange_two_windows(spark):
    # ANSI GROUPS frame lowers to dense_rank + rangeBetween: both
    # Window passes share the (partition, order) sort, so exactly ONE
    # Exchange feeds them (the rank pass must not re-shuffle)
    p = _plan(spark, "dialect_groups_frame")
    assert p.count("Window") >= 2, p
    exchanges = [ln for ln in p.splitlines()
                 if ln.startswith("(") and "Exchange" in ln]
    assert len(exchanges) == 1, exchanges
    assert "dense_rank" in p
    assert "RangeFrame" in p


def test_string_agg_single_aggregate_no_sort_shuffle(spark):
    # string_agg WITHIN GROUP compiles to collect_list + array_sort:
    # ONE partial+final hash aggregate on one scan — no global sort,
    # no window, no extra exchange for the ordering
    p = _plan(spark, "dialect_string_agg")
    scans = [ln for ln in p.splitlines()
             if ln.startswith("(") and "Scan parquet" in ln]
    assert len(scans) == 1, scans
    assert "Window" not in p
    assert p.count("HashAggregate") >= 2  # partial + final
    exchanges = [ln for ln in p.splitlines()
                 if ln.startswith("(") and "Exchange" in ln]
    assert len(exchanges) == 1, exchanges  # the groupBy key shuffle


def test_percentile_within_group_single_aggregate(spark):
    # percentile_cont/disc WITHIN GROUP lower to Spark's NATIVE
    # inverse-distribution aggregates: one partial+final
    # ObjectHashAggregate on one scan, ONE exchange (the groupBy key
    # shuffle) — no window, no global sort for the ordering
    for name in ("dialect_percentile_cont", "dialect_percentile_disc"):
        p = _plan(spark, name)
        assert p.count("ObjectHashAggregate") >= 2, (name, p)
        assert "Window" not in p, name
        exchanges = [ln for ln in p.splitlines()
                     if ln.startswith("(") and "Exchange" in ln]
        assert len(exchanges) == 1, (name, exchanges)


def test_q6_all_predicates_reach_scan(spark):
    # TPC-H Q6: the pushdown showcase — all three predicate families
    # (date range, discount band, quantity cap) in PushedFilters, no
    # join, partial+final aggregate on one scan
    p = _plan(spark, "agg_q6_forecast_revenue")
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "GreaterThanOrEqual(l_discount" in pushed
    assert "LessThan(l_quantity" in pushed
    assert "Join" not in p
    assert p.count("HashAggregate") >= 2


def test_q19_implied_disjunctions_pushed_both_scans(spark):
    # TPC-H Q19: Catalyst must extract the partkey equi-key for the
    # join AND derive the implied single-side ORs for both scans —
    # a missed factoring turns this into scan-everything
    p = _plan(spark, "agg_q19_disjunctive_brand")
    li_pushed = [ln for ln in p.splitlines()
                 if "PushedFilters" in ln and "l_quantity" in ln]
    pt_pushed = [ln for ln in p.splitlines()
                 if "PushedFilters" in ln and "p_brand" in ln]
    assert li_pushed and "Or(" in li_pushed[0]
    assert pt_pushed and "Or(" in pt_pushed[0]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q9_star_broadcasts_and_substring_pushdown(spark):
    # TPC-H Q9: the LIKE '%widget%' prunes the part scan
    # (StringContains reaches parquet) and every dimension broadcasts —
    # the fact table is never shuffled for a join
    p = _plan(spark, "agg_q9_nation_profit")
    assert "StringContains(p_name,widget)" in p
    assert p.count("BroadcastHashJoin") >= 3  # part/supplier/nation dims
    # lineitem JOIN orders: orders is a FACT table — under the r12
    # broadcast posture it plans sort-merge statically (no
    # estimate-based broadcast; estimates lie through explode) and AQE
    # converts to broadcast at runtime only when the ACTUAL size fits.
    # The old pin ("no SortMergeJoin") asserted an estimate-trusting
    # plan that would broadcast orders at any corpus size.
    assert "CartesianProduct" not in p


def test_q17_decorrelated_single_fact_agg(spark):
    # TPC-H Q17: the correlated per-part avg decorrelates to ONE
    # per-part aggregate (no per-row re-execution shape), and the
    # brand/type filter reaches the part scan
    p = _plan(spark, "agg_q17_small_qty_revenue")
    assert "EqualTo(p_brand,Brand#3)" in p
    assert "CartesianProduct" not in p
    # three scans total: outer lineitem + the avg subquery's lineitem
    # + the pruned part — no per-row subquery re-execution shape
    scans = [ln for ln in p.splitlines()
             if ln.startswith("(") and "Scan parquet" in ln]
    assert len(scans) == 3, scans


def test_frame_exclude_single_exchange(spark):
    # ANSI frame exclusion lowers to sibling window aggregates sharing
    # the user_id partition: ONE Exchange serves the ROWS-frame
    # subtractions, the min frame-split, and the RANGE EXCLUDE TIES
    # rewrite; no join, no extra shuffle
    import re

    p = _plan(spark, "dialect_frame_exclude")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "Join" not in p


def test_q8_eight_relation_star_no_cartesian(spark):
    # TPC-H Q8: eight relations, nation joined twice under different
    # roles — every join must stay key-based with the dimension chains
    # broadcast; region/part-type/date filters reach their scans
    p = _plan(spark, "agg_q8_market_share")
    assert "EqualTo(r_name,ASIA)" in p
    assert "EqualTo(p_type,ECONOMY)" in p
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q21_decorrelated_aggregates_not_subquery_loops(spark):
    # TPC-H Q21: EXISTS/NOT-EXISTS decorrelate to two order-level
    # aggregates joined back on orderkey — key joins only, and the
    # distinct-supplier count is a real aggregate in the plan
    p = _plan(spark, "agg_q21_waiting_supplier")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "HashAggregate" in p


def test_knn_graph_equi_join_not_cartesian(spark):
    # the k-NN graph's pair generation must be an equi-join on the
    # group key — never an all-pairs product — with the per-src top-k
    # as one row_number window
    p = _plan(spark, "emb_knn_graph")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" in p


def test_limit_ties_broadcast_semi_not_global_window(spark):
    # WITH TIES must plan as a broadcast left-semi against the tiny
    # top-n key page — a global rank() Window would single-partition
    # the corpus
    p = _plan(spark, "dialect_limit_ties")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_q11_threshold_broadcast_no_recompute_scan(spark):
    # TPC-H Q11: the grand-total threshold joins back as a 1-row
    # broadcast against the per-part rollup — key-free but 1-row-sized,
    # never a corpus-level nested-loop; the value relation reads from
    # the checkpoint, not a second lineitem scan
    p = _plan(spark, "agg_q11_important_stock")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    scans = [ln for ln in p.splitlines()
             if ln.startswith("(") and "Scan parquet" in ln]
    assert len(scans) == 0, scans  # both consumers read the checkpoint


def test_q16_distinct_count_and_anti_join(spark):
    # TPC-H Q16: NOT IN -> broadcast anti join; DISTINCT supplier count
    # per attribute triple -> hash aggregate; part filters pushed
    p = _plan(spark, "agg_q16_supplier_count")
    assert "LeftAnti" in p
    assert "HashAggregate" in p
    assert "Not(EqualTo(p_brand,Brand#1))" in p
    assert "CartesianProduct" not in p


def test_q20_nested_in_chain_all_semi_joins(spark):
    # TPC-H Q20: the nested IN chain decorrelates to broadcast
    # semi-joins (red parts, eligible suppliers) + a per-part max
    # aggregate joined on partkey — no correlated re-execution
    p = _plan(spark, "agg_q20_promotion_suppliers")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bollinger_window_buffer_count_pinned(spark):
    """Deriving bands INLINE from frame aggregates re-embeds a copy of
    each window aggregate per derived column — the r14 decomposition
    found 13 sliding decimal buffers in the physical Window node
    (5.0 s at sf0.1) where the semantics need 3 (1.1 s). The two-stage
    projection pins the buffer count; this guards the 3x."""
    p = _plan(spark, "ts_bollinger")
    # formatted plan: the Window node's Arguments line carries one
    # aggregate per buffer — count sum()/count() occurrences there
    import re

    args = [
        ln
        for seg in p.split("\n\n")
        if seg.strip().startswith("(") and "Window" in seg.splitlines()[0]
        for ln in seg.splitlines()
        if ln.startswith("Arguments:")
    ]
    assert args, p[:800]
    agg_refs = re.findall(r"(?:sum|count)\(", "\n".join(args))
    assert 0 < len(agg_refs) <= 3, (len(agg_refs), args)


def test_bollinger_wide_has_no_bounded_sliding_frame(spark):
    """ts_bollinger_wide must NEVER fall back to a bounded sliding
    frame (O(rows x frame)): every window in the prefix plan is a
    growing unbounded-preceding frame, and the frame-start lookup is
    the union-asof pass, not a range join."""
    p = _plan(spark, "ts_bollinger_wide")
    assert "specifiedwindowframe(RangeFrame, -86400000000000" not in p
    assert "unboundedpreceding" in p
    assert "CartesianProduct" not in p


def test_zscore_window_buffer_count_pinned(spark):
    """Same guard as ts_bollinger: the rolling z-score's physical
    Window node carried 17 sliding buffers pre-r14 (inline derivation
    re-embeds the frame aggregates); the two-stage projection needs 3."""
    import re

    p = _plan(spark, "ts_zscore_anomaly")
    args = [
        ln
        for seg in p.split("\n\n")
        if seg.strip().startswith("(") and "Window" in seg.splitlines()[0]
        for ln in seg.splitlines()
        if ln.startswith("Arguments:")
    ]
    assert args, p[:800]
    agg_refs = re.findall(r"windowspecdefinition", "\n".join(args))
    assert 0 < len(agg_refs) <= 3, (len(agg_refs), args)


def test_frame_exclude_window_buffer_count_pinned(spark):
    """r14 sweep deferral, fixed r15: the EXCLUDE TIES avg lowering
    embedded its excl_cnt aggregates twice (once in the NULL guard,
    once as the divisor) — 6 buffers on that Window node where the 4
    distinct aggregates (full-frame sum/count + peer-group sum/count)
    are the floor; the try_divide form uses each aggregate once. The
    EXCLUDE CURRENT ROW node's floor is likewise 4 (frame sum/count +
    the two min sibling frames)."""
    import re

    p = _plan(spark, "dialect_frame_exclude")
    per_node = []
    for seg in p.split("\n\n"):
        lines = seg.strip().splitlines()
        if not lines:
            continue
        for i, ln in enumerate(lines):
            if re.match(r"\(\d+\) Window", ln):
                block = "\n".join(lines[i:])
                # count only up to the next node header
                nxt = re.search(r"\n\(\d+\) ", block)
                if nxt:
                    block = block[: nxt.start()]
                per_node.append(
                    len(re.findall(r"windowspecdefinition", block))
                )
    assert per_node, p[:800]
    assert all(0 < c <= 4 for c in per_node), (per_node, p[:800])


def test_asof_nearest_window_buffer_count_pinned(spark):
    """The nearest-direction carry tree referenced the two window
    carries 5x (+1 per payload getField) — 16 buffers pre-r14; the
    materialized-carry form needs exactly 2 (one backward last, one
    forward first)."""
    import re

    p = _plan(spark, "asof_join_nearest")
    args = [
        ln
        for seg in p.split("\n\n")
        if seg.strip().startswith("(") and "Window" in seg.splitlines()[0]
        for ln in seg.splitlines()
        if ln.startswith("Arguments:")
    ]
    assert args, p[:800]
    agg_refs = re.findall(r"windowspecdefinition", "\n".join(args))
    assert len(agg_refs) == 2, (len(agg_refs), args)
