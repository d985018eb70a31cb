"""Regenerate PLANS.md: formatted physical plans for representative
queries, as reviewable evidence of the scale posture (pushdown, pruned
schemas, broadcast joins, partial aggregation, codegen spans).

Run: python tools/dump_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from boostdb_spark import suite  # noqa: E402
from boostdb_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    ("flagship_series_scan", "scan: series+time+value filters pushed, 4-col schema"),
    ("agg_groupby_q1", "aggregation: pushdown + partial/final hash agg"),
    ("join_dims", "dimension joins: all broadcast, no shuffle of the fact side"),
    ("asof_join_backward", "as-of join: union + single per-key window, no join op"),
    ("dedup_minhash_lsh", "LSH dedup: equi-joins on bands, partial-agg signature"),
    ("window_session_agg", "session windows: single shuffle on (key)"),
    ("agg_q3_topk", "Q3 shape: pushed date filters, AQE join pick, TakeOrdered top-k"),
    ("dialect_join", "dialect-front join: per-source series filters pushed to both scans"),
    ("dedup_decontaminate", "decontamination: reference shingles broadcast, corpus side never shuffles for the probe"),
    ("ts_zscore_anomaly", "rolling z-score: one exchange on the series key, decimal frame sums in codegen"),
    ("ts_latest_point", "latest point per series: single partial+final max_by hash agg, no window"),
    ("emb_centroid", "per-label centroids: posexplode then one hash agg on (label, dim)"),
    ("join_bucketed_colocated", "bucketed fact-to-fact join: ZERO Exchange below the merge join; the only shuffle is the final agg"),
    ("dialect_params", "placeholder-bound dialect query: the :thr literal constant-folds into the pushed filter"),
    ("txt_tfidf_topk", "TF-IDF: per-distinct-token shuffles (map-side combined), never per-occurrence"),
    ("scan_zordered", "z-ordered scan: BOTH range predicates pushed; row-group stats narrow in both dims"),
    ("emb_quantize_int8", "int8 quantization: pure codegen HOF projection — no Exchange, no Python"),
    ("multimodal_pixels", "real-codec pixel chain: three mapInPandas stages, zero shuffle end to end"),
    ("ts_linear_trend", "least-squares trend: bucket-mean agg + per-series fold, two exchanges, no window/join"),
    ("ts_holt_winters", "Holt-Winters: the sequential recurrence as one fold — same two-exchange shape"),
    ("dialect_subquery", "dialect IN/scalar subqueries: broadcast LeftSemi + native scalar subquery, both scans keep pushed filters"),
    ("dialect_setops", "dialect set ops: per-core pushed filters, one distinct exchange for UNION, left-associative chain"),
    ("doc_temperature_mixture", "temperature mixing: |sources|-row rate table broadcast, zero full-data shuffle"),
    ("scan_bloom_pointlookup", "bloom point-lookup: IN probe pushed to the bloom-filtered scan"),
    ("txt_heavy_hitters", "exact heavy hitters: mapInPandas MG summaries, broadcast candidate recount — candidate-only shuffle"),
    ("asof_join_nearest", "as-of nearest: both window carries over ONE Exchange+Sort, no join op"),
    ("ts_moving_time_avg", "time-range moving window: single shuffle, decimal rangeBetween frame sums"),
    ("dedup_keep_best", "keep-best dedup: label propagation + left join + one window, no hot keys"),
    ("join_range_lookup", "point-in-range banding: union+window per key, no join node"),
    ("ts_seasonal_decompose", "seasonal decomposition: one bucket agg + one range frame + broadcast phase table"),
    ("dedup_incremental", "incremental dedup: probe of the materialized band index, exact verify on candidates only"),
    ("dialect_case", "dialect CASE: searched/simple forms + conditional agg compile to codegen CaseWhen chains"),
    ("dedup_semantic", "SemDeDup: broadcast centroid assignment, pair join bounded by cluster id, no cartesian"),
    ("scan_snapshot_diff", "snapshot CDC: ONE full-outer merge join on the key, null-safe payload compare"),
    ("ts_rollup_cascade", "rollup cascade: raw scan once, coarser levels re-aggregate checkpointed partials"),
    ("scan_paged_export", "paged export readback: partition-discovered slice pages, one pruned scan"),
    ("pipeline_anomaly", "anomaly pipeline: decompose plan + one broadcast of the per-series moment table"),
    ("ts_pattern_topk", "pattern search: one bucket agg, per-series vector built once, HOF z-norm folds, TakeOrdered top-k"),
    ("dialect_cte", "WITH clause: CTE body plans its own pushed scan + partial agg, outer join treats it as a plain source"),
    ("dialect_join_full", "dialect FULL OUTER: per-source series filters still pushed below the outer join"),
    ("dedup_substring", "substring dedup: positioned shingles bucket by text (equi-join), one window pass chains diagonal runs"),
    ("ann_append_certified", "ANN append certificate: read-back index vs rebuild exceptAll, broadcast probe join, drift via broadcast centroid table"),
    ("ts_cusum_changepoint", "CUSUM changepoints: one bucket agg + growing-array fold per series, triples explode — no join, no window"),
    ("emb_whiten", "whitening: dim-stats aggregate once, literals into one zip_with projection — no join on the data path"),
    ("dialect_qualify", "QUALIFY: filter applied ABOVE the Window operator, below sort/limit"),
    ("dialect_asof_join", "dialect ASOF JOIN: union + one per-key window carry, no join node, both series filters pushed"),
    ("txt_bm25_topk", "BM25: narrow tf maps, ONE single-row broadcast stats join, TakeOrdered top-k"),
    ("pipeline_hybrid_rrf", "hybrid RRF: two candidate branches fused by a bounded full-outer join"),
    ("ts_m4_downsample", "M4 downsampling: one partial+final hash agg carrying struct min/max"),
    ("ts_interp_align", "interpolated align: ONE Exchange+Sort, both bracket carries as frames over it"),
    ("agg_funnel", "funnel: user-keyed grouped mins + equi-joins, no cartesian anywhere"),
    ("scan_hive_partition_prune", "partition pruning: day predicate in PartitionFilters (directory-level), residual filter pushed"),
    ("dedup_containment", "containment: shingle equi-join + one division, never all-pairs"),
    ("ts_theilsen_trend", "Theil-Sen: one hash agg to bounded arrays, pair slopes as nested transforms, no join"),
    ("ts_bollinger", "Bollinger: one rangeBetween frame, three decimal sliding aggregates, single exchange"),
    ("ts_bollinger_wide", "Bollinger 24h scale path: grid partial-agg -> growing-frame cums -> union-asof lookup -> grid join; no bounded sliding frame anywhere"),
    ("scan_snapshot_apply", "CDC apply: anti join (deletes) + left join (updates) + union (inserts), all key-partitioned"),
    ("dialect_group_all", "GROUP BY ALL: expanded keys feed the standard partial+final hash aggregate"),
    ("dialect_recursive_components", "WITH RECURSIVE closure: final-iteration plan reads checkpointed deltas — constant-size per step, no lineage growth"),
    ("dialect_grouping_sets", "explicit GROUPING SETS: ONE native Expand feeding partial+final hash agg, single scan"),
    ("dialect_window_range_frame", "RANGE INTERVAL frame: rangeBetween over the ns conversion, one exchange+sort shared by both projections"),
    ("dialect_lateral_tokenize", "JOIN LATERAL: pure-JVM posexplode Generate inside codegen, series filter pushed below it — no shuffle, no Python"),
    ("dialect_named_window", "named WINDOW clause: both OVER w projections share ONE exchange+sort"),
    ("dialect_ignore_nulls", "IGNORE NULLS LOCF: one Window over the derived projection, last_value(ignoreNulls) in codegen"),
    ("dialect_distinct_on", "DISTINCT ON: WindowGroupLimit (rank pushdown) -> filter rn=1, one exchange, never a self-join"),
    ("dialect_select_exclude", "star EXCLUDE: ReadSchema narrowed — the excluded payload columns never leave the parquet scan"),
    ("dialect_values", "inline VALUES: LocalTableScan (exact stats) -> BroadcastHashJoin, literal dim never shuffles"),
    ("ts_lttb", "LTTB: rank window + bucket-mean agg + broadcast neighbor join + WindowGroupLimit argmax"),
    ("ts_integral", "trapezoid integral: one lead window + hash agg to (series, bucket), ordered fold"),
    ("dialect_distinct_agg", "DISTINCT aggregates: ONE scan -> Expand -> two-level multi-distinct hash agg, no self-joins"),
    ("dialect_pivot", "PIVOT: explicit value list -> ONE groupBy().pivot() partial+final aggregate, single scan, no per-value unions"),
    ("dialect_unpivot", "UNPIVOT: native Expand melt (rows x |cols|), no join"),
    ("dialect_sample", "TABLESAMPLE: deterministic md5-bucket filter conjoined into the scan pipeline — zero Exchange"),
    ("evt_transitions", "event transitions: user-keyed lead window -> map-side (src,dst) count -> rank over the tiny transition matrix"),
    ("ts_error_budget_burn", "burn rate: one bucket hash agg over raw events, trailing windows over the BUCKET series only"),
    ("txt_zipf_slope", "Zipf slope: explode -> map-side token count -> rank window over the vocabulary -> 100-row fit per source"),
    ("agg_q10_returned_topk", "Q10: date+returnflag filters pushed, nation broadcast, TakeOrdered top-20"),
    ("agg_q7_nation_volume", "Q7: two nation aliases broadcast-prune supplier/customer BEFORE the fact-to-fact join"),
    ("agg_q18_large_orders", "Q18: IN-over-HAVING planned as left-semi against the grouped aggregate"),
    ("dialect_rank_extras", "ntile/percent_rank/cume_dist: three analytics over ONE exchange+sort; ILIKE pushed"),
    ("dialect_order_expr", "ORDER BY expression: hidden sort column -> TakeOrdered page -> projection drops it"),
    ("agg_q6_forecast_revenue", "Q6: all three predicate families in PushedFilters, no join, partial+final agg"),
    ("agg_q19_disjunctive_brand", "Q19: equi-key extracted from OR-blocks; implied single-side disjunctions pushed to BOTH scans"),
    ("agg_q8_market_share", "Q8: eight relations, nation twice — every dimension chain broadcast, fact never shuffled for a join"),
    ("agg_q21_waiting_supplier", "Q21: EXISTS/NOT-EXISTS decorrelated to two order-level aggregates joined back on orderkey"),
    ("agg_q17_small_qty_revenue", "Q17: correlated per-part avg decorrelated to one aggregate + broadcast join-back"),
    ("dialect_frame_exclude", "frame EXCLUDE: sibling window aggregates share ONE exchange; exclusion is arithmetic, not a new shuffle"),
    ("dialect_string_agg", "string_agg WITHIN GROUP: one partial+final hash aggregate over sorted struct arrays, no UDF"),
    ("dialect_groups_frame", "GROUPS frame: dense_rank lowering + rangeBetween share one exchange+sort"),
    ("emb_knn_graph", "k-NN graph: equi-join on the group key (guarded size), windowed per-src top-k"),
    # --- round 13 ---
    ("dialect_agg_expr", "expressions over aggregates: ONE partial+final hash agg, arithmetic as a post-projection — same plan shape as the plain aggregate"),
    ("dialect_arg_minmax", "max_by/min_by: native argmax inside the shared partial+final hash aggregate, no window/sort"),
    ("dialect_stats_agg", "stddev/variance: Welford-style native aggregates + hidden-column post-projection rounding, one hash agg"),
    ("emb_range_search", "cosine radius query: broadcast queries, threshold fused into the scan's codegen filter — ZERO shuffle, no per-query window"),
    ("ann_range_certified", "IVF range certificate: list-id equi-join candidates + codegen threshold; exact/full-probe legs as bounded aggregates"),
    ("txt_collocations_pmi", "PMI collocations: bigram explode -> map-side counts, vocabulary-bounded joins, TakeOrdered cut"),
    ("doc_interleave_mixture", "stride interleave: bucketed two-phase rank (no single-partition window), vt as one codegen division"),
    ("dedup_simhash", "SimHash 3-of-6 combination keys: 20-way explode -> equi-join on 30-bit packed keys, never all-pairs"),
]


def main() -> None:
    spark = get_spark(app_name="dump-plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = [
        "# PLANS — physical plans of representative queries\n",
        "Generated by `python tools/dump_plans.py` (sf0.01 inputs; plans are",
        "scale-independent). What to look for per plan is noted inline;",
        "tests/test_plan_shapes.py asserts these properties stay true.\n",
    ]
    for name, note in SHOWCASE:
        df = suite.spark_queries()[name](spark, "/root/testdata/sf0.01")
        plan = df._jdf.queryExecution().explainString(mode)
        out.append(f"\n## {name}\n\n*{note}*\n\n```\n{plan.strip()}\n```\n")
    (_REPO / "PLANS.md").write_text("\n".join(out))
    print(f"wrote {_REPO / 'PLANS.md'}")


if __name__ == "__main__":
    main()
