"""Physical-plan quality gates — the shapes that must survive a 100x
scale-up. A query that silently regresses to a full scan, a sort-merge of a
dimension table, or an extra shuffle passes correctness tests but fails
these."""

from __future__ import annotations

import pytest

from sparkgraft import registry, registry_ext


def _plan(spark, sf_dir, name):
    return (
        registry.queries()[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _final_plan(spark, sf_dir, name):
    """Post-execution adaptive plan. Dimension broadcasts are no longer
    hint-pinned (a hard F.broadcast(customer) is wrong at 100 TB) — AQE
    decides from runtime stats, so the shape to grade is the FINAL plan."""
    df = registry.queries()[name](spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _builder_plan(builder, spark, sf_dir):
    """Plan of a shared pre-terminal relation builder.  Six gated lanes
    are split into builder + terminal sort so the gates can grade the
    shipped shape independently of whatever materialization sits in front
    of the sort (the registry._bucketed_join_relation pattern: the query
    itself calls the builder, so any edit to the shipped shape is
    automatically the shape graded here)."""
    return builder(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def _builder_final_plan(builder, spark, sf_dir):
    """Post-execution (final AQE) plan of a shared builder relation."""
    df = builder(spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_time_range_filter_pushes_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_time_range")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    assert "GreaterThanOrEqual(ts" in pushed[0], (
        f"time bound must reach the parquet scan for row-group pruning: {pushed[0]}"
    )


def test_q1_scan_prunes_and_pushes(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    scan = [l for l in plan.splitlines() if "FileScan parquet" in l][0]
    assert "LessThan(l_shipdate" in plan, "shipdate filter must be pushed"
    # column pruning: only the 7 needed columns, not all 11
    assert "l_orderkey" not in scan and "l_partkey" not in scan, scan


def test_q5_joins_broadcast_no_sort_merge(spark, sf_dir):
    plan = _final_plan(spark, sf_dir, "q5_local_supplier_volume")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_q3_uses_topk_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan, "top-k must not be a global sort"


def test_wau_single_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "wau_user")
    assert plan.count("FileScan") == 1


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Tables bucketed on the join key must sort-merge WITHOUT a shuffle —
    the write-once-shuffle-never mechanism for repeated fact⋈fact joins."""
    from sparkgraft import catalog
    from sparkgraft.io.readers import read_table

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    catalog.save_bucketed(
        spark, read_table(spark, sf_dir, "orders"), "b_orders", "o_orderkey", 4
    )
    catalog.save_bucketed(
        spark,
        read_table(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        4,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_clustered_write_makes_rowgroup_stats_selective(spark, sf_dir, tmp_path):
    """save_clustered must produce files whose row-group [min, max] value
    ranges are narrow slices — a range predicate then overlaps only a
    fraction of groups (that is the IO pushdown actually skips), and the
    files must hold disjoint value ranges (repartitionByRange)."""
    import pyarrow.parquet as pq
    from sparkgraft import catalog
    from sparkgraft.io.readers import read_table

    out = str(tmp_path / "clustered")
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    catalog.save_clustered(ev, out, "value", n_files=8)

    import glob

    spans = []          # (min, max) per row group, all files
    file_ranges = []    # (min, max) per file
    for f in sorted(glob.glob(f"{out}/part-*.parquet")):
        md = pq.read_metadata(f)
        fmin, fmax = None, None
        for g in range(md.num_row_groups):
            col = next(
                md.row_group(g).column(i)
                for i in range(md.row_group(g).num_columns)
                if md.row_group(g).column(i).path_in_schema == "value"
            )
            lo, hi = col.statistics.min, col.statistics.max
            spans.append((lo, hi))
            fmin = lo if fmin is None else min(fmin, lo)
            fmax = hi if fmax is None else max(fmax, hi)
        file_ranges.append((fmin, fmax))

    assert len(spans) >= 8, f"need multiple row groups to prove pruning, got {len(spans)}"
    # files hold (near-)disjoint ranges: sorted by min, each file's min >=
    # the previous file's max (range partitioning guarantees it exactly)
    file_ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(file_ranges, file_ranges[1:]):
        assert b_lo >= a_hi, f"file ranges overlap: {(a_lo, a_hi)} vs {(b_lo, b_hi)}"
    # a mid-range point query overlaps only a small fraction of row groups
    all_lo = min(lo for lo, _ in spans)
    all_hi = max(hi for _, hi in spans)
    probe = all_lo + (all_hi - all_lo) / 2
    overlapping = sum(1 for lo, hi in spans if lo <= probe <= hi)
    assert overlapping <= max(1, len(spans) // 4), (
        f"{overlapping}/{len(spans)} row groups overlap a point probe — "
        "stats are not selective"
    )


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join (union + forward-fill) must plan exactly one exchange."""
    from pyspark.sql import functions as F

    from sparkgraft.io.readers import read_table
    from sparkgraft.ops.relational import asof_join

    ev = read_table(spark, sf_dir, "events")
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts"), "event_id"
    )
    out = asof_join(ev, signups, "user_id", "ts", "signup_ts", "signup_ts",
                    tiebreak=("event_id",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_continuity_frontier_broadcasts(spark):
    """The carryover frontier join must be broadcast — no shuffle of the
    event table for the continuity patch."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from sparkgraft.ops.sessionize import sessionize_with_continuity

    events = spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 10).alias("user_id"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
    )
    frontier = spark.createDataFrame(
        [(1, "s1", datetime(1970, 1, 1))],
        "user_id long, existing_session_id string, last_event_ts timestamp",
    )
    out = sessionize_with_continuity(events, frontier, order_tiebreak=("event_id",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name", ["sessionize_skew_split", "sessionize_hotkey"]
)
def test_skew_split_sessionize_bounded_windows(spark, sf_dir, name):
    """sessionize_skew_split plan contract: every window over the EVENT
    table partitions by (user, bucket) — never by user alone — so no task
    ever holds one user's full history; only the per-(user,bucket) stitch
    relation (<= #buckets rows per user) windows on bare user. Exchange
    budget: 2 (user,bucket) fact exchanges (the stitch side re-derives the
    windowed frame) + 1 tiny stitch exchange.  Graded on BOTH the uniform
    lane and the round-6 hot-key lane (bot user holding 20% of rows) —
    the bound must hold exactly when the data is adversarial."""
    plan = _plan(spark, sf_dir, name)
    import re

    # a bare-user fact window would print windowspecdefinition(user_id#N,
    # ts#M ASC ...); correct plans always have __bkt right after user_id
    # (as 2nd partition key for fact windows, as ORDER key for stitch ones)
    for m in re.finditer(r"windowspecdefinition\(user_id#\d+L?,\s*(\S+)", plan):
        assert m.group(1).startswith("__bkt"), (
            f"window partitioned by bare user over event order: {m.group(0)}"
        )
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_range_join_no_nested_loop(spark, sf_dir):
    """The slab-bucketed range join must plan as an equi-join (hash join on
    the slab), never the BroadcastNestedLoopJoin a bare inequality join
    degenerates to."""
    plan = _plan(spark, sf_dir, "range_join_event_windows")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def _formatted(spark, sf_dir, name):
    """explain('formatted') text — unlike executedPlan().toString(), it
    prints PushedFilters untruncated."""
    df = registry.queries()[name](spark, sf_dir)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(jmode)


def test_q6_scan_prunes_and_pushes(spark, sf_dir):
    """Q6 is bandwidth-bound at scale: all predicates and the 4-column
    projection must reach the parquet scan."""
    plan = _formatted(spark, sf_dir, "q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan, "shipdate must be pushed"
    assert "LessThan(l_quantity" in plan, "quantity must be pushed"
    scan = plan.split("ReadSchema")[1].splitlines()[0]
    for absent in ("l_orderkey", "l_partkey", "l_returnflag"):
        assert absent not in scan, scan


def test_q9_dims_broadcast(spark, sf_dir):
    """part/supplier/nation must broadcast (AQE-chosen at this sf, not
    hint-pinned); only lineitem⋈orders may shuffle."""
    plan = _final_plan(spark, sf_dir, "q9_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q18_uses_topk_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q18_large_volume_customers")
    assert "TakeOrderedAndProject" in plan, "LIMIT 100 must not globally sort"


def test_q19_quantity_hull_pushes_to_scan(spark, sf_dir):
    """The single-table implicants of the OR-of-ANDs must reach the
    lineitem scan — otherwise the disjunction forces a full read."""
    plan = _plan(spark, sf_dir, "q19_banded_revenue")
    assert "GreaterThanOrEqual(l_quantity" in plan, plan
    assert "LessThanOrEqual(l_quantity" in plan, plan


def test_q21_no_nested_loop(spark, sf_dir):
    """The EXISTS/NOT-EXISTS pair must ride the l_orderkey equi-key as
    semi/anti hash joins — a nested loop here is quadratic at scale."""
    plan = _plan(spark, sf_dir, "q21_blocking_suppliers")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_simhash_pairs_banded_no_cartesian(spark, sf_dir):
    """SimHash pairing must ride the band equi-join (Hamming LSH), never an
    all-pairs product of the signature table — O(n²) at corpus scale."""
    plan = _plan(spark, sf_dir, "dedup_simhash_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q20_dominant_suppliers_no_nested_loop(spark, sf_dir):
    """Q20's nested-subquery chain must stay equi-keyed (semi joins +
    broadcast dims) — no quadratic fallback."""
    plan = _plan(spark, sf_dir, "q20_dominant_suppliers")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_embed_neardup_distributed_no_driver_collect(spark, sf_dir):
    """Exact pair scoring must run as block-matrix cogrouped matmul — no
    all-pairs product, no broadcast of the (growing) embedding table. The
    only broadcast allowed is the tiny B² block-pair relation."""
    plan = _plan(spark, sf_dir, "embed_cosine_neardup")
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_funnel_single_events_exchange(spark, sf_dir):
    """The 4-step funnel must plan ONE events-sized shuffle: all four
    min-over-window steps share a (user_id, ts-range) window spec — one
    Exchange + one Sort, stacked Windows — and the per-user groupBy reuses
    the user_id partitioning. The naive form is 4 self-joins = 4 shuffles."""
    import re

    plan = _plan(spark, sf_dir, "funnel_conversion")
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(hash_exchanges) == 1, plan
    assert plan.count("Window ") == 4, plan
    # exactly one sort feeding the window stack
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan


def test_merge_upsert_no_nested_loop(spark, sf_dir):
    """MERGE INTO compiles to a single equi-keyed full-outer join of base
    and change set — never a nested loop, and the change set aggregates
    partially before the shuffle."""
    plan = _plan(spark, sf_dir, "merge_upsert_customers")
    assert "FullOuter" in plan or "full_outer" in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_count" in plan, plan


def test_bm25_topk_and_broadcast_stats(spark, sf_dir):
    """BM25 ranking must be TakeOrdered top-k (not a global sort), with the
    corpus stats and per-term df relations broadcast — the only shuffles
    are the doc-length and term-frequency groupBys."""
    plan = _plan(spark, sf_dir, "text_bm25_search")
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_zscore_moments_broadcast_no_big_shuffle(spark, sf_dir):
    """z-score scoring joins the 5-row moments relation via broadcast; the
    events side must NOT sort-merge or re-exchange for the join."""
    plan = _final_plan(spark, sf_dir, "value_zscore_outliers")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_peak_concurrent_two_level_sweep(spark, sf_dir):
    """The interval-sweep's heavy running sum must partition BY DAY; the
    only single-partition exchange allowed is the per-day-totals window
    (one row per calendar day) — the two-level prefix-sum contract.  A
    regression to one global boundary sort would print a second
    SinglePartition exchange or a day-less sweep windowspec."""
    import re

    plan = _builder_plan(registry._peak_concurrent_relation, spark, sf_dir)
    assert plan.count("Exchange SinglePartition") <= 1, plan
    sweeps = re.findall(r"windowspecdefinition\(day#\d+, bts#\d+", plan)
    assert sweeps, f"day-partitioned sweep window missing: {plan}"


def test_rolling_7d_no_self_join(spark, sf_dir):
    """Rolling 7-day actives must be the explode-contribution shape: no
    CartesianProduct, and the only nested-loop join is the 1-row max-day
    scalar prune."""
    plan = _plan(spark, sf_dir, "rolling_7d_active_users")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "explode" in plan, plan


def test_trade_pagerank_edges_materialized_once(spark, sf_dir):
    """The q5-shaped edge build must run ONCE (materialize): the final
    iterated plan may reference the checkpointed RDD 10 times but must
    never re-scan lineitem, and iteration joins must stay equi-joins."""
    plan = _builder_plan(registry._trade_pagerank_relation, spark, sf_dir)
    assert "lineitem" not in plan, "edge join re-executes per iteration"
    assert "ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_attribution_equi_join_on_user(spark, sf_dir):
    """Touch-to-conversion matching must plan as an equi-join on user_id
    with the 7-day range as a residual filter — never a nested-loop over
    the full touch x conversion product."""
    plan = _plan(spark, sf_dir, "attribution_linear")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_gapfill_ffill_partitioned_by_user(spark, sf_dir):
    """The forward-fill window must partition by user (bounded by the
    calendar), and the user x day grid must come from the broadcast date
    bounds — exactly one nested-loop join (the broadcast cross), no
    cartesian."""
    import re

    plan = _plan(spark, sf_dir, "timeseries_gapfill")
    assert re.search(r"windowspecdefinition\(user_id#\d+L?, day#\d+ ASC", plan), plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_chunk_dedup_no_bp_broadcast_hint(spark, sf_dir):
    """Boilerplate scrub: segment df-count is one hash aggregate and the
    boilerplate set joins WITHOUT a hard broadcast hint (it is corpus-
    derived and unbounded — AQE decides); reassembly shuffles ids, never
    full texts twice."""
    plan = _plan(spark, sf_dir, "corpus_chunk_dedup")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_window_zoo_closed_forms_no_builtin_rank_functions(spark, sf_dir):
    """Round-4 re-plan: percent_rank/cume_dist/first/nth_value are computed
    as closed-form projections of the two-level exact rank — none of the
    builtin rank-family window functions may appear in the plan (their
    builtin forms would demand the giant per-event_type sort this query
    was re-planned to avoid)."""
    plan = _builder_plan(registry._window_rank_zoo_relation, spark, sf_dir)
    for fn in ("percent_rank()", "cume_dist()", "nth_value("):
        assert fn not in plan, f"builtin {fn} reintroduces the giant sort: {plan}"


def test_dynamic_gap_session_single_shuffle(spark, sf_dir):
    """Dynamic-gap session_window = one user shuffle + sort-merge of
    windows, same exchange count as the fixed-gap form."""
    plan = _plan(spark, sf_dir, "session_window_dynamic_gap")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_vector_algebra_zero_shuffle(spark, sf_dir):
    """Higher-order array functions must stay pure row-wise codegen —
    ZERO exchanges of any kind (the whole point of not using a UDF)."""
    plan = _plan(spark, sf_dir, "embed_vector_algebra")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_stats_lane_single_aggregate_exchange(spark, sf_dir):
    """Correlation moments and map rollup: one map-side-combinable
    aggregate exchange each, nothing events-sized beyond it."""
    for name in ("value_time_correlation", "props_map_stats"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)
        assert "partial" in plan, (name, "map-side partial aggregate missing")


def test_fuzzy_probe_bounded_nested_loop(spark, sf_dir):
    """The only nested-loop join allowed is against the BROADCAST bounded
    probe set; the corpus side must collapse to distinct vocab first
    (an aggregate below the join)."""
    plan = _plan(spark, sf_dir, "text_fuzzy_probe_match")
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_decile_bins_two_level_rank_no_lowcard_window(spark, sf_dir):
    """ntile over a ~6-value partition key is a multi-TB single-task sort
    at 100 TB. The re-planned form must show the two-level shape: heavy
    row_number windows partitioned by (event_type, __chunk) — bounded by
    chunk size — and NO ordered window over raw rows keyed only by
    event_type. Only the tiny per-chunk counts relation may window on
    event_type alone (ordered by __chunk)."""
    import re

    plan = _plan(spark, sf_dir, "value_decile_bins")
    assert not re.search(r"windowspecdefinition\(event_type#\d+, (value|event_id)#", plan), plan
    assert re.search(r"row_number\(\) windowspecdefinition\(event_type#\d+, __chunk#", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_window_rank_zoo_two_level_rank_no_lowcard_window(spark, sf_dir):
    """percent_rank/cume_dist/nth_value re-planned as closed forms of the
    two-level exact rank: same gate as value_decile_bins — no unbounded
    ordered window over the low-cardinality event_type key."""
    import re

    plan = _builder_plan(registry._window_rank_zoo_relation, spark, sf_dir)
    assert not re.search(r"windowspecdefinition\(event_type#\d+, (value|event_id)#", plan), plan
    assert re.search(r"row_number\(\) windowspecdefinition\(event_type#\d+, __chunk#", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_value_median_two_level_rank_no_lowcard_window(spark, sf_dir):
    """Exact median must ride the two-level rank: no ordered window over
    raw rows keyed only by event_type, no percentile() buffering aggregate."""
    import re

    plan = _plan(spark, sf_dir, "value_median_exact")
    assert not re.search(r"windowspecdefinition\(event_type#\d+, (value|event_id)#", plan), plan
    assert re.search(r"row_number\(\) windowspecdefinition\(event_type#\d+, __chunk#", plan), plan
    assert "percentile(" not in plan, plan


def test_knn_graph_blocked_no_cartesian(spark, sf_dir):
    """kNN graph must ride the block-matrix cogrouped path with per-block
    partial top-k — no all-pairs product, no full-table broadcast; the
    global top-k window partitions on the high-cardinality node id."""
    import re

    plan = _builder_plan(registry_ext._embed_knn_graph_relation, spark, sf_dir)
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"row_number\(\) windowspecdefinition\(src#", plan), plan


def test_scd2_pit_lookup_no_nested_loop(spark, sf_dir):
    """The point-in-time lookup's interval predicate must ride the user_id
    EQUI-join (SortMergeJoin/ShuffledHashJoin post-filter), never a
    nested-loop product."""
    plan = _plan(spark, sf_dir, "scd2_point_in_time_lookup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # equi-join on user_id with the interval as ON-condition post-filter;
    # AQE may pick BHJ (small versions side at test SF) or SMJ/SHJ at scale
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan


def test_chunk_overlap_map_only(spark, sf_dir):
    """The RAG chunker is pure map work before its final sort: the chunk
    array builds per-row (Generate over a transform), with no join and no
    aggregation anywhere."""
    plan = _plan(spark, sf_dir, "corpus_chunk_overlap")
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "Generate posexplode" in plan or "Generate" in plan, plan


def test_vocab_growth_global_window_tiny_relation_only(spark, sf_dir):
    """The Heaps-curve running sum may use a global (unpartitioned) window
    ONLY over the post-aggregation bucket relation: the window input must
    sit above the bucket HashAggregate, and the token-level shuffle keys
    on the bigram, not on a constant."""
    plan = _plan(spark, sf_dir, "corpus_vocab_growth")
    # window over buckets: exactly one SinglePartition exchange, fed by an agg
    assert plan.count("SinglePartition") <= 2, plan  # window + final sort collapse
    # first-occurrence groupBy keys on the 64-bit bigram hash (an
    # expression key, rendered _groupingexpression), never the text column
    assert "hashpartitioning(_groupingexpression" in plan, plan
    assert "hashpartitioning(g#" not in plan, plan


def test_table_fingerprint_map_only_single_reduce(spark, sf_dir):
    """The fingerprint is one codegen'd map + a 3-value aggregate: the ONLY
    exchange allowed is the final single-partition reduce of partial
    digests — no hash shuffle, no sort, no driver-side row movement."""
    plan = _plan(spark, sf_dir, "table_fingerprint")
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "Sort" not in plan, plan
    assert "partial" in plan, "map-side partial digest missing"


def test_skew_key_audit_topk_no_global_sort(spark, sf_dir):
    """Top-10 heavy keys must ride TakeOrderedAndProject (per-partition
    heap), never a global sort of the per-key counts; the single-row total
    joins back as a broadcast."""
    plan = _final_plan(spark, sf_dir, "skew_key_audit")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_salted_join_hotkey_fans_out(spark, sf_dir):
    """salted_join under the hot-key adversary: the join key must be the
    COMPOSITE (user_id, __salt) — so the bot key's 20% row share spreads
    over n_salts reducers instead of one — and the small side must carry
    the salt fan-out (one explode of the 0..n_salts-1 range).  The gate
    is strategy-agnostic: at bench scale AQE rightly broadcasts the tiny
    totals side (broadcast beats salting when the build side fits), but
    the composite key and the fan-out are what guarantee the plan still
    balances when the relation is mid-size and must shuffle."""
    import re

    plan = _plan(spark, sf_dir, "salted_join_hotkey")
    join_lines = [
        l for l in plan.splitlines()
        if re.search(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", l)
    ]
    assert join_lines, plan
    assert any("__salt" in l for l in join_lines), (
        f"join does not use the salted composite key: {join_lines}"
    )
    assert re.search(r"Generate explode.*__salt", plan), plan


def test_twap_window_and_agg_share_partitioning(spark, sf_dir):
    """lead() partitions by user_id and the groupBy aggregates the same
    key, so exactly ONE events-sized hash exchange may appear — a second
    one means the aggregate re-shuffled what the window already
    partitioned."""
    plan = _plan(spark, sf_dir, "time_weighted_avg_value")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_column_profile_pruned_scans_no_expand(spark, sf_dir):
    """One column-PRUNED scan + partial agg per column, unioned — and NO
    multi-distinct Expand (the wide-aggregate shape measured 8x slower:
    it multiplies full-width rows 5x before the shuffle).  Every scan's
    ReadSchema must carry exactly one column."""
    plan = _plan(spark, sf_dir, "column_profile_lineitem")
    assert "Expand" not in plan, plan
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == 5, plan
    for s in schemas:
        assert s.count(":") == 1, (s, "scan not pruned to one column")
    assert "partial" in plan, plan


def test_temperature_mix_membership_broadcasts(spark, sf_dir):
    """The per-source keep-rate table must broadcast onto documents for the
    membership filter — a sort-merge join of a ~|sources|-row relation
    against the corpus is the 100 TB failure mode.  The global-window sums
    may only run over the tiny per-source stats relation."""
    plan = _final_plan(spark, sf_dir, "corpus_temperature_mix")
    assert "BroadcastHashJoin" in plan, plan


def test_ewma_window_and_agg_share_partitioning(spark, sf_dir):
    """Same contract as TWAP: the row_number window and the groupBy share
    user_id, so exactly one events-sized hash exchange."""
    plan = _plan(spark, sf_dir, "ewma_user_value")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_snapshot_diff_equi_join_no_nested_loop(spark, sf_dir):
    """The CDC diff must be an equi full-outer join on the key — never a
    nested-loop/cartesian — and the shuffle payload is (key, md5 hash),
    projected before the exchange."""
    plan = _final_plan(spark, sf_dir, "snapshot_diff_orders")
    assert "FullOuter" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_zorder_audit_single_aggregate_exchange(spark, sf_dir):
    """The z-value is pure codegen'd projection; the audit is one
    map-side-combinable aggregate — one exchange, no sort besides the
    final 64-row order, no UDF."""
    plan = _plan(spark, sf_dir, "zorder_layout_audit")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_bitmap_rollup_no_expand_three_level_agg(spark, sf_dir):
    """The bitmap path must NOT plan a distinct-style Expand — its whole
    point is partial-combinable aggregation; three shrinking hash
    aggregates, no row multiplication."""
    plan = _plan(spark, sf_dir, "bitmap_distinct_rollup")
    assert "Expand" not in plan, plan
    assert "partial" in plan, plan


def test_trend_window_and_agg_share_partitioning(spark, sf_dir):
    """Window min(ts) and the moments groupBy share user_id: one
    events-sized exchange."""
    plan = _plan(spark, sf_dir, "user_value_trend")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_triangle_count_equi_joins_only(spark, sf_dir):
    """Wedge generation and closure must be equi-joins (the rank filter is
    a post-join predicate on an equi-key join) — no cartesian, no
    broadcast nested loop anywhere in the triangle phase."""
    plan = _builder_final_plan(registry_ext._graph_triangle_count_relation, spark, sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pq_topk_scoring_is_joinless_map(spark, sf_dir):
    """ADC scoring must be a zero-join codegen'd map over the codes
    relation (codebook + LUTs are inlined model state) with the two-level
    top-k's two bounded exchanges — no join operator anywhere."""
    plan = _plan(spark, sf_dir, "embed_pq_topk")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_incremental_minhash_banded_no_cartesian(spark, sf_dir):
    """The batch->history probe must be the banded bucket equi-join — no
    cartesian / nested-loop anywhere, same contract as dedup_minhash_lsh."""
    plan = _final_plan(spark, sf_dir, "dedup_incremental_minhash")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_orc_scan_pushes_filters_like_parquet(spark, sf_dir, tmp_path):
    """The point of supporting a second columnar format is that pushdown
    survives: an ORC scan with a value predicate must show PushedFilters
    and a pruned ReadSchema, same as the parquet gates."""
    from pyspark.sql import functions as F

    from sparkgraft.io.readers import read_table

    out = str(tmp_path / "orc_ev")
    read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).write.orc(out)
    df = spark.read.orc(out).where(F.col("value") > 100.0).select("event_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThan(value" in plan, plan
    scan = [l for l in plan.splitlines() if "FileScan orc" in l]
    assert scan, plan
    assert "event_type" not in scan[0], scan[0]


def test_triangle_count_materializes_knn_once(spark, sf_dir):
    """The edge list and oriented relation are checkpointed, so the
    triangle phase must NOT re-execute the blocked-kNN DAG per reference
    (pre-fix plan audit: 229 exchanges; the triangle joins alone need
    far fewer)."""
    plan = _builder_final_plan(registry_ext._graph_triangle_count_relation, spark, sf_dir)
    assert plan.count("Exchange hashpartitioning") < 30, plan.count(
        "Exchange hashpartitioning"
    )


def test_repo_wide_plan_sweep_no_cartesian_no_row_udf(spark, sf_dir):
    """Every registered non-streaming query's physical plan, swept for the
    three unconditional scale red-flags: CartesianProduct anywhere,
    row-at-a-time Python UDFs outside the declared UDTF surface, and
    runaway plan width (> 40 hash exchanges — the triangle-count
    re-execution bug's signature).  Per-query gates pin the subtle shapes;
    this net catches the blunt regressions everywhere else.  (Streaming
    harness queries execute real streams on construction and have their
    own tests.)"""
    from sparkgraft import registry

    ROW_UDF_OK = {"udtf_split_sentences"}  # Python UDTF: the registered surface
    bad = {}
    for name, fn in registry.queries().items():
        if name.startswith("streaming_") or name.startswith("custom_stream"):
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        flags = []
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if "BatchEvalPython" in plan and name not in ROW_UDF_OK:
            flags.append("row_python_udf")
        n_ex = plan.count("Exchange hashpartitioning")
        if n_ex > 40:
            flags.append(f"exchanges={n_ex}")
        if flags:
            bad[name] = flags
    assert not bad, bad


def test_mad_outliers_two_level_rank_no_lowcard_window(spark, sf_dir):
    """Both exact medians must ride the two-level rank: windows keyed by
    event_type may only be the bounded (event_type, __chunk) local sorts —
    never over raw (value|dev) rows (same gate as value_median_exact)."""
    import re

    plan = _builder_plan(registry._value_mad_outliers_relation, spark, sf_dir)
    assert not re.search(
        r"windowspecdefinition\(event_type#\d+, (value|dev|event_id)#", plan
    ), plan
    # both ranks run eagerly at the med/mad materializations and are
    # lineage-truncated out of this plan (their two-level shape is gated on
    # the same scalable_row_number helper in
    # test_value_median_two_level_rank_no_lowcard_window); what must hold
    # HERE is that nothing in the remaining pipeline fell back to an
    # ordered low-card window or a percentile buffering aggregate
    assert "percentile(" not in plan, plan


def test_bucketed_join_no_exchange_below_the_join(spark, sf_dir):
    """Gates the POST-AQE final plan of the bucketed_join_zero_shuffle
    registry query's EXACT shape, via the shared builder
    (registry._bucketed_join_relation — the query itself returns an eager
    checkpoint, which truncates the plan; sharing the builder means any
    edit to the shipped shape is automatically the shape graded here):
    both scans `Bucketed: true` and ZERO exchange anywhere below the
    sort-merge join — the only shuffle left is the 5-row aggregate (plus
    the final sort's range exchange).  Complements
    test_bucketed_join_has_no_exchange, which gates the bare
    pre-aggregation join."""
    import time as t

    ns = t.time_ns()
    tl, to = f"bkt_li_test_{ns}", f"bkt_ord_test_{ns}"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = registry._bucketed_join_relation(spark, sf_dir, tl, to)
        j.collect()
        # the executed-plan string repeats the tree as "Final Plan" then
        # "Initial Plan" — grade only the final one
        plan = j._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert plan.count("Bucketed: true") == 2, plan
        assert "SortMergeJoin" in plan, plan
        below_join = plan.split("SortMergeJoin", 1)[1]
        assert "Exchange" not in below_join, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tl}")
        spark.sql(f"DROP TABLE IF EXISTS {to}")


def _docs(spark, sf_dir):
    from sparkgraft.io.readers import read_table

    return read_table(spark, sf_dir, "documents")


def _semi_join(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.join(docs.select("doc_id").where("doc_id % 2 = 0"), "doc_id", "left_semi")


def _explicit_repartition(spark, sf_dir):
    return _docs(spark, sf_dir).repartition(2 * spark.sparkContext.defaultParallelism)


def _split_below_scan(spark, sf_dir):
    """A suffixed maxPartitionBytes small enough that cores x split is
    below the documents scan: the scan already has a split per core."""
    import os

    size = os.path.getsize(f"{sf_dir}/documents.parquet")
    return f"{size // spark.sparkContext.defaultParallelism // 1024}k"


@pytest.mark.parametrize(
    "build, split, fanned",
    [
        (_docs, None, True),
        (_semi_join, None, True),
        (_explicit_repartition, None, False),
        (_docs, _split_below_scan, False),
    ],
    ids=["small_scan", "tiny_semi_join", "explicit_repartition", "suffixed_split_size"],
)
def test_fan_out_width_rule(spark, sf_dir, build, split, fanned):
    """fan_out's one rule: spread an input smaller than one split per core
    to core count; leave alone an explicit repartition to >= cores and an
    input whose size already gives every core a split (with the split
    size read as Spark parses it, suffix included)."""
    from sparkgraft.ops.relational import fan_out

    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    if split is not None:
        spark.conf.set(key, split(spark, sf_dir))
    try:
        df = build(spark, sf_dir)
        out = fan_out(df)
        if fanned:
            assert out is not df
            assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        else:
            assert out is df
    finally:
        spark.conf.set(key, prev)
