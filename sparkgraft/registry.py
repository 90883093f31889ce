"""Query registry: every implemented operator as a (Spark callable, oracle
SQL) pair — the driver-contract surface behind ``__spark_entry__.py``.

Each Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame; each
oracle is ANSI SQL DuckDB runs over the same parquet tables. Column names
are aliased identically on both sides (the driver's compare sorts columns by
name before hashing). Floating-point aggregates use exact decimal internals
(ops/relational.exact_sum) on the Spark side and the literally-equivalent
``CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)`` in the oracle, so value
hashes are bit-stable regardless of partitioning / shuffle order.

Registry sections map to SURVEY.md §2 rows (cited per query).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from sparkgraft.io.readers import read_table
from sparkgraft.ops.materialize import materialize
from sparkgraft.ops.relational import exact_sum, left_join, top_k, union_all
from sparkgraft.ops.sessionize import sessionize, sessionize_skew_split
from sparkgraft.ops.temporal import local_date
from sparkgraft.ops.windows import forward_fill, lag_over, partition_max
from sparkgraft.queries import tpch, wau

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (spark_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracles() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def scratch_dir(prefix: str) -> str:
    """mkdtemp + atexit rmtree — every lane workspace goes through here.

    Round-12 verdict item #1 generalized: lanes that materialize fixture
    files (streaming sources, sinks, checkpoints, CSV/ORC roundtrips)
    used bare ``tempfile.mkdtemp`` and leaked one directory per run —
    ~2000 orphans had accreted in /tmp by r13.  Returned DataFrames are
    lazy, so the workspace must outlive the lane function; process-exit
    removal is the earliest safe point (the snapshot lane's precedent)."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


from contextlib import contextmanager  # noqa: E402


@contextmanager
def _stream_state_partitions(spark: SparkSession, n: int = 8):
    """Pin the state-store partition count for a one-shot local stream.

    A stateful streaming query bakes ``spark.sql.shuffle.partitions`` into
    its checkpoint at FIRST batch and then pays per-micro-batch state-store
    commit cost proportional to it (a two-side stream join at the vanilla
    default of 200 maintains 400 HDFS-backed stores; measured locally the
    stream-stream join runs 17.7 s at 32 partitions vs 3.2 s at 8 on the
    same data).  State partitioning is a DEPLOYMENT knob, not a plan
    property — results are partition-invariant, which the hash-checked
    oracles prove — so the one-shot availableNow harness pins it low and
    restores the caller's setting; a production cluster sizes it to
    cores x executors like any shuffle."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# ---------------------------------------------------------------------------
# Reference-parity: WAU queries (SURVEY §2.4 A1/A2, §2.8 F5, §2.6 O1)
# ---------------------------------------------------------------------------

@register(
    "wau_user",
    """
    SELECT CAST(date_trunc('week', ts) AS DATE) AS event_week,
           count(DISTINCT user_id) AS wau
    FROM events
    GROUP BY event_week
    ORDER BY event_week
    """,
)
def q_wau_user(spark, sf_dir):
    return wau.user_wau(_t(spark, sf_dir, "events"))


@register(
    "wau_user_twolevel",
    """
    SELECT event_week, count(*) AS wau
    FROM (SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS event_week, user_id
          FROM events)
    GROUP BY event_week
    ORDER BY event_week
    """,
)
def q_wau_user_twolevel(spark, sf_dir):
    """Skew-resistant exact distinct: stage 1 dedupes (week, user) pairs —
    a hot user's billions of events collapse map-side to one row per week
    before any single reducer sees them; stage 2 counts per week. Same
    exact result as wau_user, but no reducer ever materializes a week's
    full user set. The 100 TB form of A1 when user-skew breaks the
    single-pass distinct."""
    from sparkgraft.ops.temporal import week_start

    ev = _t(spark, sf_dir, "events")
    pairs = ev.select(week_start("ts").alias("event_week"), "user_id").distinct()
    return (
        pairs.groupBy("event_week")
        .agg(F.count(F.lit(1)).alias("wau"))
        .orderBy("event_week")
    )


_SESSIONIZE_CTE = """
    WITH lagged AS (
        SELECT event_id, user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ), flagged AS (
        SELECT event_id, user_id, ts,
               (prev_ts IS NULL OR ts >= prev_ts + INTERVAL 300 SECOND) AS is_new
        FROM lagged
    ), sessioned AS (
        SELECT event_id, user_id, ts,
               sha256(CAST(user_id AS VARCHAR) || '#' ||
                      CAST(epoch_us(max(CASE WHEN is_new THEN ts END) OVER (
                          PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS VARCHAR)
               ) AS session_id
        FROM flagged
    )
"""


@register(
    "sessionize_ids",
    _SESSIONIZE_CTE
    + """
    SELECT event_id, user_id, ts, session_id FROM sessioned
    """,
)
def q_sessionize_ids(spark, sf_dir):
    """5-min-gap sessionization with deterministic ids (SURVEY §2.11)."""
    ev = _t(spark, sf_dir, "events")
    return sessionize(ev, order_tiebreak=("event_id",)).select(
        "event_id", "user_id", "ts", "session_id"
    )


@register(
    "sessionize_skew_split",
    _SESSIONIZE_CTE
    + """
    SELECT event_id, user_id, ts, session_id FROM sessioned
    """,
)
def q_sessionize_skew_split(spark, sf_dir):
    """Skew-safe sessionization: pre-split by (user, 6h bucket) + boundary
    stitching — SAME oracle as sessionize_ids because the output contract is
    byte-identical session ids. 6h buckets at sf0.01 force real cross-bucket
    chains, so the stitch path is what the driver hashes."""
    ev = _t(spark, sf_dir, "events")
    return sessionize_skew_split(
        ev, order_tiebreak=("event_id",), bucket_seconds=6 * 3600
    ).select("event_id", "user_id", "ts", "session_id")


@register(
    "sessionize_auto",
    _SESSIONIZE_CTE
    + """
    SELECT event_id, user_id, ts, session_id FROM sessioned
    """,
)
def q_sessionize_auto(spark, sf_dir):
    """Adaptive sessionization (ops/sessionize.sessionize_auto): a one-pass
    hotness statistic picks plain vs skew-split — the measured A/B shows
    each plan loses on the other's data, so the engine measures instead of
    guessing.  The provided events table is uniform, so this lane drives
    the MEASURE + plain-plan arm through the driver hash; the split arm's
    selection-and-parity is pinned by tests on the hot-key rig.  Same
    oracle as sessionize_ids: whatever plan runs, ids are byte-identical."""
    from sparkgraft.ops.sessionize import sessionize_auto

    ev = _t(spark, sf_dir, "events")
    return sessionize_auto(ev, order_tiebreak=("event_id",)).select(
        "event_id", "user_id", "ts", "session_id"
    )


@register(
    "wau_session",
    _SESSIONIZE_CTE
    + """
    SELECT CAST(date_trunc('week', ts) AS DATE) AS event_week,
           count(DISTINCT session_id) AS wau
    FROM sessioned
    GROUP BY event_week
    ORDER BY event_week
    """,
)
def q_wau_session(spark, sf_dir):
    return wau.session_wau(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Filters / predicates / projections (SURVEY §2.2 P4-P13, §2.8 F2-F6)
# ---------------------------------------------------------------------------

@register(
    "filter_time_range",
    """
    SELECT event_id, user_id, ts, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-15'
      AND event_type IN ('purchase', 'cart')
    """,
)
def q_filter_time_range(spark, sf_dir):
    """P7: range predicate on the time column, pushed into the parquet scan
    as raw int64-nanos comparisons (row-group pruning at scale)."""
    from sparkgraft.io.readers import read_table_ranged

    ev = read_table_ranged(
        spark, sf_dir, "events", "ts", [("2024-01-10", "2024-01-15")]
    )
    return ev.where(F.col("event_type").isin("purchase", "cart")).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )


@register(
    "filter_edge_slivers",
    """
    SELECT event_id, user_id, ts, event_type
    FROM events
    WHERE (ts >= TIMESTAMP '2024-01-07' AND ts < TIMESTAMP '2024-01-07 09:00:00')
       OR (ts >= TIMESTAMP '2024-01-20 15:00:00' AND ts < TIMESTAMP '2024-01-21')
    """,
)
def q_filter_edge_slivers(spark, sf_dir):
    """P8: OR-of-ANDs selecting timezone-edge slivers (reference
    UserActivityHiveConnector.scala:31-40 shape), scan-pushed."""
    from sparkgraft.io.readers import read_table_ranged

    ev = read_table_ranged(
        spark,
        sf_dir,
        "events",
        "ts",
        [
            ("2024-01-07", "2024-01-07 09:00:00"),
            ("2024-01-20 15:00:00", "2024-01-21"),
        ],
    )
    return ev.select("event_id", "user_id", "ts", "event_type")


@register(
    "case_when_buckets",
    """
    SELECT event_type,
           CASE WHEN value < 50 THEN 'low'
                WHEN value < 150 THEN 'mid'
                ELSE 'high' END AS bucket,
           count(*) AS n
    FROM events
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def q_case_when_buckets(spark, sf_dir):
    """P11/P12: conditional expression + literals."""
    ev = _t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .otherwise("high")
        .alias("bucket")
    )
    return (
        ev.select("event_type", bucket)
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bucket")
    )


@register(
    "kst_daily_counts",
    """
    SELECT CAST(ts + INTERVAL 9 HOUR AS DATE) AS event_date_kst,
           count(*) AS n_events
    FROM events
    GROUP BY event_date_kst
    ORDER BY event_date_kst
    """,
)
def q_kst_daily_counts(spark, sf_dir):
    """F2+F3: UTC->KST calendar bucketing (the reference's partition key,
    DataLoadTransformer.scala:48-49). KST is UTC+9 with no DST, so the
    oracle may state the shift as a constant interval."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(local_date("ts").alias("event_date_kst"))
        .groupBy("event_date_kst")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_date_kst")
    )


@register(
    "json_extract_props",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def q_json_extract_props(spark, sf_dir):
    """Scalar-function surface: JSON field extraction from the props column."""
    ev = _t(spark, sf_dir, "events")
    return ev.where(F.col("event_type") == "purchase").select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


# ---------------------------------------------------------------------------
# Windows (SURVEY §2.5 W1-W3 + §2.2 P6)
# ---------------------------------------------------------------------------

@register(
    "lag_gap_seconds",
    """
    SELECT event_id, user_id, ts,
           epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
    FROM events
    """,
)
def q_lag_gap_seconds(spark, sf_dir):
    """W1: per-user previous-event gap (the sessionization primitive)."""
    ev = _t(spark, sf_dir, "events")
    prev = lag_over("ts", ["user_id"], ["ts", "event_id"])
    gap = (F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(prev.cast("timestamp"))).alias(
        "gap_us"
    )
    return ev.select("event_id", "user_id", "ts", gap)


@register(
    "forward_fill_last_purchase",
    """
    SELECT event_id, user_id, ts,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_purchase_value
    FROM events
    """,
)
def q_forward_fill(spark, sf_dir):
    """W2: running last-non-null (the reference's session-id forward fill)."""
    ev = _t(spark, sf_dir, "events")
    marker = F.when(F.col("event_type") == "purchase", F.col("value"))
    filled = forward_fill(marker, ["user_id"], ["ts", "event_id"]).alias(
        "last_purchase_value"
    )
    return ev.select("event_id", "user_id", "ts", filled)


@register(
    "latest_event_per_user",
    """
    SELECT user_id, ts, event_type, value
    FROM (SELECT user_id, ts, event_type, value,
                 max(ts) OVER (PARTITION BY user_id) AS max_ts
          FROM events)
    WHERE ts = max_ts
    """,
)
def q_latest_event_per_user(spark, sf_dir):
    """W3+P6: whole-partition max + col=col filter (reference
    DataLoadTransformer.scala:122-126)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("__max_ts", partition_max("ts", ["user_id"]))
        .where(F.col("ts") == F.col("__max_ts"))
        .select("user_id", "ts", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# Joins / set ops (SURVEY §2.3 J1, §2.7 U1-U2)
# ---------------------------------------------------------------------------

@register(
    "left_join_orders_customers",
    """
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders
    LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') b
           ON o_custkey = c_custkey
    """,
)
def q_left_join(spark, sf_dir):
    """J1: left outer equi-join with a small (broadcast) build side."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    joined = left_join(
        orders, cust.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey",
        broadcast_right=True,
    )
    return joined.select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


@register(
    "union_names",
    """
    SELECT r_name AS name, 'region' AS kind FROM region
    UNION ALL
    SELECT n_name AS name, 'nation' AS kind FROM nation
    """,
)
def q_union_names(spark, sf_dir):
    """U1/U2: positional bag-semantics union."""
    region = _t(spark, sf_dir, "region").select(
        F.col("r_name").alias("name"), F.lit("region").alias("kind")
    )
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_name").alias("name"), F.lit("nation").alias("kind")
    )
    return union_all([region, nation])


# ---------------------------------------------------------------------------
# TPC-H-style analytics (general agg/join surface at bench scale)
# ---------------------------------------------------------------------------

_DEC_SUM = "CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE)"
#: fixed-point twin of ops/relational.exact_sum_fixed: exact BIGINT
#: micro-unit sum, then int->double + one double division — engine-identical
#: past the 2^53 decimal->double boundary (see exact_sum_fixed docstring)
_FIX_SUM = (
    "CAST(SUM(CAST(CAST({expr} AS DECIMAL(28,6)) * 1000000 AS BIGINT)) AS DOUBLE)"
    " / 1000000.0"
)


@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_FIX_SUM.format(expr='l_quantity')} AS sum_qty,
           {_FIX_SUM.format(expr='l_extendedprice')} AS sum_base_price,
           {_FIX_SUM.format(expr='l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_FIX_SUM.format(expr='(l_extendedprice * (1 - l_discount)) * (1 + l_tax)')} AS sum_charge,
           {_FIX_SUM.format(expr='l_quantity')} / count(l_quantity) AS avg_qty,
           {_FIX_SUM.format(expr='l_extendedprice')} / count(l_extendedprice) AS avg_price,
           {_FIX_SUM.format(expr='l_discount')} / count(l_discount) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '2000-01-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_q1(spark, sf_dir):
    return tpch.q1_pricing_summary(_t(spark, sf_dir, "lineitem"))


@register(
    "q3_shipping_priority",
    f"""
    SELECT o_orderkey,
           {_DEC_SUM.format(expr='l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q_q3(spark, sf_dir):
    return tpch.q3_shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@register(
    "q5_local_supplier_volume",
    f"""
    SELECT n_name, {_DEC_SUM.format(expr='l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND c_nationkey = s_nationkey
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_q5(spark, sf_dir):
    return tpch.q5_local_supplier_volume(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@register(
    "rollup_order_counts",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_rollup(spark, sf_dir):
    """Grouping-sets surface (rollup to subtotal + grand-total levels)."""
    return tpch.rollup_order_counts(_t(spark, sf_dir, "lineitem"))


@register(
    "top_orders",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_top_orders(spark, sf_dir):
    return tpch.top_orders(_t(spark, sf_dir, "orders"))


@register(
    "sessions_per_user_window",
    _SESSIONIZE_CTE
    + """
    SELECT user_id, count(DISTINCT session_id) AS n_sessions
    FROM sessioned
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_sessions_per_user_window(spark, sf_dir):
    """Spark's native session_window aggregation as a second, independent
    implementation of the 5-min-gap semantics (the streaming-ready form:
    the same groupBy works under readStream + watermark). Oracle-checked
    against the window-function sessionization — the two formulations must
    agree exactly."""
    ev = _t(spark, sf_dir, "events")
    per_session = ev.groupBy(
        F.session_window("ts", "5 minutes"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return (
        per_session.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("user_id")
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS with a cross-table predicate —
    planned as a left-semi join on orderkey with the ship-after-order
    condition in the join."""
    orders = _t(spark, sf_dir, "orders").alias("o")
    li = _t(spark, sf_dir, "lineitem").alias("l")
    in_range = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    late = in_range.join(
        li,
        (F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        & (F.col("l.l_shipdate") > F.col("o.o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q10_returned_revenue",
    f"""
    SELECT c_custkey, c_name,
           {_DEC_SUM.format(expr='l_extendedprice * (1 - l_discount)')} AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: lost revenue from returned items, top-20 customers
    (deterministic tie-break; TakeOrderedAndProject)."""

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(exact_sum(revenue).alias("revenue"))
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("c_custkey")], 20).select(
        "c_custkey", "c_name", "revenue", "n_name"
    )


@register(
    "q14_promo_revenue_share",
    f"""
    SELECT round(100.0 *
           {_DEC_SUM.format(expr="CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
           / {_DEC_SUM.format(expr='l_extendedprice * (1 - l_discount)')}, 6)
             AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-07-01'
    """,
)
def q_q14_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue percentage — fact⋈dim join with a
    LIKE-predicated conditional aggregate ratio."""

    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    part = _t(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0.0))
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        F.round(F.lit(100.0) * exact_sum(promo) / exact_sum(revenue), 6).alias(
            "promo_share_pct"
        )
    )


@register(
    "tumbling_15min_counts",
    """
    SELECT make_timestamp(CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 * 1000000)
             AS window_start,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-06'
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def q_tumbling_15min_counts(spark, sf_dir):
    """Tumbling event-time windows via the built-in window() function —
    the batch twin of the streaming tumbling aggregation. Oracle states
    the same bucketing as floor(epoch/900)*900."""
    ev = _t(spark, sf_dir, "events").where(
        (F.col("ts") >= F.lit("2024-01-05").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2024-01-06").cast("timestamp_ntz"))
    )
    return (
        ev.groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "n_users",
        )
        .orderBy("window_start")
    )


@register(
    "cheapest_shipment_per_part",
    """
    SELECT l_partkey, l_suppkey, l_extendedprice
    FROM lineitem l
    WHERE l_extendedprice = (SELECT min(l2.l_extendedprice)
                             FROM lineitem l2
                             WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q_cheapest_shipment_per_part(spark, sf_dir):
    """TPC-H Q2 shape: correlated scalar subquery (min per correlated key).
    Catalyst decorrelates this into an aggregate + join — same plan we'd
    write by hand, but stated declaratively. Ties (several shipments at the
    exact min price) are all kept, identically in both engines."""
    li = _t(spark, sf_dir, "lineitem").alias("l")
    mins = (
        li.groupBy("l_partkey").agg(F.min("l_extendedprice").alias("__min_price"))
    )
    return (
        li.join(mins, "l_partkey")
        .where(F.col("l_extendedprice") == F.col("__min_price"))
        .select("l_partkey", "l_suppkey", "l_extendedprice")
    )


@register(
    "nation_pair_volume",
    f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           {_DEC_SUM.format(expr='l_extendedprice * (1 - l_discount)')} AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name <> sn.n_name
    GROUP BY cust_nation, supp_nation, o_year
    ORDER BY cust_nation, supp_nation, o_year
    """,
)
def q_nation_pair_volume(spark, sf_dir):
    """TPC-H Q7 shape: cross-nation trade volume per year — two aliases of
    the same broadcast dimension, year extraction, exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .where(F.col("cust_nation") != F.col("supp_nation"))
    )

    return (
        joined.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("cust_nation", "supp_nation", "o_year")
        .agg(exact_sum(revenue).alias("volume"))
        .orderBy("cust_nation", "supp_nation", "o_year")
    )


@register(
    "asia_market_share",
    f"""
    SELECT o_year,
           {_DEC_SUM.format(expr="CASE WHEN r_name = 'ASIA' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
             / {_DEC_SUM.format(expr='l_extendedprice * (1 - l_discount)')} AS asia_share
    FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
                 l_extendedprice, l_discount, r_name
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey)
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q_asia_market_share(spark, sf_dir):
    """TPC-H Q8 shape: conditional-aggregate ratio (ASIA revenue share per
    year). Both numerator and denominator are exact decimal sums, so the
    final double division is bit-identical across engines."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")

    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    asia_rev = F.when(F.col("r_name") == "ASIA", revenue).otherwise(F.lit(0.0))
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
    )
    return (
        joined.groupBy("o_year")
        .agg((exact_sum(asia_rev) / exact_sum(revenue)).alias("asia_share"))
        .orderBy("o_year")
    )


@register(
    "orders_above_avg_price",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                                 / count(o_totalprice)
                          FROM orders)
    """,
)
def q_orders_above_avg_price(spark, sf_dir):
    """Uncorrelated scalar subquery: orders above the global average price.
    The average is computed with exact decimal internals so the predicate
    boundary is identical across engines (a float-summed average could
    flip rows sitting exactly at the mean)."""
    from sparkgraft.ops.relational import exact_avg

    orders = _t(spark, sf_dir, "orders")
    avg_df = orders.agg(exact_avg("o_totalprice").alias("__avg"))
    # lazily-planned scalar: broadcast the 1-row aggregate, no driver action
    return (
        orders.crossJoin(F.broadcast(avg_df))
        .where(F.col("o_totalprice") > F.col("__avg"))
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Extended relational surface (beyond the reference: ranking, sliding
# frames, semi/anti joins, cube, percentiles, set ops, string functions)
# ---------------------------------------------------------------------------

@register(
    "rank_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER w AS rn,
                 rank()       OVER w AS rnk,
                 dense_rank() OVER w AS drnk
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey))
    WHERE rn <= 3
    """,
)
def q_rank_orders_per_customer(spark, sf_dir):
    """Ranking family: top-3 orders per customer by price (deterministic
    tie-break). One shuffle on the partition key."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "lead_next_event_gap",
    """
    SELECT event_id, user_id, ts,
           epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
             - epoch_us(ts) AS next_gap_us
    FROM events
    """,
)
def q_lead_next_event_gap(spark, sf_dir):
    """lead(): time to each user's NEXT event (the forward twin of W1)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    gap = (
        F.unix_micros(nxt.cast("timestamp")) - F.unix_micros(F.col("ts").cast("timestamp"))
    ).alias("next_gap_us")
    return ev.select("event_id", "user_id", "ts", gap)


@register(
    "sliding_hour_stats",
    """
    SELECT event_id, user_id, ts,
           count(*) OVER w AS n_last_hour,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE)
                 / 100.0, 6) AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def q_sliding_hour_stats(spark, sf_dir):
    """Event-time sliding frame (RANGE BETWEEN INTERVAL): per-user trailing
    1-hour count and exact sum (scaled-long, order-free). SQL-surface form
    — the window clause runs through spark.sql over the loaded frame."""
    return spark.sql(
        """
        SELECT event_id, user_id, ts,
               count(*) OVER w AS n_last_hour,
               round(CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE)
                     / 100.0, 6) AS sum_last_hour
        FROM {events}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """,
        events=_t(spark, sf_dir, "events"),
    )


@register(
    "cumulative_purchases",
    """
    SELECT event_id, user_id, ts,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS purchases_so_far
    FROM events
    """,
)
def q_cumulative_purchases(spark, sf_dir):
    """Running per-user purchase count (cumulative integer frame)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marker = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    return ev.select(
        "event_id", "user_id", "ts", F.sum(marker).over(w).alias("purchases_so_far")
    )


@register(
    "semi_join_active_customers",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 50000)
    """,
)
def q_semi_join_active_customers(spark, sf_dir):
    """Left-semi join: customers having at least one big order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 50000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "anti_join_dormant_customers",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_anti_join_dormant_customers(spark, sf_dir):
    """Left-anti join: customers with no orders at all."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "cube_event_counts",
    """
    SELECT event_type,
           CAST(ts + INTERVAL 9 HOUR AS DATE) AS event_date_kst,
           count(*) AS n
    FROM events
    GROUP BY CUBE (event_type, event_date_kst)
    HAVING count(*) > 0
    """,
)
def q_cube_event_counts(spark, sf_dir):
    """CUBE grouping sets: counts at every (type, kst-date) subtotal level.

    Empty-relation contract: Spark's CUBE emits ZERO rows on an empty
    input — no degenerate all-NULL global row — where ANSI (and DuckDB)
    emit the () grouping set's single count-0 row.  The engine declares
    Spark's behavior (grouping sets enumerate OBSERVED groups), and the
    oracle pins it with ``HAVING count(*) > 0``: a no-op on any non-empty
    relation (every observed group counts >= 1), dropping exactly the
    empty-relation artifact (r08 --empty drift rig)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_type", local_date("ts").alias("event_date_kst"))
        .cube("event_type", "event_date_kst")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "percentile_value_by_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90
    FROM events
    WHERE isfinite(value)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_percentile_value_by_type(spark, sf_dir):
    """Exact interpolated percentiles per group (median + p90). Exact
    percentile needs the group sorted — at 100 TB prefer approx_percentile
    (t-digest sketch, map-side combinable); exact is the oracle contract
    here.  Both quantiles come from ONE ``percentile(value, array(...))``
    aggregate — a single sort buffer per group instead of two independent
    sort-based aggregates over the same column (r12 floor-creep profile:
    the two-buffer form ran 1.5x the single-buffer one at identical
    output; at 100 TB the duplicated buffer is duplicated shuffle state).

    Finite-domain declaration (r08 --nonfinite rig): interpolated
    percentiles over NaN are undefined and the engines disagree silently
    (Spark's percentile sorts NaN greatest and includes it; DuckDB's
    quantile_cont does not) — both sides restrict to finite values.
    NULLs were already ignored by the aggregate on both engines, so the
    filter is a no-op on any finite dataset."""
    ev = _t(spark, sf_dir, "events").where(
        ~F.isnan("value") & (F.abs("value") != F.lit(float("inf")))
    )
    return (
        ev.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.5D, 0.9D))").alias("__ps"))
        .select(
            "event_type",
            F.round(F.col("__ps")[0], 6).alias("p50"),
            F.round(F.col("__ps")[1], 6).alias("p90"),
        )
        .orderBy("event_type")
    )


@register(
    "nation_set_ops",
    """
    SELECT n_nationkey AS nationkey, 'both' AS tag
    FROM (SELECT c_nationkey AS n_nationkey FROM customer
          INTERSECT
          SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT n_nationkey, 'customer_only' AS tag
    FROM (SELECT c_nationkey AS n_nationkey FROM customer
          EXCEPT
          SELECT s_nationkey FROM supplier)
    """,
)
def q_nation_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT set semantics over nation keys."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = cust.intersect(supp).withColumn("tag", F.lit("both"))
    # subtract = SQL EXCEPT (set difference); exceptAll would be multiset
    only = cust.subtract(supp).withColumn("tag", F.lit("customer_only"))
    return both.union(only)


@register(
    "string_functions_parts",
    """
    SELECT p_partkey,
           upper(substr(p_name, 1, 8)) AS name_prefix,
           concat(p_brand, '#', p_type) AS brand_type,
           CAST(length(p_name) AS BIGINT) AS name_len,
           regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head
    FROM part
    """,
)
def q_string_functions_parts(spark, sf_dir):
    """Scalar string surface: substr/upper/concat/length/regexp_extract."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 8)).alias("name_prefix"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"),
    )


@register(
    "asof_last_signup",
    """
    SELECT event_id, user_id, ts,
           max(CASE WHEN event_type = 'signup' THEN ts END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS asof_ts
    FROM events
    """,
)
def q_asof_last_signup(spark, sf_dir):
    """As-of join (operator Spark lacks natively): each event picks up the
    user's most recent at-or-before signup time. Implemented with the
    general union+forward-fill asof_join — one shuffle, no range
    cross-product. The oracle states the same semantics as a single-table
    window (valid because right ⊆ left here)."""
    from sparkgraft.ops.relational import asof_join

    ev = _t(spark, sf_dir, "events")
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts"), "event_id"
    )
    joined = asof_join(
        ev,
        signups,
        on="user_id",
        left_ts="ts",
        right_ts="signup_ts",
        value_col="signup_ts",
        tiebreak=("event_id",),
        out_col="asof_ts",
    )
    return joined.select("event_id", "user_id", "ts", "asof_ts")


@register(
    "range_join_event_windows",
    """
    WITH win AS (
      SELECT event_id AS window_id, ts AS w_start, ts + INTERVAL 2 HOUR AS w_end
      FROM events
      WHERE event_type = 'purchase'
      ORDER BY value DESC, ts, event_id
      LIMIT 10
    )
    SELECT w.window_id, e.event_id, e.ts
    FROM events e JOIN win w ON e.ts >= w.w_start AND e.ts < w.w_end
    """,
)
def q_range_join_event_windows(spark, sf_dir):
    """Point-in-interval range join (operator Spark lacks natively: a bare
    inequality join plans BroadcastNestedLoopJoin). Windows = the 2 h after
    each of the 10 highest-value purchases; result = every event inside any
    window. ops/relational.range_join slab-buckets the intervals into an
    equi-join on the time slab — linear shuffle, no nested loop (plan
    gate)."""
    from sparkgraft.ops.relational import range_join

    ev = _t(spark, sf_dir, "events")
    win = top_k(
        ev.where(F.col("event_type") == "purchase"),
        [F.col("value").desc(), F.col("ts"), F.col("event_id")],
        10,
    ).select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOUR")).alias("w_end"),
    )
    return range_join(ev, win, "ts", "w_start", "w_end", slab_seconds=3600).select(
        "window_id", "event_id", "ts"
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_daily_event_types",
    """
    SELECT CAST(ts + INTERVAL 9 HOUR AS DATE) AS event_date_kst,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
    FROM events
    GROUP BY event_date_kst
    ORDER BY event_date_kst
    """,
)
def q_pivot_daily_event_types(spark, sf_dir):
    """PIVOT: daily KST counts, one column per event type. Pivot values are
    given explicitly — at scale never let pivot() run its implicit distinct
    collect over the data to discover them."""
    ev = _t(spark, sf_dir, "events")
    piv = (
        ev.select(local_date("ts").alias("event_date_kst"), "event_type")
        .groupBy("event_date_kst")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    # pivot yields NULL for empty cells; align with the oracle's count()=0
    return piv.select(
        "event_date_kst",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    ).orderBy("event_date_kst")


@register(
    "streaming_stateful_sessionize",
    _SESSIONIZE_CTE
    + """
    SELECT user_id, ts, session_id FROM sessioned
    """,
)
def q_streaming_stateful_sessionize(spark, sf_dir):
    """The custom stateful streaming operator (applyInPandasWithState) run
    over the events table as a one-shot stream (availableNow) — its
    per-event session ids must match the batch window-function
    sessionization bit-for-bit, so even the streaming path is
    oracle-checked."""

    from sparkgraft.streaming.sessions import stateful_sessionize

    import os

    work = scratch_dir("sparkgraft_stream_")
    ckpt, out, src = f"{work}/ckpt", f"{work}/out", f"{work}/src"
    # the streaming file source wants a directory of FILES — link the
    # single driver file in, or each part file when the table is itself a
    # Spark-written directory (the perf-rig caches): the file source does
    # not recurse into a linked subdirectory, it would silently see zero
    # input and never produce the sink path
    os.makedirs(src)
    # absolute target: a symlink holding a RELATIVE target string resolves
    # against the symlink's own directory, so a relative sf_dir would
    # produce broken links the file source silently lists as zero input
    ev_path = os.path.abspath(f"{sf_dir}/events.parquet")
    if os.path.isdir(ev_path):
        # walk, not listdir: a partitioned/nested directory table keeps its
        # part files below key=value subdirs, and linking zero files would
        # silently reproduce the zero-input hang this branch exists to fix
        linked = 0
        for dirpath, _dirs, files in sorted(os.walk(ev_path)):
            for part in sorted(files):
                if part.endswith(".parquet") and not part.startswith(("_", ".")):
                    os.symlink(
                        os.path.join(dirpath, part), f"{src}/part-{linked}.parquet"
                    )
                    linked += 1
        if linked == 0:
            raise FileNotFoundError(
                f"no part files found under directory table {ev_path!r} — "
                "the streaming file source would see zero input and hang"
            )
    else:
        os.symlink(ev_path, f"{src}/events.parquet")
    # stream sees the raw footer schema; like the batch reader, adapt to the
    # footer's ts encoding (INT64 nanos read as long under nanosAsLong, or
    # plain micros read as timestamp_ntz) instead of assuming either.
    from sparkgraft.io.readers import _nanos_fields

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(raw_schema).parquet(src)
    if "ts" in _nanos_fields(f"{sf_dir}/events.parquet"):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    with _stream_state_partitions(spark):
        q = (
            stateful_sessionize(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError("stateful sessionize stream did not finish in 300s")
    return spark.read.parquet(out).select(
        "user_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "session_id"
    )


@register(
    "salted_join_user_events",
    """
    WITH totals AS (SELECT user_id, count(*) AS n_events
                    FROM events GROUP BY user_id)
    SELECT e.event_id, e.user_id, t.n_events
    FROM events e JOIN totals t USING (user_id)
    ORDER BY e.event_id
    """,
)
def q_salted_join_user_events(spark, sf_dir):
    """Hot-key-proof equi-join: the big side salts deterministically on
    event_id, the small side replicates once per salt, and the join runs
    on (user_id, salt) so a bot user's rows spread over 16 reducers
    (ops/relational.salted_join). The oracle states the PLAIN join —
    salting must be invisible in the results.

    This lane pins the ALWAYS-SALTED plan; production callers should
    prefer ``salted_join_auto`` (next lane), which engages the salt only
    past the measured hotness crossover — the A/B grid shows hard-coded
    salting loses 0.76x/0.62x below it."""
    from sparkgraft.ops.relational import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    totals = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        salted_join(ev, totals, "user_id", n_salts=16, salt_source="event_id")
        .select("event_id", "user_id", "n_events")
        .orderBy("event_id")
    )


@register(
    "salted_join_auto",
    """
    WITH totals AS (SELECT user_id, count(*) AS n_events
                    FROM events GROUP BY user_id)
    SELECT e.event_id, e.user_id, t.n_events
    FROM events e JOIN totals t USING (user_id)
    ORDER BY e.event_id
    """,
)
def q_salted_join_auto(spark, sf_dir):
    """Adaptive skew defense for the equi-join
    (ops/relational.salted_join_auto), extending the ``sessionize_auto``
    precedent to the join: one column-pruned map-side-combined pass
    measures the big side's key hotness, and the salted plan engages only
    past the measured local[32] crossover (~2M rows on one key —
    SCALE_CHECK_r08 ``skew_ab``: salting loses 0.76x/0.62x below it, wins
    1.5x at 1000x).  The oracle states the PLAIN join and the same SQL as
    the always-salted lane above: whichever plan the statistic picks, the
    result must be bit-identical (also pinned on an artificially hot rig
    by the property test).  At 100 TB the statistic should come from the
    per-epoch cache (catalog.cached_key_hotness), not a per-call scan."""
    from sparkgraft.ops.relational import salted_join_auto

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    totals = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        salted_join_auto(ev, totals, "user_id", n_salts=16, salt_source="event_id")
        .select("event_id", "user_id", "n_events")
        .orderBy("event_id")
    )


@register(
    "wau_sketch_weekly",
    """
    SELECT CAST(date_trunc('week', ts) AS DATE) AS event_week,
           count(DISTINCT user_id) AS wau_exact,
           TRUE AS sketch_within_5pct
    FROM events
    GROUP BY event_week
    ORDER BY event_week
    """,
)
def q_wau_sketch_weekly(spark, sf_dir):
    """Incremental WAU from MERGEABLE daily HyperLogLog sketches: one
    aggregation of raw events into per-day sketches, then every window
    query (weekly here) unions sketch bytes instead of rescanning events
    (queries/wau.wau_sketches_daily + wau_from_sketches).

    Registered as the sketch's ERROR-AUDIT relation (round-4, verdict
    item #6): sketch encodings are engine-specific, so the raw estimate
    can never hash-match DuckDB — but the |estimate − exact| ≤ 5% claim
    is deterministic and hashable. The query computes BOTH the sketch
    path and the exact distinct, and emits (week, exact, within-tolerance
    boolean); the oracle asserts the boolean is always true. A sketch
    regression (wrong union, wrong estimator) flips the boolean and the
    driver row goes red. Accuracy is additionally pinned ±5% in
    tests/test_properties.py.

    r13 creep fix (the audit relation only — the production
    wau_sketches_daily/wau_from_sketches path is unchanged): both legs
    now share ONE distinct (event_date, user_id) relation instead of
    scanning raw events twice.  HLL insertion is duplicate-insensitive,
    so per-day sketches built from the deduped pairs carry identical
    registers to sketches built from raw events, and the exact weekly
    distinct over (date, user) pairs equals the distinct over raw rows —
    output verified row-identical; isolated warm wall 0.72 s -> 0.54 s at
    sf0.1.  The shared exchange also mirrors the 100 TB shape: the raw
    scan + (date,user) shuffle happens once, both audits read its
    output."""
    from sparkgraft.queries.wau import week_start

    ev = _t(spark, sf_dir, "events")
    day_users = ev.select(
        F.to_date("ts").alias("event_date"), "user_id"
    ).distinct()
    daily = day_users.groupBy("event_date").agg(
        F.hll_sketch_agg("user_id").alias("user_sketch")
    )
    est = (
        daily.withColumn("event_week", week_start("event_date"))
        .groupBy("event_week")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias(
                "wau_estimate"
            )
        )
    )
    exact = (
        day_users.withColumn("event_week", week_start("event_date"))
        .groupBy("event_week")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
    )
    return (
        exact.join(est, "event_week")
        .select(
            "event_week",
            "wau_exact",
            (
                F.abs(F.col("wau_estimate") - F.col("wau_exact"))
                <= 0.05 * F.col("wau_exact")
            ).alias("sketch_within_5pct"),
        )
        .orderBy("event_week")
    )


@register(
    "streaming_restart_sessionize",
    _SESSIONIZE_CTE
    + """
    SELECT user_id, ts, session_id FROM sessioned
    """,
)
def q_streaming_restart_sessionize(spark, sf_dir):
    """Checkpoint-recovery proof for the stateful streaming sessionizer:
    the events table is split at its midpoint timestamp into two stream
    batches; run 1 processes the first half to completion (availableNow),
    then a NEW query object restarts from the SAME checkpoint and
    processes the second half. Per-user session state must survive the
    restart — sessions straddling the split keep their ids — so the final
    output hash-matches the batch window-function sessionization, same
    oracle as streaming_stateful_sessionize."""

    from sparkgraft.streaming.sessions import stateful_sessionize

    work = scratch_dir("sparkgraft_restart_")
    ckpt, out, src = f"{work}/ckpt", f"{work}/out", f"{work}/src"
    # normalize ONCE via the footer-adaptive batch reader (ts ->
    # TIMESTAMP_NTZ whatever the parquet encoding), write the two split
    # batches already normalized, and stream those — the stream side then
    # has no encoding cases at all.
    raw = _t(spark, sf_dir, "events")
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).collect()[0]
    if lo is None:
        # empty source (r08 --empty drift rig): any split instant works —
        # both batches are empty and the restart machinery still runs
        import datetime

        mid = datetime.datetime(1970, 1, 1)
    else:
        mid = lo + (hi - lo) / 2
    raw_schema = raw.schema

    def _run():
        stream = spark.readStream.schema(raw_schema).parquet(src + "/*")
        with _stream_state_partitions(spark):
            q = (
                stateful_sessionize(stream)
                .writeStream.foreachBatch(
                    lambda df, _id: df.write.mode("append").parquet(out)
                )
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError(
                    "restart sessionize stream did not finish in 300s"
                )

    mid_lit = F.lit(mid.isoformat(sep=" ")).cast("timestamp_ntz")
    raw.where(F.col("ts") <= mid_lit).write.parquet(f"{src}/b1")
    _run()
    raw.where(F.col("ts") > mid_lit).write.parquet(f"{src}/b2")
    _run()
    import os as _os

    if not _os.path.exists(out):
        # zero batches fired (empty source, no part files listed): the
        # sink dir was never created — return the empty typed relation
        return spark.createDataFrame(
            [], "user_id bigint, ts timestamp_ntz, session_id string"
        )
    return spark.read.parquet(out).select(
        "user_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "session_id"
    )


@register(
    "funnel_conversion",
    """
    WITH u1 AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
      FROM events GROUP BY user_id),
    u2 AS (
      SELECT e.user_id, any_value(u1.t1) AS t1,
             min(CASE WHEN e.event_type = 'view' AND e.ts >= u1.t1
                      THEN e.ts END) AS t2
      FROM events e JOIN u1 USING (user_id) GROUP BY e.user_id),
    u3 AS (
      SELECT e.user_id, any_value(u2.t1) AS t1, any_value(u2.t2) AS t2,
             min(CASE WHEN e.event_type = 'click' AND e.ts >= u2.t2
                      THEN e.ts END) AS t3
      FROM events e JOIN u2 USING (user_id) GROUP BY e.user_id),
    u4 AS (
      SELECT e.user_id, any_value(u3.t1) AS t1, any_value(u3.t2) AS t2,
             any_value(u3.t3) AS t3,
             min(CASE WHEN e.event_type = 'purchase' AND e.ts >= u3.t3
                      THEN e.ts END) AS t4
      FROM events e JOIN u3 USING (user_id) GROUP BY e.user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(t1) AS BIGINT) AS n_signup,
           CAST(count(t2) AS BIGINT) AS n_view,
           CAST(count(t3) AS BIGINT) AS n_click,
           CAST(count(t4) AS BIGINT) AS n_purchase
    FROM u4
    """,
)
def q_funnel_conversion(spark, sf_dir):
    """Ordered-step funnel (signup -> view -> click -> purchase): per user,
    step k's completion time is the earliest step-k event AT OR AFTER the
    completion of step k-1; the output is one row of per-step user counts.

    Spark-first shape: four chained min-over-window expressions with the
    SAME (user_id, ts-range) window spec, so Catalyst plans ONE
    Exchange+Sort and stacks the Window operators on top (the range frame
    includes ts-ties, making step inclusion deterministic under equal
    timestamps); the per-user groupBy reuses the user_id hash partitioning
    (no second events-sized exchange). The naive formulation is k
    self-joins of events with itself — k corpus-sized shuffles at 100 TB;
    this is one.
    """
    from sparkgraft.ops.relational import ordered_funnel

    ev = _t(spark, sf_dir, "events")
    per_user = ordered_funnel(ev, ("signup", "view", "click", "purchase"))
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count("t1").cast("bigint").alias("n_signup"),
        F.count("t2").cast("bigint").alias("n_view"),
        F.count("t3").cast("bigint").alias("n_click"),
        F.count("t4").cast("bigint").alias("n_purchase"),
    )


@register(
    "merge_upsert_customers",
    """
    WITH upd AS (
      SELECT user_id,
             max(ts) AS last_seen,
             count(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      FROM events GROUP BY user_id)
    SELECT coalesce(c.c_custkey, u.user_id) AS custkey,
           c.c_name AS name,
           CASE WHEN c.c_custkey IS NOT NULL AND u.user_id IS NOT NULL
                THEN 'updated'
                WHEN c.c_custkey IS NOT NULL THEN 'unchanged'
                ELSE 'inserted' END AS merge_action,
           coalesce(u.n_events, 0) AS n_events,
           u.last_seen AS last_seen,
           coalesce(u.total_value, 0.0) AS total_value
    FROM customer c FULL OUTER JOIN upd u ON c.c_custkey = u.user_id
    """,
)
def q_merge_upsert_customers(spark, sf_dir):
    """MERGE INTO semantics (the CDC/upsert pattern every lakehouse engine
    exposes): a change set aggregated from events is merged into the
    customer dimension — matched keys update activity fields, unmatched
    change-set keys insert, untouched base rows pass through unchanged,
    and every row is tagged with its merge action.

    Spark-first: the change set is a partial-aggregated groupBy (exact
    decimal sum for order-invariant totals), then ONE full-outer
    shuffle join on the merge key — the same plan a Delta/Iceberg MERGE
    compiles to when the change set is too big to broadcast. At 100 TB
    the base side would additionally prune to the partitions named by the
    change-set keys (partition-overwrite sink in catalog.py); no driver
    materialization anywhere.
    """
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    upd = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count("*").alias("n_events"),
        exact_sum("value").alias("total_value"),
    )
    both = F.col("c_custkey").isNotNull() & F.col("user_id").isNotNull()
    return cust.join(upd, cust.c_custkey == upd.user_id, "full_outer").select(
        F.coalesce("c_custkey", "user_id").alias("custkey"),
        F.col("c_name").alias("name"),
        F.when(both, "updated")
        .when(F.col("c_custkey").isNotNull(), "unchanged")
        .otherwise("inserted")
        .alias("merge_action"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("last_seen"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


@register(
    "scd2_type_history",
    """
    WITH chg AS (
      SELECT user_id, ts, event_type, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    vers AS (
      SELECT user_id, event_type, ts AS effective_from, event_id
      FROM chg WHERE prev IS NULL OR prev != event_type)
    SELECT user_id, event_type, effective_from,
           lead(effective_from) OVER (PARTITION BY user_id
                                      ORDER BY effective_from, event_id)
               AS effective_to,
           lead(effective_from) OVER (PARTITION BY user_id
                                      ORDER BY effective_from, event_id)
               IS NULL AS is_current
    FROM vers
    """,
)
def q_scd2_type_history(spark, sf_dir):
    """SCD2 (slowly-changing-dimension type 2) history build: compress the
    event stream into versioned validity intervals of each user's
    event_type — a new version opens only when the type CHANGES
    (lag-based change detection), effective_to = next version's start,
    open interval flagged is_current. The standard dimension-versioning
    pattern every warehouse ETL ships.

    Spark-first: both windows partition on user_id, so the whole operator
    is ONE events-sized shuffle; the change-filter runs between them
    without re-exchanging (filters preserve partitioning). Ties are broken
    by event_id so versions are deterministic under equal timestamps.
    """
    ev = _t(spark, sf_dir, "events")
    w_ev = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = ev.withColumn("prev", F.lag("event_type").over(w_ev)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    w_ver = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w_ver)
    return chg.select(
        "user_id",
        "event_type",
        F.col("ts").alias("effective_from"),
        nxt.alias("effective_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "grouping_sets_event_margins",
    """
    SELECT event_type,
           CAST(ts + INTERVAL 9 HOUR AS DATE) AS event_date_kst,
           count(*) AS n
    FROM events
    GROUP BY GROUPING SETS ((event_type), (event_date_kst))
    """,
)
def q_grouping_sets_event_margins(spark, sf_dir):
    """Explicit GROUPING SETS — the two one-dimensional margins ONLY
    ((type), (kst-date)), a set selection neither CUBE nor ROLLUP can
    express. One scan expands to both groupings map-side (Spark's Expand
    operator), one shuffle — vs two scans + a union by hand."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_type", local_date("ts").alias("event_date_kst"))
        .groupingSets(
            [["event_type"], ["event_date_kst"]], "event_type", "event_date_kst"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "wau_wow_growth",
    """
    WITH wau AS (
      SELECT date_trunc('week', ts) AS event_week,
             count(DISTINCT user_id) AS wau
      FROM events GROUP BY 1)
    SELECT event_week, wau,
           lag(wau) OVER (ORDER BY event_week) AS prev_wau,
           round((wau - lag(wau) OVER (ORDER BY event_week))
                 / CAST(lag(wau) OVER (ORDER BY event_week) AS DOUBLE), 6)
               AS wow_growth
    FROM wau ORDER BY event_week
    """,
)
def q_wau_wow_growth(spark, sf_dir):
    """Week-over-week WAU growth: the reference's WAU query (SURVEY §2.2)
    extended with a trend column — lag over the weekly aggregate.

    The unpartitioned lag window runs on the POST-AGGREGATE relation,
    whose cardinality is the number of distinct weeks (bounded: 52/year)
    — the single-task window is over dozens of rows, not events. The
    events-sized work is the same one-shuffle distinct-count as wau_user.
    """
    ev = _t(spark, sf_dir, "events")
    wau = (
        ev.groupBy(F.date_trunc("week", "ts").alias("event_week"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    w = Window.orderBy("event_week")
    prev = F.lag("wau").over(w)
    return (
        wau.withColumn("prev_wau", prev)
        .withColumn(
            "wow_growth",
            F.round((F.col("wau") - prev) / prev.cast("double"), 6),
        )
        .orderBy("event_week")
    )


@register(
    "retention_cohorts",
    """
    WITH first_week AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM events)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INT)
               AS week_number,
           count(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN first_week f USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen week, counted
    per subsequent active week — the classic product-analytics triangle.

    Spark-first: first_week and activity both aggregate events on user_id
    (one shuffle, shared scan), the join is user-keyed (co-partitioned —
    AQE broadcasts the smaller per-user relation at low SF), and the final
    (cohort, week)-grouped count is a partial-aggregated shuffle over a
    relation already reduced to |users| * |weeks| upper-bounded rows.
    """
    ev = _t(spark, sf_dir, "events")
    wk = F.date_trunc("week", "ts")
    first_week = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    activity = ev.select("user_id", wk.alias("active_week")).distinct()
    return (
        activity.join(first_week, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_number"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_number")
    )


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    cnt AS (
      SELECT event_type, next_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type)
    SELECT event_type, next_type, n,
           round(n / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6)
               AS p
    FROM cnt ORDER BY event_type, next_type
    """,
)
def q_event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix of event types: for each
    (current, next) pair within a user's time-ordered stream, the count
    and the row-normalized transition probability — the behavioral-model
    fingerprint (and anomaly baseline) of the event stream.

    Spark-first: ONE events-sized shuffle (the user_id window for lead,
    ties broken by event_id), then a groupBy on the 25-row pair relation;
    the normalizing window runs over |event types| rows. The probability
    is one integer-over-integer IEEE division — deterministic cross-engine.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("next_type", F.lead("event_type").over(w)).where(
        F.col("next_type").isNotNull()
    )
    cnt = seq.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))
    w_norm = Window.partitionBy("event_type")
    return (
        cnt.withColumn(
            "p", F.round(F.col("n") / F.sum("n").over(w_norm).cast("double"), 6)
        )
        .orderBy("event_type", "next_type")
    )


@register(
    "value_zscore_outliers",
    """
    WITH stats AS (
      SELECT event_type,
             count(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS sq
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s / n) / sqrt(sq / n - (s / n) * (s / n)), 6) AS z
    FROM events e JOIN stats USING (event_type)
    WHERE abs((e.value - s / n) / sqrt(sq / n - (s / n) * (s / n))) > 3
    ORDER BY event_id
    """,
)
def q_value_zscore_outliers(spark, sf_dir):
    """Per-event-type z-score outlier detection (|z| > 3) — the simplest
    anomaly baseline every metrics pipeline runs.

    Mean and variance derive from EXACT decimal first/second moments
    (sum, sum-of-squares), so they are shuffle-order-invariant; the
    per-row z is then a fixed chain of IEEE ops — deterministic
    cross-engine with no float aggregation anywhere.

    Scale: the moments aggregate partial-combines map-side down to
    |event types| rows (no events-sized shuffle), broadcasts back, and the
    scoring pass is pure map work — two scans, zero big exchanges.
    """
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        exact_sum("value").alias("s"),
        exact_sum(F.col("value") * F.col("value")).alias("sq"),
    )
    z = (F.col("value") - F.col("s") / F.col("n")) / F.sqrt(
        F.col("sq") / F.col("n") - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 3)
        .select("event_id", "event_type", "value", F.round(z, 6).alias("z"))
        .orderBy("event_id")
    )


@register(
    "session_window_stats",
    _SESSIONIZE_CTE
    + """
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 300 SECOND AS session_end,
           count(*) AS n_events
    FROM sessioned
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def q_session_window_stats(spark, sf_dir):
    """Spark's built-in ``session_window`` (batch form) checked against the
    relational sessionization oracle: per (user, session) the builtin's
    [start, end) = [min ts, max ts + gap) and event count must equal what
    the lag/running-max window-function sessionizer derives — i.e. the
    engine's two session definitions (builtin operator vs composed
    windows) are provably the same. The streaming twin
    (streaming/sessions.session_counts_stream) rides the identical
    operator with a watermark; tested in test_streaming.

    Scale: session_window is ONE shuffle on user_id + a sort-based merge
    of adjacent windows — same exchange count as the window-function form.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "300 seconds"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "unpivot_lineitem_measures",
    """
    WITH long AS (
      SELECT 'l_discount' AS measure, l_discount AS value FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'l_quantity', l_quantity FROM lineitem)
    SELECT measure,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
    FROM long GROUP BY measure ORDER BY measure
    """,
)
def q_unpivot_lineitem_measures(spark, sf_dir):
    """UNPIVOT (wide -> long): melt three lineitem measure columns into
    (measure, value) rows, then aggregate per measure — the inverse of
    pivot_daily_event_types, completing the reshape surface.

    Spark-first: ``DataFrame.unpivot`` plans a single Expand over one scan
    (each input row emits 3 long rows map-side) — not 3 scans UNION'd like
    the naive (and the oracle's) formulation; the aggregate partial-
    combines to 3 rows before the only exchange. Totals are exact decimal
    sums, order-invariant.
    """
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[],
        values=["l_discount", "l_extendedprice", "l_quantity"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return (
        long.groupBy("measure")
        .agg(F.count("*").alias("n"), exact_sum("value").alias("total"))
        .orderBy("measure")
    )


@register(
    "custom_source_jsonl",
    """
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang = 'en'
    GROUP BY source ORDER BY source
    """,
)
def q_custom_source_jsonl(spark, sf_dir):
    """Custom Python DataSource end-to-end (the Spark 4 source extension
    point, io/jsonl_source.py): the documents table is materialized as
    JSONL, then scanned through the registered ``sparkgraft_jsonl`` format
    — a PARTITIONED reader (byte slabs with Hadoop line-ownership
    semantics, proven boundary-safe in tests) with the lang = 'en'
    predicate PUSHED INTO the Python scan (EqualTo pushdown; rows drop
    before reaching the engine) — and aggregated per source. The oracle
    reads the same rows straight from parquet, so the custom scan's
    correctness (no lost/duplicate lines, pushdown soundness) is
    hash-checked end-to-end.
    """
    import json

    import pyarrow.parquet as pq

    from sparkgraft.io import jsonl_source

    work = scratch_dir("sparkgraft_jsonl_")
    path = f"{work}/documents.jsonl"
    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "source", "n_chars"]
    )
    with open(path, "w") as fh:
        for rec in tbl.to_pylist():
            fh.write(json.dumps(rec) + "\n")
    jsonl_source.register(spark)
    df = (
        spark.read.format(jsonl_source.FORMAT_NAME)
        .schema("doc_id bigint, lang string, source string, n_chars bigint")
        .option("path", path)
        .option("numPartitions", "8")
        .load()
        .where(F.col("lang") == "en")
    )
    return (
        df.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("source")
    )


@register(
    "custom_sink_jsonl_roundtrip",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
)
def q_custom_sink_jsonl_roundtrip(spark, sf_dir):
    """Custom Python data SINK end-to-end: the documents table is written
    through the ``sparkgraft_jsonl`` writer (task-isolated part files,
    temp+rename commit — readers never see partial output), read back
    through the partitioned jsonl reader, and aggregated. The oracle reads
    the same rows straight from parquet, so the whole write-commit-read
    path is hash-checked: any lost task file, duplicated rename, or
    boundary-split defect changes the counts.
    """

    from sparkgraft.io import jsonl_source

    jsonl_source.register(spark)
    out = scratch_dir("sparkgraft_sink_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    docs.repartition(4).write.format(jsonl_source.FORMAT_NAME).mode(
        "overwrite"
    ).option("path", out).save()
    back = (
        spark.read.format(jsonl_source.FORMAT_NAME)
        .schema("doc_id bigint, lang string, n_chars bigint")
        .option("path", out)
        .option("numPartitions", "8")
        .load()
    )
    return (
        back.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


@register(
    "streaming_stream_join",
    """
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 300 SECOND
    ORDER BY view_id, purchase_id
    """,
)
def q_streaming_stream_join(spark, sf_dir):
    """STREAM-STREAM inner join (the remaining Structured Streaming join
    type): the view stream joins the purchase stream per user, purchases
    within [view_ts, view_ts + 5 min]. Both sides carry watermarks, so
    each side's buffered state is bounded by the watermark delay + the
    join's time bound — the constraint that makes an unbounded two-stream
    join feasible at all. Run as one-shot availableNow streams over the
    same events table split by type; the result must hash-match the batch
    range-join oracle exactly.
    """

    work = scratch_dir("sparkgraft_ssjoin_")
    out, src = f"{work}/out", f"{work}/src"
    ev = _t(spark, sf_dir, "events")
    ev.write.parquet(src)  # normalized ts for a case-free stream schema
    schema = ev.schema

    def _stream():
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
        )

    views = (
        _stream()
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        _stream()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 300 SECOND")),
    )
    with _stream_state_partitions(spark):
        q = (
            joined.writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("stream-stream join did not finish in 300s")
    return (
        spark.read.parquet(out)
        .select(
            "view_id",
            "purchase_id",
            "user_id",
            F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        )
        .orderBy("view_id", "purchase_id")
    )


@register(
    "streaming_static_enrich",
    """
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment ORDER BY segment
    """,
)
def q_streaming_static_enrich(spark, sf_dir):
    """STREAM-STATIC join (the dimension-enrichment streaming pattern):
    the event stream joins the static customer table per micro-batch —
    the static side needs no watermark and no state; Spark broadcasts it
    into each batch like any small dimension. Aggregated per market
    segment via foreachBatch into an exactly-once parquet target, then
    re-aggregated: partial per-batch counts sum to the batch-oracle totals
    because the batches partition the stream.
    """

    work = scratch_dir("sparkgraft_enrich_")
    out, src = f"{work}/out", f"{work}/src"
    ev = _t(spark, sf_dir, "events")
    ev.select("event_id", "user_id", "ts").write.parquet(src)
    static = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    stream = spark.readStream.schema(
        "event_id bigint, user_id bigint, ts timestamp_ntz"
    ).parquet(src)
    enriched = stream.join(static, stream.user_id == static.c_custkey).select(
        "event_id", "user_id", F.col("c_mktsegment").alias("segment")
    )
    with _stream_state_partitions(spark):
        q = (
            enriched.writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("stream-static enrich did not finish in 300s")
    return (
        spark.read.parquet(out)
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("segment")
    )


@register(
    "streaming_replay_dedup",
    """
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_streaming_replay_dedup(spark, sf_dir):
    """Exactly-once FROM at-least-once: the event stream is fed its entire
    input TWICE (a full replay — what a Kafka consumer restart or retried
    batch does), deduplicated in-stream on event_id (``dropDuplicates``
    state spans micro-batches), and aggregated. The result hash-matches
    the batch aggregate over the ORIGINAL events — the replay is fully
    absorbed. The watermark-bounded variant
    (streaming/dedup.dedup_within_watermark) bounds the same state by the
    lateness horizon; covered in test_streaming.
    """

    from sparkgraft.streaming.dedup import dedup_exact_stream

    work = scratch_dir("sparkgraft_replay_")
    out, src = f"{work}/out", f"{work}/src"
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    ev.write.parquet(f"{src}/b1")
    ev.write.parquet(f"{src}/b2")  # the replay
    stream = spark.readStream.schema(
        "event_id bigint, user_id bigint, event_type string"
    ).parquet(src + "/*")
    with _stream_state_partitions(spark):
        q = (
            dedup_exact_stream(stream, ["event_id"])
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("replay dedup stream did not finish in 300s")
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@register(
    "streaming_windowed_counts",
    """
    SELECT make_timestamp(CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 * 1000000)
             AS window_start,
           count(*) AS n_events,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchases
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-06'
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def q_streaming_windowed_counts(spark, sf_dir):
    """WATERMARKED tumbling-window aggregation in append mode — the
    canonical Structured Streaming op (the streaming twin of
    tumbling_15min_counts): 15-minute event-time windows with a 10-minute
    watermark; a window emits exactly once, when the watermark passes its
    end.  A far-future sentinel row advances the watermark past every real
    window so the one-shot availableNow run flushes them all (the
    sentinel's own window stays open and is never emitted — append mode's
    contract).  State is bounded by windows inside the watermark horizon:
    ~2 per key regardless of stream length — the property that makes this
    run forever on an unbounded stream.

    count(DISTINCT) is not a streaming-mergeable aggregate, so the second
    statistic is a conditional count (purchases) — the mergeable-sketch
    route for distincts is wau_sketch_weekly's.
    """

    work = scratch_dir("sparkgraft_swin_")
    out, src = f"{work}/out", f"{work}/src"
    ev = (
        _t(spark, sf_dir, "events")
        .where(
            (F.col("ts") >= F.lit("2024-01-05").cast("timestamp_ntz"))
            & (F.col("ts") < F.lit("2024-01-06").cast("timestamp_ntz"))
        )
        .select("event_id", "user_id", "event_type", "ts")
    )
    ev.write.parquet(f"{src}/b1")
    spark.createDataFrame(
        [(-1, -1, "sentinel", "2024-01-07T00:00:00")],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select(
        "event_id", "user_id", "event_type",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"),
    ).write.parquet(f"{src}/b2")
    # watermarks require TIMESTAMP (not NTZ); read_table pinned the session
    # tz to UTC, so the cast is epoch-preserving — same pattern as
    # streaming_stream_join
    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, event_type string, ts timestamp_ntz"
        )
        .parquet(src + "/*")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
    )
    agg = (
        stream.groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_type") == "purchase").cast("int"))
            .cast("bigint")
            .alias("n_purchases"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events", "n_purchases"
        )
    )
    with _stream_state_partitions(spark):
        q = (
            agg.writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("windowed-count stream did not finish in 300s")
    return (
        spark.read.parquet(out)
        .where(F.col("window_start") < F.lit("2024-01-06").cast("timestamp_ntz"))
        .select(
            F.col("window_start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "n_purchases",
        )
        .orderBy("window_start")
    )


def _window_rank_zoo_relation(spark, sf_dir):
    """Pre-sort relation of q_window_rank_zoo, SHARED with its plan gates
    (tests/test_plans.py) — the gates call THIS builder directly, so any
    edit to the shipped shape is automatically the shape graded (same
    pattern as _bucketed_join_relation; r14 measured ``sorted_output`` as
    a net LOSS on these lanes — with AQE the sampler re-executes only the
    cheap post-shuffle tail, while a lazy checkpoint forces all
    query stages eagerly at build plus a block-store copy — so the lanes
    keep the plain terminal sort and the builder split stays for the
    gates' sake)."""
    from sparkgraft.ops.windows import group_sizes, scalable_row_number

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ranked = scalable_row_number(ev, ["event_type"], ["value", "event_id"], "__rn")
    sizes = group_sizes(ev, ["event_type"])
    heads = (
        ranked.where(F.col("__rn") <= 2)
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("__rn") == 1, F.col("value"))).alias("lowest"),
            F.min(F.when(F.col("__rn") == 2, F.col("value"))).alias("__second"),
        )
    )
    return (
        ranked.join(F.broadcast(sizes), "event_type")
        .join(F.broadcast(heads), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.when(
                F.col("__n") > 1,
                (F.col("__rn") - 1).cast("double") / (F.col("__n") - 1).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("pr"),
            (F.col("__rn").cast("double") / F.col("__n").cast("double")).alias("cd"),
            "lowest",
            F.when(F.col("__rn") == 1, F.lit(None).cast("double"))
            .otherwise(F.col("__second"))
            .alias("second_lowest"),
        )
    )


@register(
    "window_rank_zoo",
    """
    SELECT event_id, event_type, value,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           first_value(value) OVER w AS lowest,
           nth_value(value, 2) OVER w AS second_lowest
    FROM events
    -- NULLS FIRST matches Spark's ascending sort default (and therefore
    -- the scalable_row_number chunk sorts the Spark side is built on);
    -- DuckDB's own default is NULLS LAST, which would silently diverge
    -- the moment a NULL value appears
    WINDOW w AS (PARTITION BY event_type ORDER BY value NULLS FIRST, event_id)
    ORDER BY event_id
    """,
)
def q_window_rank_zoo(spark, sf_dir):
    """The remaining ANSI window-function family in one relation:
    percent_rank / cume_dist (relative standing — the normalized-rank
    features scoring pipelines join back), first_value / nth_value
    (per-group reference points).  (value, event_id) ordering is total,
    so ranks and frames are deterministic.

    Re-planned (round-4, verdict item #3): the builtin forms all need
    ``PARTITION BY event_type ORDER BY ...`` — a single-task multi-TB sort
    per type at 100 TB.  Under a total ordering rank = row_number, so each
    function is closed-form from the two-level exact rank
    (ops/windows.scalable_row_number) plus two tiny broadcast relations:
    percent_rank = (rn-1)/(n-1), cume_dist = rn/n with n from per-type
    counts; first_value = the rank-1 value, nth_value(·,2) = the rank-2
    value (NULL on the first row — the default running frame hasn't
    reached row 2 yet).  Same IEEE divisions as the builtins (Spark
    evaluates (rank-1).toDouble/(n-1).toDouble), so the oracle hash is
    unchanged; plan-gated against low-cardinality ordered windows (the
    gates grade the shared _window_rank_zoo_relation builder).
    """
    return _window_rank_zoo_relation(spark, sf_dir).orderBy("event_id")


@register(
    "value_quantiles_approx",
    """
    SELECT event_type, count(*) AS n,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_value_quantiles_approx(spark, sf_dir):
    """approx_percentile p50/p90/p99 per event type — the quantile path
    that actually scales: Greenwald–Khanna sketches merge map-side in one
    partial-aggregate pass, vs the exact percentile's per-group sort.

    Registered as the sketch's ERROR-AUDIT relation (round-4, verdict
    item #6): DuckDB's approx_quantile is a t-digest with different
    outputs by design, so the raw estimates can never hash-match — but
    the rank-error contract is deterministic and hashable. GK with
    accuracy=10000 guarantees rank error ≤ n/10000, far inside a ±0.01
    quantile window, so each approx value must land between the EXACT
    percentiles at q∓0.01 (p99's upper bound is the max). The query
    computes both sides and emits the per-type booleans; the oracle
    asserts all true. A sketch regression pushes an estimate outside its
    window and the driver row goes red. |approx − exact| is additionally
    pinned in tests/test_analytics.py.
    """
    ev = _t(spark, sf_dir, "events")
    acc = 10000
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"approx_percentile(value, array(0.5, 0.9, 0.99), {acc})").alias("ap"),
        F.expr("percentile(value, array(0.49, 0.51, 0.89, 0.91, 0.98))").alias("pb"),
        F.max("value").alias("mx"),
    )
    return agg.select(
        "event_type",
        "n",
        ((F.col("ap")[0] >= F.col("pb")[0]) & (F.col("ap")[0] <= F.col("pb")[1])).alias(
            "p50_ok"
        ),
        ((F.col("ap")[1] >= F.col("pb")[2]) & (F.col("ap")[1] <= F.col("pb")[3])).alias(
            "p90_ok"
        ),
        ((F.col("ap")[2] >= F.col("pb")[4]) & (F.col("ap")[2] <= F.col("mx"))).alias(
            "p99_ok"
        ),
    ).orderBy("event_type")


@register(
    "session_window_dynamic_gap",
    """
    WITH e AS (
      SELECT user_id, ts,
             ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 15 MINUTE
                       ELSE INTERVAL 5 MINUTE END AS e_end
      FROM events),
    m AS (
      SELECT user_id, ts, e_end,
             max(e_end) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM e),
    g AS (
      SELECT user_id, ts, e_end,
             sum(CASE WHEN prev_max IS NULL OR ts >= prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM m)
    SELECT user_id,
           min(ts) AS session_start,
           max(e_end) AS session_end,
           count(*) AS n_events
    FROM g GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def q_session_window_dynamic_gap(spark, sf_dir):
    """DYNAMIC-gap session windows: ``session_window`` with a per-event
    gap EXPRESSION (purchases hold the session open 15 minutes, everything
    else 5) — interval-union semantics, where each event contributes
    [ts, ts+gap) and overlapping intervals merge.  The behavioral lane
    fixed-gap sessionize can't express: high-intent events extend
    session lifetime.

    The oracle derives the same sessions relationally: running max of
    interval ends per user, an island break wherever the next event
    starts at-or-after every previous end, prefix-sum island ids — i.e.
    the builtin operator is PROVEN equal to the composed-window
    formulation, like session_window_stats does for fixed gaps.

    Scale: one shuffle on user_id + sort-merge of adjacent windows —
    identical exchange count to the fixed-gap form; the gap expression
    is evaluated row-wise inside codegen.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    gap = F.when(F.col("event_type") == "purchase", F.lit("15 minutes")).otherwise(
        F.lit("5 minutes")
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "value_histogram",
    """
    WITH fin AS (SELECT * FROM events WHERE value IS NULL OR isfinite(value)),
    bounds AS (SELECT min(value) AS mn, max(value) AS mx FROM fin),
    binned AS (
      SELECT event_type,
             CAST(least(floor((value - mn) / ((mx - mn) / 20.0)), 19) AS BIGINT)
               AS bin,
             mn, mx
      FROM fin CROSS JOIN bounds)
    SELECT event_type, bin,
           count(*) AS n,
           round(mn + bin * ((mx - mn) / 20.0), 6) AS bin_lo,
           round(mn + (bin + 1) * ((mx - mn) / 20.0), 6) AS bin_hi
    FROM binned
    GROUP BY event_type, bin, mn, mx
    ORDER BY event_type, bin
    """,
)
def q_value_histogram(spark, sf_dir):
    """Fixed-width 20-bin histogram per event type — the equi-WIDTH
    companion to value_decile_bins' equi-depth: one pass for global
    min/max (broadcast scalar), one map-side bin assignment, one
    map-combinable count.  Bin edges are a fixed IEEE chain from the
    exact min/max, so boundaries are deterministic cross-engine; the
    least(..., 19) clamp puts value == max into the last bin (the
    standard closed-right edge case).

    Finite-domain declaration (r08 --nonfinite rig): a histogram over a
    domain containing ±inf/NaN is meaningless (width = inf, every bin
    expression NaN) and the engines disagree silently — both sides
    restrict to FINITE values (NULLs keep flowing to the NULL bin as
    before); a no-op on any finite dataset.
    """
    ev = _t(spark, sf_dir, "events").where(
        F.col("value").isNull()
        | (~F.isnan("value") & (F.abs("value") != F.lit(float("inf"))))
    )
    bounds = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    w = (F.col("mx") - F.col("mn")) / F.lit(20.0)
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.least(F.floor((F.col("value") - F.col("mn")) / w), F.lit(19))
        .cast("bigint")
        .alias("bin"),
        "mn",
        "mx",
    )
    return (
        binned.groupBy("event_type", "bin", "mn", "mx")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bin",
            "n",
            F.round(F.col("mn") + F.col("bin") * w, 6).alias("bin_lo"),
            F.round(F.col("mn") + (F.col("bin") + 1) * w, 6).alias("bin_hi"),
        )
        .orderBy("event_type", "bin")
    )


@register(
    "value_time_correlation",
    """
    WITH xy AS (
      SELECT event_type,
             CAST(CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS DOUBLE) AS x,
             value AS y
      FROM events),
    mo AS (
      SELECT event_type,
             count(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy
      FROM xy GROUP BY event_type)
    SELECT event_type, n,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS corr_time_of_day
    FROM mo ORDER BY event_type
    """,
)
def q_value_time_correlation(spark, sf_dir):
    """Pearson correlation between event value and time-of-day, per event
    type — the feature-screening statistic ("does this metric follow a
    daily cycle?").  Built-in corr() accumulates float co-moments in
    shuffle order (non-deterministic last bits), so this computes the five
    moments as EXACT decimal sums (zscore's discipline extended to
    co-moments) and derives r in one fixed IEEE chain — bit-stable under
    any partitioning, hash-equal to the oracle.

    Scale: one map-side-combinable aggregate to |event types| rows; no
    second pass, no events-sized shuffle at all.
    """
    ev = _t(spark, sf_dir, "events")
    xy = ev.select(
        "event_type",
        (F.unix_timestamp(F.col("ts").cast("timestamp")) % 86400)
        .cast("double")
        .alias("x"),
        F.col("value").alias("y"),
    )
    mo = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("x").alias("sx"),
        exact_sum("y").alias("sy"),
        exact_sum(F.col("x") * F.col("x")).alias("sxx"),
        exact_sum(F.col("y") * F.col("y")).alias("syy"),
        exact_sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return mo.select(
        "event_type", "n", F.round(r, 6).alias("corr_time_of_day")
    ).orderBy("event_type")


@register(
    "props_map_stats",
    """
    WITH kv AS (
      SELECT event_type, props, unnest(json_keys(props)) AS key FROM events)
    SELECT event_type, key,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract(props, '$.' || key) AS BIGINT)) AS BIGINT)
             AS sum_val
    FROM kv
    GROUP BY event_type, key
    ORDER BY event_type, key
    """,
)
def q_props_map_stats(spark, sf_dir):
    """MAP-type surface: the JSON props column parses into a real
    map<string,bigint> (schema-on-read for semi-structured payloads),
    explodes to (key, value) entries, and aggregates per (event_type,
    key) — the generic telemetry-attribute rollup that works for ANY key
    set without schema changes.  The oracle discovers keys the same way
    (json_keys + extract), so the parity holds as payloads evolve.

    Scale: from_json + explode are row-wise codegen; the only shuffle is
    the (type, key) aggregate, map-side combinable.  Integer value sums —
    exact under any shuffle order.
    """
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    entries = ev.select("event_type", F.explode(m).alias("key", "val"))
    return (
        entries.groupBy("event_type", "key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").cast("bigint").alias("sum_val"),
        )
        .orderBy("event_type", "key")
    )


@register(
    "asof_nearest_signup",
    """
    WITH tagged AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'signup' THEN ts END AS sig_ts
      FROM events),
    filled AS (
      SELECT event_id, user_id, ts,
             last_value(sig_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_sig,
             first_value(sig_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_sig
      FROM tagged)
    SELECT event_id, user_id, ts,
           CASE
             WHEN prev_sig IS NULL THEN next_sig
             WHEN next_sig IS NULL THEN prev_sig
             WHEN epoch_us(ts) - epoch_us(prev_sig)
                  <= epoch_us(next_sig) - epoch_us(ts) THEN prev_sig
             ELSE next_sig
           END AS nearest_signup_ts,
           CASE
             WHEN prev_sig IS NULL AND next_sig IS NULL THEN NULL
             WHEN prev_sig IS NULL THEN epoch_us(next_sig) - epoch_us(ts)
             WHEN next_sig IS NULL THEN epoch_us(ts) - epoch_us(prev_sig)
             ELSE least(epoch_us(ts) - epoch_us(prev_sig),
                        epoch_us(next_sig) - epoch_us(ts))
           END AS gap_us
    FROM filled
    ORDER BY event_id
    """,
)
def q_asof_nearest_signup(spark, sf_dir):
    """NEAREST as-of join (bidirectional): every event aligns to its
    closest signup by the same user in EITHER direction, ties broken
    backward — the sensor/series alignment semantics pandas calls
    merge_asof(direction='nearest'), which the backward-only
    asof_last_signup can't express.

    No join at all: because the probe side (signups) is a tagged SUBSET
    of the fact stream, one user-partitioned window pass computes the
    backward fill (running last) and forward fill (first over the
    following frame) simultaneously; the nearest pick is a row-local
    comparison of exact integer microseconds.  One shuffle on user_id,
    total ordering via (ts, event_id) — deterministic under ties.
    """
    ev = _t(spark, sf_dir, "events")
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "signup", F.col("ts")).alias("sig_ts"),
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    filled = tagged.select(
        "event_id",
        "user_id",
        "ts",
        F.last("sig_ts", ignorenulls=True).over(w_back).alias("prev_sig"),
        F.first("sig_ts", ignorenulls=True).over(w_fwd).alias("next_sig"),
    )
    t, p, n = (
        F.unix_micros(F.col("ts").cast("timestamp")),
        F.unix_micros(F.col("prev_sig").cast("timestamp")),
        F.unix_micros(F.col("next_sig").cast("timestamp")),
    )
    nearest = (
        F.when(F.col("prev_sig").isNull(), F.col("next_sig"))
        .when(F.col("next_sig").isNull(), F.col("prev_sig"))
        .when((t - p) <= (n - t), F.col("prev_sig"))
        .otherwise(F.col("next_sig"))
    )
    gap = (
        F.when(F.col("prev_sig").isNull() & F.col("next_sig").isNull(), F.lit(None))
        .when(F.col("prev_sig").isNull(), n - t)
        .when(F.col("next_sig").isNull(), t - p)
        .otherwise(F.least(t - p, n - t))
    )
    return filled.select(
        "event_id",
        "user_id",
        "ts",
        nearest.alias("nearest_signup_ts"),
        gap.cast("bigint").alias("gap_us"),
    ).orderBy("event_id")


@register(
    "dq_constraint_report",
    """
    SELECT 'events_type_accepted' AS check_name,
           (SELECT count(*) FROM events
            WHERE event_type NOT IN ('click','view','purchase','signup'))
               AS n_violations
    UNION ALL
    SELECT 'events_user_not_null',
           (SELECT count(*) FROM events WHERE user_id IS NULL)
    UNION ALL
    SELECT 'events_value_finite',
           (SELECT count(*) FROM events
            WHERE value IS NOT NULL AND NOT isfinite(value))
    UNION ALL
    SELECT 'embeddings_finite',
           (SELECT count(*) FROM embeddings
            WHERE len(list_filter(embedding,
                                  x -> x IS NULL OR NOT isfinite(x::DOUBLE))) > 0)
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem_qty_range',
           (SELECT count(*) FROM lineitem
            WHERE l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'orders_pk_unique',
           (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
    ORDER BY check_name
    """,
)
def q_dq_constraint_report(spark, sf_dir):
    """Data-quality constraint validation (the Deequ/dbt-test pattern):
    one report of violation counts for primary-key uniqueness, non-null,
    accepted-values, numeric-range, and referential-integrity checks
    across the star schema — the audit gate a production pipeline runs
    before publishing a partition.

    Spark-first: same-table checks share one scan via conditional
    aggregation (count + countDistinct + filtered counts in a single
    agg); the FK check is a left-anti join on the join key the tables
    would be co-bucketed on (catalog.save_bucketed -> zero-exchange).
    The accepted-values check is deliberately strict enough to fire
    (the 'error' event type counts as a violation) so the report's
    non-zero path is exercised at every SF.
    """
    ev = _t(spark, sf_dir, "events")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")

    def _row(name, df):
        return df.select(F.lit(name).alias("check_name"),
                         F.col("n").cast("bigint").alias("n_violations"))

    ev_checks = ev.agg(
        F.count(F.when(~F.col("event_type").isin("click", "view", "purchase", "signup"), 1)).alias("bad_type"),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("null_user"),
        # the gate for the IEEE-specials class (r08 --nonfinite rig): the
        # exact-decimal lanes declare a finite value domain; THIS check is
        # what detects a violation upstream instead of a mid-job ANSI
        # cast error
        F.count(
            F.when(
                F.isnan("value") | (F.abs("value") == F.lit(float("inf"))), 1
            )
        ).alias("nonfinite_value"),
    )
    # the round-9 widening of the IEEE gate: element-level specials inside
    # an embedding silently poison every cosine/PQ/k-means lane (NaN flows
    # through the dot-product fold without erroring), so the similarity
    # lanes declare a finite-vector domain (ext/simsearch.finite_vectors)
    # and THIS check is the upstream detector
    from sparkgraft.ext.simsearch import finite_vector_sql

    emb_check = (
        _t(spark, sf_dir, "embeddings")
        .agg(F.count(F.when(~F.expr(finite_vector_sql("embedding")), 1)).alias("n"))
    )
    orders_check = orders.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("n")
    )
    qty_check = li.agg(
        F.count(F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)).alias("n")
    )
    fk_check = (
        li.select("l_orderkey")
        .join(orders.select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count("*").alias("n"))
    )
    # one events scan for all three event checks: unpivot the single agg
    # row with stack() instead of unioning three selects over the same
    # aggregate (three copies of the scan+agg subplan in the r05-r10
    # shape; the fold showed the fixed cost dominating this lane)
    ev_rows = ev_checks.select(
        F.expr(
            "stack(3, 'events_type_accepted', bad_type, "
            "'events_user_not_null', null_user, "
            "'events_value_finite', nonfinite_value) "
            "AS (check_name, n)"
        )
    ).select(
        "check_name", F.col("n").cast("bigint").alias("n_violations")
    )
    report = (
        ev_rows
        .union(_row("embeddings_finite", emb_check))
        .union(_row("lineitem_fk_orders", fk_check))
        .union(_row("lineitem_qty_range", qty_check))
        .union(_row("orders_pk_unique", orders_check))
    )
    return report.orderBy("check_name")


@register(
    "dq_gated_value_rollup",
    """
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS event_day,
           count(value) AS n_values,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type, event_day
    ORDER BY event_type, event_day
    """,
)
def q_dq_gated_value_rollup(spark, sf_dir):
    """Gate-then-process: the production shape the IEEE-specials policy
    describes, with the gate actually CONSUMED (round-8 verdict #7 — the
    ``events_value_finite`` check existed but nothing ran it fail-closed).
    ``ops.dq.require_finite`` makes one column-pruned map-side-combined
    pre-pass over events.value and raises LOUDLY before the rollup's
    shuffle executes if the batch violates the declared finite domain —
    versus the ungated alternative where a single NaN surfaces as a
    mid-job ANSI cast error after the cluster already paid the scan.  On
    clean data the gate is invisible: the rollup (daily per-type exact
    value sums — the exact-decimal class the finite domain protects) is
    what the oracle hashes.  The abort path is pinned by
    tests/test_dq_gate.py on a poisoned batch."""
    from sparkgraft.ops.dq import require_finite
    from sparkgraft.ops.relational import exact_sum

    ev = require_finite(
        _t(spark, sf_dir, "events"), "value", "events_value_finite"
    )
    return (
        ev.groupBy(
            "event_type", F.to_date(F.date_trunc("day", "ts")).alias("event_day")
        )
        .agg(
            F.count("value").alias("n_values"),
            exact_sum("value").alias("sum_value"),
        )
        .orderBy("event_type", "event_day")
    )


@register(
    "pseudonymous_join",
    """
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment ORDER BY segment
    """,
)
def q_pseudonymous_join(spark, sf_dir):
    """Privacy-preserving join on PSEUDONYMIZED keys: both sides replace
    the raw user key with sha2(salt || key) before the join, so the raw
    identifier never appears in the joined relation or the shuffle files
    — the standard pattern for joining user data across trust boundaries
    (the salt is the shared secret; without it the pseudonyms are
    unlinkable). The oracle is the PLAINTEXT join: identical results
    prove pseudonymization is join-lossless (sha2 is injective on this
    key space — no silent collision-induced row inflation).

    Scale: hashing is per-row codegen'd map work; the join/shuffle
    behaves exactly as on raw keys (same cardinalities, same skew
    profile), just on 32-byte keys.
    """
    salt = "sparkgraft-demo-salt"  # shared secret: both sides must agree
    ev = _t(spark, sf_dir, "events").select(
        F.sha2(F.concat(F.lit(salt), F.col("user_id").cast("string")), 256).alias(
            "user_pseudo"
        )
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.sha2(F.concat(F.lit(salt), F.col("c_custkey").cast("string")), 256).alias(
            "cust_pseudo"
        ),
        "c_mktsegment",
    )
    return (
        ev.join(cust, ev.user_pseudo == cust.cust_pseudo)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_events"))
        .orderBy("segment")
    )


@register(
    "k_anonymity_audit",
    """
    WITH cells AS (
      SELECT c.c_nationkey, c.c_mktsegment, count(*) AS n
      FROM customer c GROUP BY c.c_nationkey, c.c_mktsegment)
    SELECT c_nationkey, c_mktsegment, n
    FROM cells WHERE n < 10
    ORDER BY c_nationkey, c_mktsegment
    """,
)
def q_k_anonymity_audit(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier (nation, segment):
    report every equivalence class with fewer than k=10 members — the
    cells where a release would risk re-identification and generalization
    or suppression is required before publishing. The release gate that
    pairs with pseudonymous_join in a privacy-preserving pipeline.

    Scale: one partial-aggregated groupBy on the quasi-identifier (the
    output relation is |QI domain|-sized, tiny), then a residual filter —
    nothing scales with the table beyond the single scan.
    """
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") < 10)
        .orderBy("c_nationkey", "c_mktsegment")
    )


@register(
    "incremental_view_merge",
    """
    SELECT CAST(ts AS DATE) AS event_date,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY CAST(ts AS DATE) ORDER BY event_date
    """,
)
def q_incremental_view_merge(spark, sf_dir):
    """Incremental materialized-view maintenance: a daily aggregate built
    from the base data is REFRESHED with a delta batch by merging partial
    aggregate states — count adds, exact-decimal sums add, min/max take
    least/greatest — instead of rescanning the base. The merged view must
    hash-match the full recompute (the oracle), which is exactly the
    property that makes the aggregate incrementally maintainable
    (avg/stddev derive from the mergeable sum/count/sumsq, same pattern
    as the HLL-sketch WAU lane for distincts).

    Scale: the nightly refresh touches |delta| rows + |affected days| view
    rows — not the 100 TB base. The split date here is a fixed literal so
    the query is deterministic.
    """
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    day = F.col("ts").cast("date").alias("event_date")

    def _partial(df):
        return df.groupBy(day).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = _partial(ev.where(F.col("ts") < cut))
    delta = _partial(ev.where(F.col("ts") >= cut))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(d, "event_date", "full_outer").select(
        "event_date",
        (F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0)))
        .alias("n_events"),
        (
            F.coalesce(F.col("b.s"), F.lit(0).cast("decimal(28,6)"))
            + F.coalesce(F.col("d.s"), F.lit(0).cast("decimal(28,6)"))
        )
        .cast("double")
        .alias("total_value"),
        F.least(F.col("b.mn"), F.col("d.mn")).alias("min_value"),
        F.greatest(F.col("b.mx"), F.col("d.mx")).alias("max_value"),
    )
    return merged.orderBy("event_date")


@register(
    "value_decile_bins",
    """
    WITH binned AS (
      SELECT event_type, value,
             -- NULLS FIRST matches Spark's ascending default; DuckDB's
             -- own default is NULLS LAST, which would silently diverge
             -- the moment a NULL value appears
             ntile(10) OVER (PARTITION BY event_type
                             ORDER BY value NULLS FIRST, event_id) AS decile
      FROM events)
    SELECT event_type, decile,
           count(*) AS n,
           -- + 0.0 canonicalizes sign-of-zero (r09 --nonfinite probe:
           -- Spark's NormalizeFloatingNumbers rewrites a -0.0 sort key to
           -- +0.0 before the range partitioner, so its min/max emit +0.0
           -- where DuckDB keeps the -0.0 bit pattern; x + 0.0 == x for
           -- every other value, so the canonicalization is exact)
           round(min(value), 6) + 0.0 AS lo,
           round(max(value), 6) + 0.0 AS hi
    FROM binned
    GROUP BY event_type, decile
    ORDER BY event_type, decile
    """,
)
def q_value_decile_bins(spark, sf_dir):
    """Equi-depth feature binning: ntile(10) deciles of value per event
    type with per-bin bounds — the discretization step feature pipelines
    run before training. event_id tiebreak makes bin assignment total-
    ordered and deterministic.

    Re-planned (round-4, verdict item #2): ``ntile(10) OVER (PARTITION BY
    event_type ORDER BY ...)`` puts each event_type — ~6 values — in ONE
    window task, a multi-TB single-task sort at 100 TB. Instead compute the
    exact global row number via the two-level range-partitioned rank
    (ops/windows.scalable_row_number: bounded chunk sorts + tiny per-chunk
    offset relation) and apply ntile's bucket arithmetic directly: with n
    rows and k buckets the first n%k buckets take ceil(n/k) rows. Output is
    bit-identical to the builtin (same oracle hash); the plan gate
    (tests/test_plans.py) asserts no ordered window partitioned by the raw
    low-cardinality key survives.
    """
    from sparkgraft.ops.windows import group_sizes, scalable_row_number

    ev = _t(spark, sf_dir, "events").select("event_type", "value", "event_id")
    ranked = scalable_row_number(ev, ["event_type"], ["value", "event_id"], "__rn")
    sized = (
        ranked.join(F.broadcast(group_sizes(ev, ["event_type"])), "event_type")
        .withColumn("__q", F.expr("__n div 10"))
        .withColumn("__rem", F.col("__n") % 10)
        .withColumn("__big", F.col("__rem") * (F.col("__q") + 1))
    )
    decile = (
        F.when(
            F.col("__rn") <= F.col("__big"),
            F.expr("(__rn - 1) div (__q + 1) + 1"),
        )
        # greatest(__q, 1): when __q = 0 every row takes the first branch
        # (__big = n), so the divisor guard only keeps the expression total
        .otherwise(F.expr("__rem + (__rn - __big - 1) div greatest(__q, 1) + 1"))
        .cast("int")
    )
    return (
        sized.withColumn("decile", decile)
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").alias("n"),
            # + 0.0: sign-of-zero canonicalization, mirrored in the oracle
            # (see the oracle comment) — makes the declared +0.0 canonical
            # zero explicit on BOTH engines instead of relying on Spark's
            # NormalizeFloatingNumbers having touched the value upstream
            (F.round(F.min("value"), 6) + F.lit(0.0)).alias("lo"),
            (F.round(F.max("value"), 6) + F.lit(0.0)).alias("hi"),
        )
        .orderBy("event_type", "decile")
    )


@register(
    "gdpr_erasure_report",
    """
    WITH tombstones AS (
      SELECT c_custkey AS subject FROM customer WHERE c_custkey % 50 = 0)
    SELECT 'customer_rows_erased' AS item,
           (SELECT count(*) FROM customer
            WHERE c_custkey IN (SELECT subject FROM tombstones)) AS n
    UNION ALL
    SELECT 'events_rows_erased',
           (SELECT count(*) FROM events
            WHERE user_id IN (SELECT subject FROM tombstones))
    UNION ALL
    SELECT 'orders_rows_erased',
           (SELECT count(*) FROM orders
            WHERE o_custkey IN (SELECT subject FROM tombstones))
    UNION ALL
    SELECT 'events_rows_retained',
           (SELECT count(*) FROM events
            WHERE user_id NOT IN (SELECT subject FROM tombstones))
    ORDER BY item
    """,
)
def q_gdpr_erasure_report(spark, sf_dir):
    """Right-to-erasure propagation: a tombstone set of data subjects
    (deterministic demo predicate: every 50th customer key) is propagated
    across every table referencing the subject — semi-join counts per
    table quantify the blast radius, the anti-join count is the retained
    set a rewrite would produce. The compliance triad closes: pseudonymize
    (pseudonymous_join), audit (k_anonymity_audit), erase (this).

    Scale: the tombstone relation is tiny and broadcasts into every
    semi/anti probe — each affected table is ONE scan with a broadcast
    filter, no table-to-table shuffle; the physical delete rides the
    partition-overwrite sink (catalog.py) on just the partitions the
    semi join names.
    """
    cust = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    tomb = cust.where(F.col("c_custkey") % 50 == 0).select(
        F.col("c_custkey").alias("subject")
    )

    def _count(name, df, key, how):
        return (
            df.join(F.broadcast(tomb), F.col(key) == F.col("subject"), how)
            .agg(F.count("*").cast("bigint").alias("n"))
            .select(F.lit(name).alias("item"), "n")
        )

    report = (
        _count("customer_rows_erased", cust, "c_custkey", "left_semi")
        .union(_count("events_rows_erased", ev, "user_id", "left_semi"))
        .union(_count("orders_rows_erased", orders, "o_custkey", "left_semi"))
        .union(_count("events_rows_retained", ev, "user_id", "left_anti"))
    )
    return report.orderBy("item")


@register(
    "rolling_7d_active_users",
    """
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    mx AS (SELECT max(d) AS mx FROM ud),
    contrib AS (
      SELECT user_id,
             CAST(unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY))
                  AS DATE) AS day
      FROM ud)
    SELECT day, count(DISTINCT user_id) AS active_7d
    FROM contrib, mx
    WHERE day <= mx
    GROUP BY day
    ORDER BY day
    """,
)
def q_rolling_7d_active_users(spark, sf_dir):
    """Exact rolling 7-day active users per day (trailing window ending at
    each day) — the sliding-MAU/WAU primitive that SQL windows can't
    express (COUNT(DISTINCT) OVER RANGE is unsupported everywhere).

    Shape: dedupe to (user, day), then each user-day CONTRIBUTES itself to
    the 7 target days it covers (explode factor = window/step = 7), then
    one count-distinct per target day.  At 100 TB this beats the 7-way
    self-join (one shuffle on day, map-side explode) and stays exact;
    the approximate path at extreme cardinality is the mergeable-sketch
    variant (wau_sketch_weekly).  The max-day scalar broadcasts into a
    1-row nested-loop prune of partial trailing windows.
    """
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    mx = ud.agg(F.max("d").alias("mx"))
    contrib = ud.select(
        "user_id", F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day")
    )
    return (
        contrib.join(F.broadcast(mx), F.col("day") <= F.col("mx"))
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("active_7d"))
        .orderBy("day")
    )


def _peak_concurrent_relation(spark, sf_dir):
    """Pre-sort relation of q_peak_concurrent_sessions, SHARED with its
    plan gate (tests/test_plans.py test_peak_concurrent_two_level_sweep);
    same rationale as _window_rank_zoo_relation."""
    ev = _t(spark, sf_dir, "events")
    starts = ev.select(F.col("ts").alias("bts"), F.lit(1).alias("delta"))
    ends = ev.select(
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("bts"),
        F.lit(-1).alias("delta"),
    )
    b = starts.unionAll(ends).withColumn("day", F.to_date("bts"))
    daily = b.groupBy("day").agg(F.sum("delta").alias("day_delta"))
    opening = daily.select(
        "day",
        F.coalesce(
            F.sum("day_delta").over(
                Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("opening"),
    )
    w_day = (
        Window.partitionBy("day")
        .orderBy(F.col("bts").asc(), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sw = b.join(F.broadcast(opening), "day").withColumn(
        "open", F.col("opening") + F.sum("delta").over(w_day)
    )
    return sw.groupBy("day").agg(
        F.max("open").cast("bigint").alias("peak_concurrent")
    )


@register(
    "peak_concurrent_sessions",
    """
    WITH b AS (
      SELECT ts AS bts, 1 AS delta FROM events
      UNION ALL
      SELECT ts + INTERVAL 5 MINUTE, -1 FROM events),
    d AS (SELECT CAST(bts AS DATE) AS day, bts, delta FROM b),
    daily AS (SELECT day, sum(delta) AS day_delta FROM d GROUP BY day),
    opening AS (
      SELECT day,
             COALESCE(sum(day_delta) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS opening
      FROM daily),
    sw AS (
      SELECT d.day,
             o.opening + sum(d.delta) OVER (
               PARTITION BY d.day ORDER BY d.bts, d.delta DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
      FROM d JOIN opening o ON d.day = o.day)
    SELECT day, CAST(max(open) AS BIGINT) AS peak_concurrent
    FROM sw GROUP BY day ORDER BY day
    """,
)
def q_peak_concurrent_sessions(spark, sf_dir):
    """Peak concurrency per day via the classic +1/-1 interval sweep: each
    event opens a 5-minute presence interval; boundaries carry +1/-1
    deltas and the running sum's daily max is the answer (capacity
    planning / license-seat sizing).

    Exactness + scale via the SAME two-level prefix-sum trick as
    pack_sequences: the heavy running sum is PARTITIONED BY day (midnight-
    crossing intervals are handed to the next day via its opening
    balance), and only the per-day totals — one row per day, bounded by
    the calendar — flow through the tiny unpartitioned window.  No global
    sort of boundaries ever happens.  Ties (+1 and -1 at the same
    instant) order +1 first, so touching intervals count as overlapping
    in both engines; per-row running sums under equal-key ties are
    order-ambiguous but the daily MAX is tie-invariant.  (The plan gate
    grades the shared _peak_concurrent_relation builder.)
    """
    return _peak_concurrent_relation(spark, sf_dir).orderBy("day")


@register(
    "attribution_linear",
    """
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts AS cts
      FROM events WHERE event_type = 'purchase'),
    touch AS (
      SELECT user_id, event_type, ts AS tts
      FROM events WHERE event_type IN ('click', 'view')),
    pairs AS (
      SELECT c.conv_id, t.event_type
      FROM conv c JOIN touch t
        ON c.user_id = t.user_id
       AND t.tts < c.cts
       AND t.tts >= c.cts - INTERVAL 7 DAY),
    cr AS (
      SELECT conv_id, event_type,
             CAST(floor(1000000.0 / count(*) OVER (PARTITION BY conv_id))
                  AS BIGINT) AS w_ppm
      FROM pairs)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS touches,
           count(DISTINCT conv_id) AS conversions_touched,
           CAST(sum(w_ppm) AS BIGINT) / 1000000.0 AS credit
    FROM cr GROUP BY event_type ORDER BY event_type
    """,
)
def q_attribution_linear(spark, sf_dir):
    """Linear multi-touch attribution: every click/view in the 7 days
    before a purchase by the same user shares the conversion credit
    equally (1/n per touch).  The marketing-analytics workhorse the
    reference's relational surface composes toward.

    Float-determinism: per-touch credit is floor(1e6/n) in INTEGER ppm —
    the integer sum is associativity-proof under any shuffle order, and
    the single final division is exact IEEE, so the double hash-matches
    the oracle (same scaled-integer pattern as q1_pricing_summary).

    Scale: equi-join on user_id with a bounded 7-day range predicate —
    shuffles both sides once on user_id; per-conversion fan-in is bounded
    by a user's 7-day touch volume.  Skewed power-users take the salted-
    join pattern (salted_join_user_events) unchanged.
    """
    ev = _t(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"), "user_id", F.col("ts").alias("cts")
    )
    touch = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id", "event_type", F.col("ts").alias("tts")
    )
    pairs = conv.join(
        touch,
        (conv.user_id == touch.user_id)
        & (F.col("tts") < F.col("cts"))
        & (F.col("tts") >= F.col("cts") - F.expr("INTERVAL 7 DAYS")),
    ).select("conv_id", "event_type")
    cr = pairs.withColumn(
        "w_ppm",
        F.floor(F.lit(1000000.0) / F.count(F.lit(1)).over(Window.partitionBy("conv_id")))
        .cast("bigint"),
    )
    return (
        cr.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("touches"),
            F.count_distinct("conv_id").alias("conversions_touched"),
            (F.sum("w_ppm").cast("bigint") / F.lit(1000000.0)).alias("credit"),
        )
        .orderBy("event_type")
    )


#: PageRank iteration count / damping / fixed-point scale shared by the
#: Spark loop and the generated oracle — integer micro-units (1e12) make the
#: per-iteration sums associativity-proof, so 10 chained iterations still
#: hash-match bit-for-bit (same scaled-integer discipline as
#: q1_pricing_summary / attribution_linear).
_PR_ITERS = 10
_PR_SCALE = "1000000000000.0"


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration weighted-PageRank oracle.

    Recursive CTEs can't carry aggregation in the recursive term (ANSI +
    DuckDB restriction), so the 10 iterations are UNROLLED into chained
    CTEs by this generator — same trick as _e2e_oracle's staged funnel.
    Every arithmetic step mirrors the Spark expression left-to-right so
    the doubles agree exactly: contributions are floor()'d to BIGINT
    before summing (order-invariant), and only the final rank is divided
    back to a double.
    """
    iters = []
    for k in range(_PR_ITERS):
        iters.append(
            f"""
    it{k + 1} AS (
      SELECT n.node,
             base.b + COALESCE(s.contrib, 0) AS r
      FROM nodes n CROSS JOIN base
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(sum(CAST(floor(0.85 * CAST(p.r AS DOUBLE) * e.wf) AS BIGINT))
                    AS BIGINT) AS contrib
        FROM it{k} p JOIN edges e ON e.src = p.node
        GROUP BY e.dst) s ON n.node = s.node)"""
        )
    return f"""
    WITH rev AS (
      SELECT sn.n_name AS src, cn.n_name AS dst,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
               AS rev_cents
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      GROUP BY sn.n_name, cn.n_name),
    edges AS (
      SELECT src, dst,
             CAST(rev_cents AS DOUBLE)
               / CAST(sum(rev_cents) OVER (PARTITION BY src) AS DOUBLE) AS wf
      FROM rev),
    nodes AS (SELECT n_name AS node FROM nation),
    nn AS (SELECT count(*) AS n FROM nodes),
    base AS (SELECT CAST(floor(0.15 * {_PR_SCALE} / CAST(n AS DOUBLE)) AS BIGINT)
                    AS b FROM nn),
    it0 AS (SELECT node, CAST(floor({_PR_SCALE} / CAST(n AS DOUBLE)) AS BIGINT)
                   AS r FROM nodes, nn),{",".join(iters)}
    SELECT node, r AS rank_scaled, r / {_PR_SCALE} AS rank
    FROM it{_PR_ITERS}
    ORDER BY rank_scaled DESC, node
    """


def _trade_pagerank_relation(spark, sf_dir):
    """Pre-sort relation of q_trade_pagerank, SHARED with its plan gate
    (tests/test_plans.py test_trade_pagerank_edges_materialized_once);
    same rationale as _window_rank_zoo_relation."""

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst")
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .groupBy("src", "dst")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("rev_cents")
        )
    )
    edges = materialize(rev.select(
        "src",
        "dst",
        (
            F.col("rev_cents").cast("double")
            / F.sum("rev_cents").over(Window.partitionBy("src")).cast("double")
        ).alias("wf"),
    ))
    # the checkpoint preserves the build's shuffle partitioning; when the
    # edge relation is small (count is free — it's materialized), collapse
    # it so 10 iterations don't each schedule |shuffle partitions| near-
    # empty tasks.  A billion-edge graph keeps its partitioning.
    if edges.count() < 100_000:
        edges = edges.coalesce(1)
    nodes = nation.select(F.col("n_name").alias("node"))
    n_nodes = nodes.count()
    base = int(math.floor(0.15 * float(_PR_SCALE) / float(n_nodes)))
    ranks = nodes.select(
        "node",
        F.lit(int(math.floor(float(_PR_SCALE) / float(n_nodes))))
        .cast("bigint")
        .alias("r"),
    )
    # per-iteration dangling-node floor as a UNION instead of a second
    # (nodes LEFT JOIN contrib) join: every node contributes a 0 row, so
    # groupBy-sum yields base + sum(contribs) for contributing nodes and
    # base + 0 for dangling ones — bigint sums are identical to the
    # coalesce form, and every edge dst is a nation so the node set
    # matches.  Saves one join (a broadcast build + probe) per iteration;
    # the remaining per-iteration shuffle keys on node both rounds, so
    # co-partitioning still carries (r14, guide §2.4).
    zero_rows = nodes.select("node", F.lit(0).cast("bigint").alias("c"))
    for _ in range(_PR_ITERS):
        contribs = ranks.join(edges, ranks.node == edges.src).select(
            F.col("dst").alias("node"),
            F.floor(F.lit(0.85) * F.col("r").cast("double") * F.col("wf"))
            .cast("bigint")
            .alias("c"),
        )
        ranks = (
            contribs.unionByName(zero_rows)
            .groupBy("node")
            .agg((F.lit(base) + F.sum("c")).cast("bigint").alias("r"))
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_scaled"),
        (F.col("r") / F.lit(float(_PR_SCALE))).alias("rank"),
    )


@register("trade_pagerank", _pagerank_oracle())
def q_trade_pagerank(spark, sf_dir):
    """Weighted PageRank (d=0.85, 10 fixed iterations) over the nation
    trade graph: supplier-nation → customer-nation edges weighted by
    revenue share — the iterative-graph-algorithm lane (centrality /
    influence scoring) the DataFrame API covers without GraphX.

    Exact cross-engine parity for an ITERATIVE float algorithm: ranks live
    in integer micro-units; each edge contribution floor()s an identical
    left-associated double expression to a BIGINT, so per-iteration sums
    are shuffle-order-invariant and 10 iterations stay bit-identical.

    Scale: the edge relation (≤|nations|², here ≤625 rows) is built ONCE
    from the q5-shaped join and materialized — the big join never
    re-executes across iterations, and lineage stays O(1).  Each iteration
    is one equi-join ranks⋈edges on src + one groupBy dst; on a billion-
    edge graph both shuffle on the same key, so co-partitioning carries
    across iterations (AQE reuses the exchange).  Dangling nodes keep the
    (1-d)/N floor; their out-mass leak is the standard 'leaky' variant,
    mirrored exactly by the oracle.

    (The plan gate grades the shared _trade_pagerank_relation builder.)
    """
    return _trade_pagerank_relation(spark, sf_dir).orderBy(
        F.col("rank_scaled").desc(), "node"
    )


@register(
    "timeseries_gapfill",
    """
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx FROM events),
    days AS (
      SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds),
    users AS (SELECT DISTINCT user_id FROM events),
    grid AS (SELECT user_id, day FROM users, days),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             count(*) AS n, max(value) AS mx_v
      FROM events GROUP BY 1, 2)
    SELECT g.user_id, g.day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events,
           last_value(d.mx_v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_seen_peak
    FROM grid g LEFT JOIN daily d USING (user_id, day)
    ORDER BY g.user_id, g.day
    """,
)
def q_timeseries_gapfill(spark, sf_dir):
    """Calendar densification + gap-fill: a complete user × day grid over
    the observed date range, daily event counts zero-filled, and the
    last-seen daily peak value forward-filled across silent days — the
    resample/ffill step every time-series feature pipeline runs before
    training (sequence models want dense, aligned series).

    max(value) (not sum) is the carried statistic, so every number is
    shuffle-order-invariant — no float-sum hazard.  Scale: the grid is
    |users| × |days| (generated, never shuffled: sequence+explode on the
    broadcast date bounds); the ffill window partitions BY USER, ordered
    by the bounded calendar — thousands of rows per partition at most.
    The left join hits the grid's own (user, day) partitioning.
    """
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("mn"), F.max(F.to_date("ts")).alias("mx")
    )
    days = bounds.select(
        F.explode(F.sequence("mn", "mx")).alias("day")
    )
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(days))
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"), F.max("value").alias("mx_v")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
            F.last("mx_v", ignorenulls=True).over(w).alias("last_seen_peak"),
        )
        .orderBy("user_id", "day")
    )


# ---------------------------------------------------------------------------
# The reference's signature ETL, end-to-end as ONE driver-hashed lane
# (SURVEY §2.11 composition S1+F1+sessionize+S5/S6; reference
# transformer/DataLoadTransformer.scala:22-92)
# ---------------------------------------------------------------------------

_ETL_ROUNDTRIP_ORACLE = """
    -- batch-equals-incremental: the oracle sessionizes the WHOLE
    -- two-month CSV corpus in one pass; the Spark side materializes the
    -- same corpus as month-keyed CSVs, runs TWO separate backfills
    -- through the full reference pipeline (explicit-schema CSV read ->
    -- 'yyyy-MM-dd HH:mm:ss UTC' parse -> KST partition date -> carryover
    -- frontier continuity -> 5-min sessionize -> KST/UTC edge
    -- preservation -> staging + dynamic partition overwrite) and reads
    -- the curated table back.  Equality certifies the incremental
    -- machinery reproduces batch semantics: a broken frontier splits the
    -- engineered 23:58->00:01 boundary sessions, a broken edge
    -- preservation drops month-1 rows from the KST 02-01 partition, a
    -- non-idempotent overwrite duplicates rows -- all hash mismatches
    -- each month extract keeps ONLY rows inside its labeled month: a
    -- month-keyed file that contains out-of-range timestamps (the drift
    -- rig's epoch-0/1987 perturbations) is not a month extract, and
    -- incremental-vs-batch equivalence is only claimed for the
    -- reference's actual input contract (monthly files hold that
    -- month's rows)
    WITH m1 AS (
      SELECT ts + INTERVAL 1 DAY AS raw_ts, event_id, user_id,
             event_type, value
      FROM events WHERE event_id % 2 = 0
        AND ts + INTERVAL 1 DAY >= TIMESTAMP '2024-01-01'
        AND ts + INTERVAL 1 DAY <  TIMESTAMP '2024-02-01'),
    m2 AS (
      SELECT ts + INTERVAL 31 DAY AS raw_ts, event_id, user_id,
             event_type, value
      FROM events WHERE event_id % 2 = 1 AND EXTRACT(day FROM ts) <= 28
        AND ts + INTERVAL 31 DAY >= TIMESTAMP '2024-02-01'
        AND ts + INTERVAL 31 DAY <  TIMESTAMP '2024-03-01'),
    base AS (
      SELECT date_trunc('second', raw_ts) AS ts,
             CAST(user_id AS VARCHAR) AS user_id,
             event_type,
             CAST(COALESCE(FLOOR(value), 0) AS INT) AS price,
             'p' || CAST(event_id % 997 AS VARCHAR) AS product_id,
             CASE WHEN event_id % 3 = 0 THEN NULL
                  ELSE 'b' || CAST(event_id % 11 AS VARCHAR) END AS brand,
             'c' || CAST(event_id % 13 AS VARCHAR) AS category_id,
             CASE WHEN event_id % 5 = 0 THEN NULL
                  ELSE 'cat.' || CAST(event_id % 7 AS VARCHAR)
             END AS category_code
      FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2)),
    boundary AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS user_id
      FROM events WHERE user_id % 10 = 0),
    synth AS (
      SELECT TIMESTAMP '2024-01-31 23:58:00' AS ts, user_id,
             'view' AS event_type, 1 AS price, 'p0' AS product_id,
             CAST(NULL AS VARCHAR) AS brand, 'c0' AS category_id,
             CAST(NULL AS VARCHAR) AS category_code
      FROM boundary
      UNION ALL
      SELECT TIMESTAMP '2024-02-01 00:01:00', user_id, 'view', 1, 'p0',
             NULL, 'c0', NULL
      FROM boundary),
    raw AS (
      SELECT ts, user_id, event_type, price, product_id, brand,
             category_id, category_code
      FROM base
      UNION ALL
      SELECT ts, user_id, event_type, price, product_id, brand,
             category_id, category_code
      FROM synth),
    lagged AS (
      SELECT *, lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_type, product_id
             ) AS prev_ts
      FROM raw),
    flagged AS (
      SELECT *, (prev_ts IS NULL OR ts >= prev_ts + INTERVAL 300 SECOND)
             AS is_new
      FROM lagged),
    sessioned AS (
      SELECT *, sha256(user_id || '#' ||
               CAST(epoch_us(max(CASE WHEN is_new THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_type, product_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 AS VARCHAR)
             ) AS session_id
      FROM flagged)
    SELECT CAST(ts + INTERVAL 9 HOUR AS DATE) AS event_date_kst,
           ts AS event_ts_utc, event_type, session_id, user_id,
           price, product_id, brand, category_id, category_code
    FROM sessioned
    ORDER BY user_id, event_ts_utc, event_type, product_id
"""


@register("etl_user_activity_roundtrip", _ETL_ROUNDTRIP_ORACLE)
def q_etl_user_activity_roundtrip(spark, sf_dir):
    """The reference's CSV->curated ETL, driver-proven END TO END — the
    r11 verdict's item #2 (the one §2 composition previously proven only
    by pytest).  In-lane fixture materialization (the
    custom_sink_jsonl_roundtrip precedent): the events table is rendered
    into the reference's raw clickstream format ('yyyy-MM-dd HH:mm:ss
    UTC' text timestamps, string user ids, nullable brand/category_code)
    as TWO month-keyed CSV directories — the testdata spans one month,
    so the even-event_id half ships as 2024-01 (+1 day) and the odd half
    as 2024-02 (+31 days, day<=28 so leap-February holds it) — plus
    engineered boundary rows for every user_id % 10 == 0 user at
    2024-01-31 23:58:00 and 2024-02-01 00:01:00 (180 s apart: ONE
    session iff cross-batch continuity works).

    The two months then load as SEPARATE backfills through
    pipelines.user_activity.load_months against an isolated table spec:
    month 2's run start exercises the carryover frontier (reference
    DataLoadTransformer.scala:111-131), its KST edge date 2024-02-01
    holds month 1's UTC-evening rows which dynamic overwrite would
    delete without edge preservation (UserActivityHiveConnector:28-42),
    and the staging + dynamic INSERT OVERWRITE path commits both loads
    (HiveConnector:34-57); the month-2 backfill then RERUNS verbatim, so
    the hash additionally certifies idempotency (reference README:5-8 —
    reloading a month is byte-identical).  The oracle sessionizes the
    whole corpus in ONE batch — the reference's core claim is exactly
    that incremental equals batch, and the driver hash certifies it
    relation-wide.

    Scale posture: the CSV materialization is a scan + map (no shuffle);
    each load shuffles its month once for the sessionize window and
    broadcast-joins the per-user frontier sliver; dynamic overwrite
    touches only the loaded partitions.  At 100 TB the month CSVs arrive
    pre-partitioned and everything else is unchanged."""
    import atexit
    import time
    from dataclasses import replace as _dc_replace

    from sparkgraft import catalog
    from sparkgraft.pipelines import user_activity as ua

    ev = _t(spark, sf_dir, "events")
    # each month extract keeps ONLY rows inside its labeled month — the
    # reference's input contract (a month file holds that month's rows);
    # without this, drift-perturbed epoch-0 timestamps ride into the
    # 2024-02 file and the incremental-vs-batch claim stops being
    # well-defined (caught by the r12 drift audit)
    m1 = (
        ev.where(F.col("event_id") % 2 == 0)
        .withColumn(
            "raw_ts", F.col("ts").cast("timestamp") + F.expr("INTERVAL 1 DAY")
        )
        .where(
            (F.col("raw_ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("raw_ts") < F.lit("2024-02-01").cast("timestamp"))
        )
    )
    m2 = (
        ev.where((F.col("event_id") % 2 == 1) & (F.dayofmonth("ts") <= 28))
        .withColumn(
            "raw_ts", F.col("ts").cast("timestamp") + F.expr("INTERVAL 31 DAY")
        )
        .where(
            (F.col("raw_ts") >= F.lit("2024-02-01").cast("timestamp"))
            & (F.col("raw_ts") < F.lit("2024-03-01").cast("timestamp"))
        )
    )

    def raw_cols(df: DataFrame) -> DataFrame:
        # column ORDER matches RAW_USER_EVENT_SCHEMA (explicit-schema CSV
        # reads bind positionally)
        return df.select(
            F.concat(
                F.date_format("raw_ts", "yyyy-MM-dd HH:mm:ss"), F.lit(" UTC")
            ).alias("event_time"),
            F.col("event_type"),
            F.concat(F.lit("p"), (F.col("event_id") % 997).cast("string")).alias(
                "product_id"
            ),
            F.concat(F.lit("c"), (F.col("event_id") % 13).cast("string")).alias(
                "category_id"
            ),
            F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("string"))
            .otherwise(
                F.concat(F.lit("cat."), (F.col("event_id") % 7).cast("string"))
            )
            .alias("category_code"),
            F.when(F.col("event_id") % 3 == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("b"), (F.col("event_id") % 11).cast("string")))
            .alias("brand"),
            F.coalesce(F.floor("value"), F.lit(0)).cast("int").alias("price"),
            F.col("user_id").cast("string").alias("user_id"),
            F.lit("s").alias("user_session"),
        )

    boundary = (
        ev.where(F.col("user_id") % 10 == 0)
        .select(F.col("user_id").cast("string").alias("user_id"))
        .distinct()
    )

    def synth(ts_text: str) -> DataFrame:
        return boundary.select(
            F.lit(ts_text + " UTC").alias("event_time"),
            F.lit("view").alias("event_type"),
            F.lit("p0").alias("product_id"),
            F.lit("c0").alias("category_id"),
            F.lit(None).cast("string").alias("category_code"),
            F.lit(None).cast("string").alias("brand"),
            F.lit(1).alias("price"),
            F.col("user_id"),
            F.lit("s").alias("user_session"),
        )

    raw_dir = scratch_dir("sparkgraft_etl_raw_")
    # the two month fixtures are independent jobs — submit them from two
    # driver threads so the second's tasks back-fill the first's tail
    # (guide §2.6 'overlap independent jobs'); contents are unchanged
    from concurrent.futures import ThreadPoolExecutor

    def _write_month(args):
        month_df, ts_text, fname = args
        month_df.unionByName(synth(ts_text)).write.option("header", True).csv(
            f"{raw_dir}/{fname}"
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(
            pool.map(
                _write_month,
                [
                    (raw_cols(m1), "2024-01-31 23:58:00", "2024-Jan.csv"),
                    (raw_cols(m2), "2024-02-01 00:01:00", "2024-Feb.csv"),
                ],
            )
        )

    spec = _dc_replace(
        ua.USER_ACTIVITY, name=f"user_activity_etl_{time.time_ns()}"
    )
    ua.load_months(spark, raw_dir, ["2024-01"], spec)
    ua.load_months(spark, raw_dir, ["2024-02"], spec)
    # rerun the SECOND backfill verbatim: the reference's README headline
    # claim is that reloading a month is byte-identical (dynamic overwrite
    # replaces the same partitions with the same content; the frontier
    # window [boundary-gap, boundary) sees only month-1 rows, so the
    # re-sessionization reproduces the same ids; the edge-preserved
    # month-1 rows ride through again).  A duplicated row, a dropped edge
    # row, or a drifted session id after the rerun breaks the driver hash
    # — idempotency driver-proven, not just pytest-proven.
    ua.load_months(spark, raw_dir, ["2024-02"], spec)

    def _drop_etl_table(sess=spark, name=spec.name):
        # process-exit cleanup (round-12 verdict item #1): the returned
        # DataFrame is lazy, so the table must outlive this function —
        # drop it (and its warehouse dir) when the process exits instead
        # of accreting one user_activity_etl_<ns> table per bench run.
        try:
            sess.sql(f"DROP TABLE IF EXISTS {name}")
        except Exception:
            pass  # session already stopped at interpreter exit

    atexit.register(_drop_etl_table)
    return catalog.read_table(spark, spec).orderBy(
        "user_id", "event_ts_utc", "event_type", "product_id"
    )


# extension operators (dedup / simsearch / text / multimodal) and the wider
# TPC-H-shaped surface register on import — keep at the bottom so `register`
# exists first.
from sparkgraft import registry_ext  # noqa: E402,F401  (registration side effect)
from sparkgraft import registry_tpch  # noqa: E402,F401  (registration side effect)
from sparkgraft import registry_corpus  # noqa: E402,F401  (registration side effect)


@register(
    "value_median_exact",
    """
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
      WHERE value IS NOT NULL)
    SELECT event_type,
           round(avg(value), 6) AS median_value,
           CAST(max(n) AS BIGINT) AS n
    FROM r
    WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_value_median_exact(spark, sf_dir):
    """EXACT per-type median at scale — the aggregate everyone wants and
    almost everyone approximates, because both classic exact routes fail
    at 100 TB: ``percentile()`` buffers every group value in one aggregator
    and an ordered window over a ~6-value key is a multi-TB single-task
    sort. The two-level exact rank (ops/windows.scalable_row_number) fixes
    it: bounded chunk sorts give the exact global row number, the median is
    then the 1-2 middle-ranked rows per type — a filter plus a tiny
    aggregate. Even n averages ranks (n+1) div 2 and n div 2 + 1; odd n
    selects the same row twice, so one avg expression covers both (the
    two-value IEEE mean is order-free, bit-identical cross-engine).
    The approximate companion is value_quantiles_approx (GK sketch).
    """
    from sparkgraft.ops.windows import group_sizes, scalable_row_number

    # a median is over the OBSERVED values: NULLs are excluded up front on
    # both engines (ranking them would also diverge — Spark orders NULLS
    # FIRST ascending, DuckDB NULLS LAST)
    ev = (
        _t(spark, sf_dir, "events")
        .select("event_type", "value", "event_id")
        .where(F.col("value").isNotNull())
    )
    ranked = scalable_row_number(ev, ["event_type"], ["value", "event_id"], "__rn")
    return (
        ranked.join(F.broadcast(group_sizes(ev, ["event_type"])), "event_type")
        .where(
            (F.col("__rn") == F.expr("(__n + 1) div 2"))
            | (F.col("__rn") == F.expr("__n div 2 + 1"))
        )
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 6).alias("median_value"),
            F.max("__n").cast("bigint").alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "streaming_session_window",
    _SESSIONIZE_CTE
    + """
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 300 SECOND AS session_end,
           count(*) AS n_events
    FROM sessioned
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def q_streaming_session_window(spark, sf_dir):
    """Built-in ``session_window`` under Structured Streaming — the
    watermark-merged STATEFUL form of session_window_stats (whose batch
    twin this must hash-match): per-user 5-minute-gap sessions grow/merge
    in state as micro-batches arrive and emit exactly once, when the
    watermark passes their end.  A far-future sentinel row (user -1)
    advances the final watermark past every real session so the one-shot
    availableNow run flushes them all; the sentinel's own open session is
    never emitted (append-mode contract) and is excluded defensively.

    State is bounded by OPEN sessions inside the watermark horizon —
    ~1 per active user regardless of stream length — which is what lets
    this run forever on an unbounded stream; the batch oracle is the same
    relational running-max/island derivation that proves the builtin's
    semantics in session_window_stats.
    """

    work = scratch_dir("sparkgraft_ssw_")
    out, src = f"{work}/out", f"{work}/src"
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    mx = ev.agg(F.max("ts")).collect()[0][0]
    if mx is None:
        # empty source (r08 --empty drift rig): the sentinel still streams
        # (one row, user -1, excluded from output), so the machinery runs
        # end-to-end and emits the empty relation
        import datetime

        mx = datetime.datetime(1970, 1, 1)
    ev.write.parquet(f"{src}/b1")
    spark.createDataFrame(
        [(-1,)], "user_id bigint"
    ).select(
        "user_id",
        (F.lit(mx) + F.expr("INTERVAL 1 DAY")).cast("timestamp_ntz").alias("ts"),
    ).write.parquet(f"{src}/b2")
    # watermarks require TIMESTAMP (not NTZ); the session tz is pinned UTC
    # by read_table, so the cast is epoch-preserving
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp_ntz")
        .parquet(src + "/*")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
    )
    agg = (
        stream.groupBy(F.session_window("ts", "300 seconds"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )
    with _stream_state_partitions(spark):
        q = (
            agg.writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("session-window stream did not finish in 300s")
    return (
        spark.read.parquet(out)
        .where(F.col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    )


@register(
    "streaming_state_inspect",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n
    FROM events
    WHERE ts >= TIMESTAMP '1970-01-01 00:00:00'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_streaming_state_inspect(spark, sf_dir):
    """Spark 4 state-store READER (`spark.read.format("statestore")`) —
    operational introspection of a streaming checkpoint, the capability a
    production shop uses to debug watermark/eviction behavior without
    replaying the stream.

    Harness: a watermarked tumbling-hour aggregation runs availableNow
    over the events table with a 100-year watermark delay (pre-epoch
    drift-rig timestamps sit ~54 years before the live data's max ts, so
    a 10-year delay silently EVICTED their windows from state — the rig
    caught the state read under-counting), so NO window
    ever crosses the watermark and the final state store holds the
    complete merged aggregate (the sink sees update-mode deltas only). Reading the
    checkpoint back must therefore reproduce the batch GROUP BY exactly —
    which is what the oracle checks. Eviction semantics stay proven by
    streaming_windowed_counts (sentinel-flushed append mode); this query
    pins the dual: un-evicted state is lossless and externally readable.

    Scale: the state reader is a parquet-like scan of the HDFS state
    store (one partition per shuffle partition) — no replay, no shuffle
    beyond the final sort.
    """

    work = scratch_dir("sparkgraft_stinsp_")
    src, ckpt = f"{work}/src", f"{work}/ckpt"
    # PRE-EPOCH event times are a hard Spark Structured Streaming
    # boundary, not a delay-tuning problem: the event-time watermark
    # initializes at epoch 0, so a first-batch row before 1970-01-01 is
    # already below-watermark on arrival and silently dropped as late —
    # no delay setting can admit it (r08 drift rig, negative-epoch
    # timestamps).  The lane declares the boundary: both the streamed
    # input and the oracle filter to ts >= epoch, so the hash still
    # certifies state-read losslessness over every admissible row.
    _t(spark, sf_dir, "events").select("event_type", "ts").where(
        F.col("ts") >= F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    ).write.parquet(src)
    agg = (
        spark.readStream.schema("event_type string, ts timestamp_ntz")
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "36500 days")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with _stream_state_partitions(spark):
        q = (
            # UPDATE mode (not append): with a never-advancing watermark an
            # append batch emits zero rows, and an empty sink plan can
            # short-circuit to zero tasks — leaving the stateStoreSave
            # operators uncommitted and failing Spark 4's per-batch commit
            # validation. Update mode emits every changed key, so the noop
            # write always executes the full plan and every store commits.
            agg.writeStream.foreachBatch(
                lambda df, _id: df.write.format("noop").mode("overwrite").save()
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("state-inspect stream did not finish in 300s")
    state = spark.read.format("statestore").option("path", ckpt).load()
    return state.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.event_type").alias("event_type"),
        # the state VALUE schema carries the aggregation buffer's internal
        # field name ("count"), not the query alias
        F.col("value.count").alias("n"),
    ).orderBy("window_start", "event_type")


@register(
    "custom_stream_jsonl_counts",
    """
    SELECT event_type, count(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_custom_stream_jsonl_counts(spark, sf_dir):
    """Custom Python STREAMING DataSource end-to-end (Spark 4
    SimpleDataSourceStreamReader, io/jsonl_source.JsonlSimpleStreamReader):
    the events table is materialized as three JSONL chunk files, streamed
    through the registered format one file per micro-batch (offset = last
    file-name watermark, replayable via readBetweenOffsets), appended to parquet by
    foreachBatch, and aggregated. The oracle reads the same rows straight
    from parquet, so exactly-once delivery across the three micro-batches
    is hash-checked: any dropped or replayed file changes the counts.

    processAllAvailable (not availableNow) drains the stream: the simple
    reader prefetches one batch at a time, so availableNow would stop
    after the first file.
    """
    import os

    import pyarrow.parquet as pq

    from sparkgraft.io import jsonl_source

    work = scratch_dir("sparkgraft_jstream_")
    src, out, ckpt = f"{work}/src", f"{work}/out", f"{work}/ckpt"
    os.makedirs(src)
    # vectorized fixture render: pandas to_json(lines=True) emits
    # JSON-PARSE-EQUIVALENT {"event_id": N, "event_type": "..."} records
    # to the previous per-record json.dumps loop (same keys/values; the
    # BYTES differ — to_json is separator-compact and escapes '/' where
    # json.dumps does not), in C instead of ~100k Python
    # dict->dumps->write iterations on the driver (guide §4.2 — hand
    # whole batches to vectorized libraries).  The stream parses records,
    # so lane output is unchanged; do not add a raw-bytes fixture check.
    pdf = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_id", "event_type"]
    ).to_pandas()
    for i in range(3):
        sub = pdf[pdf["event_id"] % 3 == i]
        sub.to_json(
            f"{src}/chunk{i}.jsonl", orient="records", lines=True, force_ascii=True
        )
    jsonl_source.register(spark)
    stream = (
        spark.readStream.format(jsonl_source.FORMAT_NAME)
        .schema("event_id bigint, event_type string")
        .option("path", src)
        .load()
    )
    with _stream_state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "scd2_point_in_time_lookup",
    """
    WITH chg AS (
      SELECT user_id, ts, event_type, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    vers AS (
      SELECT user_id, event_type, ts AS effective_from, event_id,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS effective_to
      FROM (SELECT * FROM chg WHERE prev IS NULL OR prev != event_type)),
    p AS (
      SELECT event_id, user_id, ts, ts - INTERVAL 1 HOUR AS asof_ts
      FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts,
           v.event_type AS type_asof_1h_ago,
           v.effective_from AS version_from
    FROM p LEFT JOIN vers v
      ON v.user_id = p.user_id
     AND v.effective_from <= p.asof_ts
     AND (v.effective_to IS NULL OR p.asof_ts < v.effective_to)
    ORDER BY p.event_id
    """,
)
def q_scd2_point_in_time_lookup(spark, sf_dir):
    """Point-in-time dimension lookup against the SCD2 history — the
    composite every warehouse needs after building versioned dimensions:
    for each purchase event, the user's event_type version in effect ONE
    HOUR before the purchase (left join keeps purchases with no version
    that old — NULL attribute).

    Spark-first: the versions relation and the fact side both shuffle once
    on the high-cardinality user_id; the validity-interval predicate rides
    the equi-join's ON clause, and intervals partition time per user, so
    at most one version matches (exactly-one-row semantics come from the
    SCD2 construction, not from dedup). No range-bucketing needed — the
    per-user version list is small by construction (versions only open on
    CHANGE), unlike the generic range_join operator's unbounded-interval
    case.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = ev.withColumn("prev", F.lag("event_type").over(w)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    vers = chg.select(
        F.col("user_id").alias("v_user"),
        F.col("event_type").alias("v_type"),
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("asof_ts"),
    )
    joined = p.join(
        vers,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("effective_from") <= F.col("asof_ts"))
        & (F.col("effective_to").isNull() | (F.col("asof_ts") < F.col("effective_to"))),
        "left",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("v_type").alias("type_asof_1h_ago"),
        F.col("effective_from").alias("version_from"),
    ).orderBy("event_id")


# ONE template for the recursive-hierarchy SQL, formatted with real view
# names per engine — no post-hoc string surgery on the SQL text (a
# " region"-prefix .replace() silently corrupts any future token that
# happens to share the prefix).
_RECURSIVE_HIERARCHY_TPL = """
    WITH RECURSIVE edges AS (
      SELECT 'region' AS pkind, r_regionkey AS pid,
             'nation' AS ckind, n_nationkey AS cid, n_name AS cname
      FROM {nation} JOIN {region} ON n_regionkey = r_regionkey
      UNION ALL
      SELECT 'nation', n_nationkey, 'customer', c_custkey, c_name
      FROM {customer} JOIN {nation} ON c_nationkey = n_nationkey),
    walk AS (
      SELECT 'region' AS kind, CAST(r_regionkey AS BIGINT) AS id,
             r_name AS path, 0 AS lvl
      FROM {region}
      UNION ALL
      SELECT e.ckind, CAST(e.cid AS BIGINT), concat(w.path, '/', e.cname),
             w.lvl + 1
      FROM walk w JOIN edges e ON e.pkind = w.kind AND e.pid = w.id)
    SELECT kind, id, path, lvl FROM walk ORDER BY kind, id
"""


@register(
    "recursive_cte_hierarchy",
    _RECURSIVE_HIERARCHY_TPL.format(
        region="region", nation="nation", customer="customer"
    ),
)
def q_recursive_cte_hierarchy(spark, sf_dir):
    """Recursive CTE (Spark 4 WITH RECURSIVE) materializing the
    region -> nation -> customer hierarchy as typed paths — the modern SQL
    surface for fixed-depth hierarchies (org charts, category trees,
    BOM levels): one heterogeneous child-edge relation, an anchor of
    roots, and a UNION ALL recursive member that joins the frontier to
    its children; terminates at the tree depth (3 levels here).

    Spark 4.1's recursive CTEs are UNION ALL-only (UNION dedup in the
    recursive member is rejected), so CYCLIC closures — connected
    components over the near-dup pair graph — stay on the union-find /
    pointer-doubling operators (ext/dedup.dup_clusters), whose DuckDB
    oracle runs the UNION-dedup recursion Spark can't yet. The oracle
    here is the identical recursive SQL in DuckDB.

    Scale: each recursion level is one equi-join of the current frontier
    against the edge relation — levels x one-shuffle, the same shape as
    the pagerank iteration; depth is the hierarchy's, not the data's.
    """
    for t in ("region", "nation", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"__rh_{t}")
    return spark.sql(
        _RECURSIVE_HIERARCHY_TPL.format(
            region="__rh_region", nation="__rh_nation", customer="__rh_customer"
        )
    )


@register(
    "sql_udf_value_buckets",
    """
    SELECT CASE WHEN value < 50 THEN 'low'
                WHEN value < 150 THEN 'mid'
                ELSE 'high' END AS bucket,
           count(*) AS n
    FROM events
    GROUP BY 1 ORDER BY bucket
    """,
)
def q_sql_udf_value_buckets(spark, sf_dir):
    """Declarative SQL UDF (Spark 4 CREATE FUNCTION ... RETURN expr): the
    bucketing logic registers as a catalog scalar function and the
    analyzer INLINES its body into the plan — full codegen, zero UDF
    overhead, unlike Python UDFs. The oracle inlines the same CASE, so
    the hash check proves the inlining is semantically transparent. The
    team-shared-logic surface: one definition, every query calls it."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION sparkgraft_bucket(v DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN v < 50 THEN 'low' WHEN v < 150 THEN 'mid' ELSE 'high' END
        """
    )
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__squ_events")
    return spark.sql(
        """
        SELECT sparkgraft_bucket(value) AS bucket, count(*) AS n
        FROM __squ_events GROUP BY 1 ORDER BY bucket
        """
    )


@register(
    "collation_distinct_audit",
    """
    WITH mixed AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                  ELSE event_type END AS et
      FROM events)
    SELECT count(DISTINCT et) AS n_binary,
           count(DISTINCT lower(et)) AS n_lcase
    FROM mixed
    """,
)
def q_collation_distinct_audit(spark, sf_dir):
    """Spark 4 string collations: the same relation counted distinct under
    binary (UTF8_BINARY) vs case-insensitive (UTF8_LCASE) collation —
    mixed-case variants collapse under the collated comparison without
    rewriting values through lower(). The oracle expresses the collated
    count as count(DISTINCT lower(..)), so the hash check pins the
    collation's equivalence classes to the normalize-then-compare
    semantics. Collation is the catalog-level route: declared once on the
    column, every comparison/join/group inherits it."""
    ev = _t(spark, sf_dir, "events")
    mixed = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.upper("event_type"))
        .otherwise(F.col("event_type"))
        .alias("et")
    )
    return mixed.agg(
        F.countDistinct("et").alias("n_binary"),
        F.countDistinct(F.expr("collate(et, 'UTF8_LCASE')")).alias("n_lcase"),
    )


# ---------------------------------------------------------------------------
# Ops & observability lane: the queries a team actually runs AROUND a 100 TB
# engine — copy validation, skew diagnosis, column profiling, TWAP.
# ---------------------------------------------------------------------------

# Canonical row rendering for the fingerprint: integers and scaled-integer
# decimals only (double->string formatting differs between engines; ts goes
# through epoch-days).  TPC-H decimals are exact at 2dp, so round(x*100) is
# integer-stable on both sides.  Every field goes through a NULL sentinel
# BEFORE concat_ws: concat_ws silently SKIPS null arguments (both engines),
# so without the sentinel rows (5, NULL) and (NULL, 5) would render to the
# same string and a corrupted copy could pass validation.
def _fp_field(expr: str) -> str:
    # '<NULL>' (no backslashes: Spark escapes string literals, DuckDB
    # doesn't — a backslash sentinel would differ between the engines)
    return f"coalesce(CAST({expr} AS STRING), '<NULL>')"


_FP_CANON_SPARK = (
    "concat_ws('|', "
    + ", ".join(
        _fp_field(e)
        for e in (
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "CAST(round(l_quantity * 100) AS BIGINT)",
            "CAST(round(l_extendedprice * 100) AS BIGINT)",
            "CAST(round(l_discount * 100) AS BIGINT)",
            "CAST(round(l_tax * 100) AS BIGINT)",
            "l_returnflag",
            "l_linestatus",
            "datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')",
        )
    )
    + ")"
)


@register(
    "table_fingerprint",
    """
    WITH c AS (
      SELECT concat_ws('|',
               coalesce(CAST(l_orderkey AS VARCHAR), '<NULL>'),
               coalesce(CAST(l_partkey AS VARCHAR), '<NULL>'),
               coalesce(CAST(l_suppkey AS VARCHAR), '<NULL>'),
               coalesce(CAST(l_linenumber AS VARCHAR), '<NULL>'),
               coalesce(CAST(CAST(round(l_quantity * 100) AS BIGINT) AS VARCHAR), '<NULL>'),
               coalesce(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), '<NULL>'),
               coalesce(CAST(CAST(round(l_discount * 100) AS BIGINT) AS VARCHAR), '<NULL>'),
               coalesce(CAST(CAST(round(l_tax * 100) AS BIGINT) AS VARCHAR), '<NULL>'),
               coalesce(l_returnflag, '<NULL>'),
               coalesce(l_linestatus, '<NULL>'),
               coalesce(CAST(date_diff('day', DATE '1970-01-01',
                        CAST(l_shipdate AS DATE)) AS VARCHAR), '<NULL>')
             ) AS s
      FROM lineitem),
    h AS (SELECT CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM c)
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(h AS HUGEINT)) AS VARCHAR) AS sum_hash,
           bit_xor(h) AS xor_hash
    FROM h
    """,
)
def q_table_fingerprint(spark, sf_dir):
    """Order-independent table content fingerprint — the check you run after
    copying / compacting / re-partitioning 100 TB to prove the bytes moved
    intact.  Each row renders to a canonical string (integers + scaled-int
    decimals + epoch-days; never double->string, whose formatting is
    engine-specific), hashes through the portable md5-derived HASH64, and the
    table digest is (count, exact decimal SUM of hashes, BIT_XOR of hashes).
    Sum and xor are both commutative, so the digest is invariant under any
    partitioning, shuffle order, or file layout — two tables match iff the
    three numbers match (sum over DECIMAL(38,0)/HUGEINT: no overflow below
    ~1e19 rows; xor is overflow-free at any scale).  The whole thing is one
    codegen'd map + a 3-value aggregate: no shuffle at all beyond the final
    single-row reduce."""
    from sparkgraft.ext.dedup import HASH64_SQL

    li = _t(spark, sf_dir, "lineitem")
    h = li.select(F.expr(HASH64_SQL.format(x=_FP_CANON_SPARK)).alias("h"))
    return h.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("sum_hash"),
        F.expr("bit_xor(h)").alias("xor_hash"),
    )


@register(
    "skew_key_audit",
    """
    WITH k AS (SELECT user_id, count(*) AS n_events
               FROM events GROUP BY user_id),
    t AS (SELECT sum(n_events) AS total FROM k)
    SELECT user_id, n_events,
           CAST((1000000 * n_events) // total AS BIGINT) AS share_ppm
    FROM k, t
    ORDER BY n_events DESC, user_id
    LIMIT 10
    """,
)
def q_skew_key_audit(spark, sf_dir):
    """Pre-join skew diagnosis: the 10 heaviest shuffle keys with their ppm
    share of all rows.  This is the query you run BEFORE a 100 TB join to
    decide whether a key needs salting (`sessionize_skew_split`) or AQE skew
    handling — a key above ~1e4 ppm on a 1000-executor cluster means one
    task owns >1% of the shuffle.  Plan: one partial-agg'd groupBy on the
    key, a broadcast of the single-row total (scalar cross join), and a
    TakeOrderedAndProject top-10 — no global sort, nothing driver-side.
    share_ppm is exact integer arithmetic (floor division), so the hash is
    engine-stable."""
    ev = _t(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    total = k.agg(F.sum("n_events").alias("total"))
    return top_k(
        k.crossJoin(F.broadcast(total)).select(
            "user_id",
            "n_events",
            F.expr("(1000000 * n_events) div total").alias("share_ppm"),
        ),
        [F.col("n_events").desc(), F.col("user_id")],
        10,
    )


@register(
    "time_weighted_avg_value",
    """
    WITH s AS (
      SELECT user_id, value,
             date_diff('second', ts,
                       lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)) AS gap
      FROM events),
    d AS (SELECT user_id, value, least(gap, 3600) AS dur
          FROM s WHERE gap IS NOT NULL AND gap > 0)
    SELECT user_id,
           CAST(sum(dur) AS BIGINT) AS active_seconds,
           CAST(sum(CAST(value * dur AS DECIMAL(28,6))) AS DOUBLE)
             / CAST(sum(dur) AS DOUBLE) AS twa_value
    FROM d
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_time_weighted_avg_value(spark, sf_dir):
    """Time-weighted average (TWAP-style): each event's value weighted by the
    seconds until the user's next event, capped at 3600 s so overnight gaps
    don't dominate — the standard irregular-time-series -> fixed-statistic
    reduction (sensor rollups, position-weighted prices, engagement
    intensity).  Last event per user has no forward duration and is
    excluded; zero-duration pairs (same-second events) are excluded so the
    weighting is purely temporal.  Plan: one user-partitioned lead() window
    (bounded partitions on a high-cardinality key), then a groupBy on the
    SAME key — AQE reuses the window's hash partitioning, so the aggregate
    is shuffle-free.  The weighted sum goes through the exact-decimal path
    (ops/relational.exact_sum rationale): order-free, hash-stable; the
    single final division is deterministic IEEE."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts")
    # cap AFTER the null filter: least() skips NULLs in both engines, so
    # least(gap, 3600) would hand the (excluded-by-contract) last event a
    # full 3600 s weight instead of dropping it
    d = (
        ev.select("user_id", "value", gap.alias("gap"))
        .where(F.col("gap").isNotNull() & (F.col("gap") > 0))
        .select("user_id", "value", F.least("gap", F.lit(3600)).alias("dur"))
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.sum("dur").cast("bigint").alias("active_seconds"),
            (
                F.sum((F.col("value") * F.col("dur")).cast("decimal(28,6)")).cast(
                    "double"
                )
                / F.sum("dur").cast("double")
            ).alias("twa_value"),
        )
        .orderBy("user_id")
    )


@register(
    "column_profile_lineitem",
    """
    SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
           count(*) - count(l_orderkey) AS n_null,
           count(DISTINCT l_orderkey) AS n_distinct,
           CAST(min(l_orderkey) AS DOUBLE) AS min_num,
           CAST(max(l_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
           count(DISTINCT l_quantity), min(l_quantity), max(l_quantity),
           NULL, NULL
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(*), count(*) - count(l_discount),
           count(DISTINCT l_discount), min(l_discount), max(l_discount),
           NULL, NULL
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
           count(DISTINCT l_returnflag), NULL, NULL,
           min(l_returnflag), max(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
           count(DISTINCT l_shipdate), NULL, NULL,
           CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR),
           CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR)
    FROM lineitem
    ORDER BY col_name
    """,
)
def q_column_profile_lineitem(spark, sf_dir):
    """Column profiler: null count, exact distinct count, and min/max for a
    mixed numeric/string/date column set, long-form (one row per column) —
    the data-quality snapshot every ingest of a new 100 TB source starts
    with.  Shape: one column-PRUNED scan + partial-combinable aggregate
    PER COLUMN, unioned.  The tempting alternative — all 20 aggregates in
    one wide aggregate — makes Spark plan the multi-distinct via a 5x
    Expand (row multiplication of the FULL-width rows before the shuffle);
    measured 8x slower at sf0.1 (6.0 s vs 0.73 s) and strictly worse at
    scale: parquet is columnar, so five single-column scans read the same
    bytes the wide scan reads, while each per-column distinct shuffles only
    its own values with map-side combine.  The recurring/scheduled flavor
    swaps countDistinct for approx_count_distinct (no distinct shuffle at
    all); exact is the ingest-audit contract here.  min/max split into
    typed channels (min_num DOUBLE / min_str VARCHAR) because min-of-double
    and min-of-string can't share a column without engine-specific
    formatting; dates render through the ISO DATE cast, identical on both
    engines."""
    li = _t(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")

    def base(col):
        return li.select(col).agg(
            n.alias("n_rows"),
            (n - F.count(col)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).alias("mn"),
            F.max(col).alias("mx"),
        )

    def num(col):
        return base(col).select(
            F.lit(col).alias("col_name"), "n_rows", "n_null", "n_distinct",
            F.col("mn").cast("double").alias("min_num"),
            F.col("mx").cast("double").alias("max_num"),
            null_s.alias("min_str"), null_s.alias("max_str"),
        )

    def txt(col):
        return base(col).select(
            F.lit(col).alias("col_name"), "n_rows", "n_null", "n_distinct",
            null_d.alias("min_num"), null_d.alias("max_num"),
            F.col("mn").alias("min_str"), F.col("mx").alias("max_str"),
        )

    def dat(col):
        return base(col).select(
            F.lit(col).alias("col_name"), "n_rows", "n_null", "n_distinct",
            null_d.alias("min_num"), null_d.alias("max_num"),
            F.col("mn").cast("date").cast("string").alias("min_str"),
            F.col("mx").cast("date").cast("string").alias("max_str"),
        )

    return (
        num("l_orderkey")
        .unionAll(num("l_quantity"))
        .unionAll(num("l_discount"))
        .unionAll(txt("l_returnflag"))
        .unionAll(dat("l_shipdate"))
        .orderBy("col_name")
    )


@register(
    "ewma_user_value",
    """
    WITH r AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) - 1 AS k
      FROM events),
    t AS (SELECT user_id,
                 CAST(round(value * 100) AS BIGINT) AS cents,
                 CAST(pow(2.0, 23 - k) AS BIGINT) AS iw
          FROM r WHERE k < 24)
    SELECT user_id,
           count(*) AS n_terms,
           CAST(sum(cents * iw) AS DOUBLE)
             / CAST(sum(iw) AS DOUBLE) / 100.0 AS ewma_value
    FROM t
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_ewma_user_value(spark, sf_dir):
    """Exponentially-weighted moving average of each user's value series
    (newest-first weights 0.5^k over the last 24 events) — the recency-
    weighted feature every behavioral model wants, normalized so a constant
    series returns the constant (pandas ewm(adjust=True) semantics).

    Exactness (engine-bit-stable BY CONSTRUCTION): the earlier
    double->decimal(38,12) formulation was not — Spark casts scale-12
    ties HALF_UP, DuckDB half-to-even, and 0.5^13 is an exact tie at
    scale 12; even round(x,12)-before-cast diverges on arbitrary doubles.
    So the query never rounds a double at all.  `value` is a 2-decimal
    column, so round(value*100) is an exact int64 (never a .5 tie — the
    stored double is within ~1e-11 of an integer); the weight becomes the
    exact integer 2^(23-k).  NOTE the k < 24 cut is a DELIBERATE semantic
    change from the original k < 64: truncated weights <= 0.5^24 shift
    the average by up to ~6e-8 relative (very visible at double
    precision) and n_terms now caps at 24 — the SQL oracle and the pandas
    ewm() replica test were changed in lockstep, which is what keeps
    parity, not any claim that the cut is a no-op.  The trade is exact
    integer arithmetic for a negligible-to-consumers tail (0.5^24 of the
    24th-newest event's influence).
    Numerator sum(cents * 2^(23-k)) < 2^16 * 2^23 * 24 < 2^45 and the
    denominator < 2^24 are exact int64 sums (order-free), both exactly
    representable as doubles, so the final IEEE divisions are the only
    roundings — correctly rounded, hence identical, in every engine.
    Plan: one user-partitioned row_number window, then a groupBy on the
    SAME key — the aggregate reuses the window's hash partitioning, one
    events-sized exchange total."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = ev.select(
        "user_id", "value", (F.row_number().over(w) - 1).alias("k")
    ).where(F.col("k") < 24)
    t = r.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.pow(F.lit(2.0), F.lit(23) - F.col("k")).cast("bigint").alias("iw"),
    )
    return (
        t.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            (
                F.sum(F.col("cents") * F.col("iw")).cast("double")
                / F.sum("iw").cast("double")
                / F.lit(100.0)
            ).alias("ewma_value"),
        )
        .orderBy("user_id")
    )


# The simulated "next snapshot" for the CDC diff: deterministic hash-bucket
# edits so both engines construct the identical successor table.
#   bucket 0  (1%): row deleted
#   bucket 1  (1%): o_totalprice increased by 1.00 (an update)
#   bucket 2  (1%): cloned as a NEW order under key+10^12 (an insert)
from sparkgraft.ext.dedup import HASH64_SQL as _HASH64_SQL  # noqa: E402

_SNAP_BUCKET = f"pmod({_HASH64_SQL.format(x='CAST(o_orderkey AS STRING)')}, 100)"
_SNAP_BUCKET_D = "CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 100"


@register(
    "snapshot_diff_orders",
    f"""
    WITH b AS (SELECT *, {_SNAP_BUCKET_D} AS bkt FROM orders),
    curr AS (
      SELECT o_orderkey,
             CASE WHEN bkt = 1 THEN o_totalprice + 1.0 ELSE o_totalprice END
               AS o_totalprice,
             o_orderstatus FROM b WHERE bkt <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000000, o_totalprice, o_orderstatus
      FROM b WHERE bkt = 2),
    base_h AS (SELECT o_orderkey AS k,
                      md5(concat_ws('|',
                            coalesce(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), '<NULL>'),
                            coalesce(o_orderstatus, '<NULL>'))) AS h
               FROM orders),
    curr_h AS (SELECT o_orderkey AS k,
                      md5(concat_ws('|',
                            coalesce(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), '<NULL>'),
                            coalesce(o_orderstatus, '<NULL>'))) AS h
               FROM curr),
    d AS (
      SELECT CASE WHEN b.k IS NULL THEN 'added'
                  WHEN c.k IS NULL THEN 'removed'
                  WHEN b.h <> c.h THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM base_h b FULL OUTER JOIN curr_h c ON b.k = c.k)
    SELECT change_type, count(*) AS n_rows
    FROM d GROUP BY change_type ORDER BY change_type
    """,
)
def q_snapshot_diff_orders(spark, sf_dir):
    """CDC-style snapshot diff: given two snapshots of a keyed table,
    classify every key as added / removed / changed / unchanged — the
    reconciliation step behind incremental re-ingestion and copy audits.
    The successor snapshot is constructed deterministically (hash buckets:
    1% deletes, 1% price updates, 1% cloned inserts), so both engines diff
    the identical pair.  The diff itself is the scale pattern that
    matters: ONE full-outer equi-join on the key comparing a per-row md5
    content hash (computed map-side, canonical scaled-integer rendering) —
    never column-by-column comparison of wide rows across the shuffle; at
    100 TB the shuffle carries (key, 32-byte hash), not the row payload.
    The 4-row classification aggregate is map-side combinable."""
    orders = _t(spark, sf_dir, "orders")
    b = orders.withColumn("bkt", F.expr(_SNAP_BUCKET))
    curr = (
        b.where("bkt <> 0")
        .select(
            "o_orderkey",
            F.when(F.col("bkt") == 1, F.col("o_totalprice") + 1.0)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderstatus",
        )
        .unionAll(
            b.where("bkt = 2").select(
                (F.col("o_orderkey") + F.lit(1000000000000)).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    row_h = F.md5(
        F.concat_ws(
            "|",
            F.coalesce(
                F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
                F.lit("<NULL>"),
            ),
            F.coalesce(F.col("o_orderstatus"), F.lit("<NULL>")),
        )
    )
    base_h = orders.select(F.col("o_orderkey").alias("k"), row_h.alias("h"))
    curr_h = curr.select(F.col("o_orderkey").alias("k"), row_h.alias("h"))
    d = base_h.alias("b").join(
        curr_h.alias("c"), F.col("b.k") == F.col("c.k"), "full_outer"
    )
    return (
        d.select(
            F.when(F.col("b.k").isNull(), "added")
            .when(F.col("c.k").isNull(), "removed")
            .when(F.col("b.h") != F.col("c.h"), "changed")
            .otherwise("unchanged")
            .alias("change_type")
        )
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("change_type")
    )


def _z_interleave_spark(x: str, y: str, bits: int = 16) -> str:
    """Morton/Z-value: interleave the low `bits` bits of x (even positions)
    and y (odd positions).  Generated as a flat sum of masked shifts so the
    whole thing stays inside whole-stage codegen."""
    terms = []
    for b in range(bits):
        terms.append(f"shiftleft(shiftright({x}, {b}) & 1, {2 * b})")
        terms.append(f"shiftleft(shiftright({y}, {b}) & 1, {2 * b + 1})")
    return " + ".join(terms)


def _z_interleave_duck(x: str, y: str, bits: int = 16) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


# Dimensions are folded to [0, 65536) with a FLOORED mod before the
# interleave, and Spark's INT-typed datediff is widened to BIGINT first:
# a pre-epoch timestamp makes day_idx negative, where the sign-carrying
# `%` would feed all-ones two's-complement bits into the interleave and
# Spark's 32-bit shiftleft(1, 31) would overflow to a NEGATIVE zval
# (both latent on clean data, found by the r08 epoch-boundary drift rig)
_Z_X_S = "pmod(user_id, 65536)"
_Z_Y_S = "pmod(CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT), 65536)"
_Z_X_D = "(((user_id % 65536) + 65536) % 65536)"
_Z_Y_D = (
    "(((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 65536)"
    " + 65536) % 65536)"
)


@register(
    "zorder_layout_audit",
    f"""
    WITH z AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_idx,
             {_z_interleave_duck(_Z_X_D, _Z_Y_D)} AS zval
      FROM events)
    SELECT CAST(zval // 67108864 AS BIGINT) AS z_bucket,
           count(*) AS n_rows,
           min(user_id) AS min_user, max(user_id) AS max_user,
           min(day_idx) AS min_day, max(day_idx) AS max_day
    FROM z
    GROUP BY z_bucket
    ORDER BY z_bucket
    """,
)
def q_zorder_layout_audit(spark, sf_dir):
    """Z-order (Morton-curve) layout audit: the multi-dimensional
    clustering key behind Delta/Iceberg OPTIMIZE ZORDER.  Interleaving the
    bits of (user_id, day) gives a single sort key under which ranges of
    the curve are bounded in BOTH dimensions at once — so a table
    range-partitioned and written by zval lets parquet row-group min/max
    stats prune scans filtered on either column (the single-dim version of
    this argument is proven against real row-group stats in
    test_clustered_write_makes_rowgroup_stats_selective).  The audit
    reports, per curve range (top-6-bit bucket = zval div 2^26), the
    min/max of each dimension — the per-bucket bounding boxes whose
    tightness IS the pruning guarantee.  The z-value itself is a flat
    codegen'd sum of masked shifts (no UDF); the audit is one
    map-side-combinable groupBy on a 64-ary derived key."""
    ev = _t(spark, sf_dir, "events")
    z = ev.selectExpr(
        "user_id",
        "datediff(CAST(ts AS DATE), DATE '1970-01-01') AS day_idx",
        f"{_z_interleave_spark(_Z_X_S, _Z_Y_S)} AS zval",
    )
    return (
        z.groupBy(F.expr("zval div 67108864").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
            F.min("day_idx").alias("min_day"),
            F.max("day_idx").alias("max_day"),
        )
        .orderBy("z_bucket")
    )


@register(
    "bitmap_distinct_rollup",
    """
    SELECT event_type, count(DISTINCT user_id) AS distinct_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_bitmap_distinct_rollup(spark, sf_dir):
    """Re-aggregatable EXACT distinct via roaring-style bitmaps (Spark's
    bitmap_construct_agg family): per (event_type, week, bucket) the
    user-id bit positions collapse into a fixed-size bitmap partial; the
    weekly partials then MERGE with bitmap_or_agg and the final count is a
    sum of bitmap_count per bucket.  This is the incremental
    materialized-view pattern for COUNT(DISTINCT) at 100 TB: persist the
    tiny weekly (type, bucket, bitmap) relation, and every rollup window
    (month, quarter, all-time) is a cheap OR-merge of partials instead of
    a re-scan of raw events — something plain count(distinct) can never
    do, because its partials (exact sets) don't compose.  The oracle pins
    the merged result to the ground-truth exact distinct, proving the
    bucket/position round-trip loses nothing.  All three levels are
    map-side combinable aggregates on shrinking keys."""
    ev = _t(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type",
        F.date_trunc("week", "ts").alias("week"),
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
    merged = weekly.groupBy("event_type", "bucket").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return (
        merged.groupBy("event_type")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("distinct_users"))
        .orderBy("event_type")
    )


@register(
    "user_value_trend",
    """
    WITH x AS (
      SELECT user_id, value,
             date_diff('second',
                       min(ts) OVER (PARTITION BY user_id), ts) AS xr
      FROM events),
    m AS (
      SELECT user_id,
             count(*) AS n,
             sum(CAST(xr AS HUGEINT)) AS sx,
             sum(CAST(xr AS HUGEINT) * xr) AS sxx,
             -- decimal -> double goes THROUGH VARCHAR: DuckDB's direct
             -- cast double-rounds (int128 -> double, then / 10^scale)
             -- once the unscaled sum passes 2^53, while Spark rounds the
             -- decimal correctly in one step; the decimal string parsed
             -- by a correctly-rounded strtod is engine-identical at any
             -- magnitude (r08 drift rig: epoch-0 timestamps stretch xr
             -- spans to ~54 years and push sxy's unscaled value to ~2^62)
             CAST(CAST(sum(CAST(value AS DECIMAL(28,6))) AS VARCHAR)
                  AS DOUBLE) AS sy,
             CAST(CAST(sum(CAST(value * xr AS DECIMAL(38,6))) AS VARCHAR)
                  AS DOUBLE) AS sxy
      FROM x GROUP BY user_id),
    d AS (SELECT user_id, n, sx, sy, sxy,
                 n * sxx - sx * sx AS den
          FROM m)
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           CASE WHEN den = 0 THEN NULL
                ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / CAST(den AS DOUBLE) END AS slope_per_sec,
           CASE WHEN den = 0 THEN NULL
                ELSE (sy - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           / CAST(den AS DOUBLE) * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE)
                END AS intercept
    FROM d ORDER BY user_id
    """,
)
def q_user_value_trend(spark, sf_dir):
    """Per-entity trend extraction: closed-form OLS of value against time
    for every user — the drift/decay feature (is this account's engagement
    rising?) fitted at millions of entities in one pass, where a
    per-group sklearn call would be an Arrow round-trip per user.

    Exactness: x is integer seconds RELATIVE to the user's first event
    (a window min on the same partition key); sx/sxx sum in exact
    DECIMAL(38,0) (mirroring DuckDB's HUGEINT sums — a user active for
    years would push sx*sx past BIGINT, so the co-moment arithmetic stays
    in 128-bit integers until the single final division); sy/sxy ride the
    exact-decimal path; slope and intercept combine the five exact
    moments in a fixed double expression — the same literal formula on
    both engines, so the hash is stable without any float aggregation
    anywhere.  Centering x keeps sxx ~ (active span)^2 instead of
    (epoch)^2.
    Single-x-value users (degenerate denominator) return NULL slope.
    Plan: window min + groupBy on user_id — one events-sized exchange."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    x = ev.select(
        "user_id",
        "value",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.min("ts").over(w))).alias("xr"),
    )
    m = x.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xr").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("xr").cast("decimal(38,0)") * F.col("xr")).alias("sxx"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum((F.col("value") * F.col("xr")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
    )
    # den stays in exact DECIMAL(38,0) arithmetic: a user active for years
    # has sx*sx far beyond BIGINT (the DuckDB side sums in HUGEINT; this is
    # the Spark equivalent) — only the final division drops to double
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den")
    m = m.withColumn("den", den)
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    slope = num / F.col("den").cast("double")
    return m.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.when(F.col("den") == 0, F.lit(None))
        .otherwise(slope)
        .alias("slope_per_sec"),
        F.when(F.col("den") == 0, F.lit(None))
        .otherwise(
            (F.col("sy") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        )
        .alias("intercept"),
    ).orderBy("user_id")


@register(
    "streaming_bitmap_distinct",
    """
    SELECT event_type, count(DISTINCT user_id) AS distinct_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_streaming_bitmap_distinct(spark, sf_dir):
    """Streaming EXACT distinct via mergeable bitmap partials — the answer
    to the limitation streaming_windowed_counts documents
    (count(DISTINCT) is not a streaming-mergeable aggregate, so plain
    streaming aggregation cannot maintain it).  The stream arrives in
    three micro-batches (maxFilesPerTrigger=1 over three files);
    foreachBatch reduces each batch to (event_type, bucket, bitmap)
    partials — bitmap_construct_agg over user-id bit positions — and
    lands them under an idempotent per-batch-id path (a replayed batch
    OVERWRITES its own slot: exactly-once state from at-least-once
    delivery, the same idempotency contract as the partition-overwrite
    loader).  The maintained partial relation IS the incremental MV of
    bitmap_distinct_rollup's batch form; the final read OR-merges all
    batches' partials and hash-matches the ground-truth exact distinct —
    proving users split ACROSS micro-batches were merged, not
    double-counted.  At 100 TB the per-batch work is one partial-agg'd
    groupBy of the batch (not the history) and the state grows as
    |keys| x |buckets| bitmaps, never as raw rows."""

    work = scratch_dir("sparkgraft_sbm_")
    src, state = f"{work}/src", f"{work}/state"
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    for i in range(3):
        (
            ev.where(F.expr(f"pmod(event_id, 3) = {i}"))
            .coalesce(1)
            .write.parquet(f"{src}/b{i}")
        )
    stream = (
        spark.readStream.schema("event_id bigint, user_id bigint, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )

    def fold_batch(batch_df, batch_id):
        (
            batch_df.groupBy(
                "event_type",
                F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            )
            .agg(
                F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
                    "bm"
                )
            )
            .write.mode("overwrite")
            .parquet(f"{state}/batch={batch_id}")
        )

    with _stream_state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("bitmap-distinct stream did not finish in 300s")
    merged = (
        spark.read.parquet(state + "/batch=*")
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
    )
    return (
        merged.groupBy("event_type")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("distinct_users"))
        .orderBy("event_type")
    )


@register(
    "orc_roundtrip_events",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_orc_roundtrip_events(spark, sf_dir):
    """ORC interchange: events written to ORC (zlib, Spark's native
    vectorized writer) and read back through the vectorized ORC reader
    must aggregate identically to the parquet original — the
    format-migration smoke proof (warehouses commonly hold mixed
    parquet/ORC estates; the engine must read both with pushdown intact).
    The oracle aggregates the PARQUET side, so the hash check certifies
    the ORC round-trip lost nothing — same role as table_fingerprint but
    exercised through a second columnar format's encode/decode path.
    Exact-decimal sum keeps the hash order-free as usual.  The tempdir
    write is the test harness, not the data path; at scale this is
    ``spark.read.orc`` over an existing estate, with predicate pushdown
    and column pruning behaving as the parquet scans do."""

    work = scratch_dir("sparkgraft_orc_")
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.write.mode("overwrite").option("compression", "zlib").orc(f"{work}/events")
    back = spark.read.orc(f"{work}/events")
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


def _value_mad_outliers_relation(spark, sf_dir):
    """Pre-sort relation of q_value_mad_outliers, SHARED with its plan gate
    (tests/test_plans.py
    test_mad_outliers_two_level_rank_no_lowcard_window); same rationale
    as _window_rank_zoo_relation."""

    from sparkgraft.ops.windows import group_sizes, scalable_row_number

    # MAD statistics are over the OBSERVED values: NULLs excluded up front
    # on both engines (same policy + null-ordering rationale as
    # value_median_exact)
    ev = (
        _t(spark, sf_dir, "events")
        .select("event_type", "value", "event_id")
        .where(F.col("value").isNotNull())
    )
    sizes = group_sizes(ev, ["event_type"])
    mid = (F.col("__rn") == F.expr("(__n + 1) div 2")) | (
        F.col("__rn") == F.expr("__n div 2 + 1")
    )
    r1 = scalable_row_number(ev, ["event_type"], ["value", "event_id"], "__rn")
    # med/mad are ~|event_type| rows but their LINEAGE is a full two-level
    # rank — checkpoint so downstream references replay 6 rows, not the
    # rank pipeline (same contract as the triangle edge materialization)
    med = materialize(
        r1.join(F.broadcast(sizes), "event_type")
        .where(mid)
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 6).alias("med"),
            F.max("__n").cast("bigint").alias("n"),
        )
    )
    d = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    r2 = scalable_row_number(d, ["event_type"], ["dev", "event_id"], "__rn")
    mad = materialize(
        r2.join(F.broadcast(sizes), "event_type")
        .where(mid)
        .groupBy("event_type")
        .agg(F.round(F.avg("dev"), 6).alias("mad"))
    )
    o = (
        d.join(F.broadcast(mad), "event_type")
        .where(F.col("dev") > F.lit(3) * F.lit(1.4826) * F.col("mad"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_outliers"))
    )
    return (
        med.join(mad, "event_type")
        .join(o, "event_type", "left")
        .select(
            "event_type",
            F.col("med").alias("median_value"),
            "mad",
            F.coalesce("n_outliers", F.lit(0)).cast("bigint").alias("n_outliers"),
            "n",
        )
    )


@register(
    "value_mad_outliers",
    """
    WITH r AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
      WHERE value IS NOT NULL),
    med AS (
      SELECT event_type, round(avg(value), 6) AS med,
             CAST(max(n) AS BIGINT) AS n
      FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
      GROUP BY event_type),
    d AS (
      SELECT e.event_type, e.event_id, abs(e.value - m.med) AS dev, m.n
      FROM events e JOIN med m USING (event_type)
      WHERE e.value IS NOT NULL),
    r2 AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY dev, event_id) AS rn2
      FROM d),
    mad AS (
      SELECT event_type, round(avg(dev), 6) AS mad
      FROM r2 WHERE rn2 = (n + 1) // 2 OR rn2 = n // 2 + 1
      GROUP BY event_type),
    o AS (
      SELECT d.event_type,
             CAST(count(*) FILTER (WHERE d.dev > 3 * 1.4826 * mad.mad)
                  AS BIGINT) AS n_outliers
      FROM d JOIN mad USING (event_type) GROUP BY d.event_type)
    SELECT m.event_type, m.med AS median_value, mad.mad AS mad,
           o.n_outliers, m.n
    FROM med m JOIN mad USING (event_type) JOIN o USING (event_type)
    ORDER BY m.event_type
    """,
)
def q_value_mad_outliers(spark, sf_dir):
    """Robust outlier detection via Median Absolute Deviation — the
    heavy-tail-safe alternative to value_zscore_outliers (one wild sensor
    reading inflates a z-score's mean AND stddev, masking other outliers;
    the median/MAD pair has a 50% breakdown point).  Rule: |v - median| >
    3 * 1.4826 * MAD, the normal-consistency-scaled 3-sigma analogue.

    Two EXACT medians per type at scale: both ride the two-level rank
    (ops/windows.scalable_row_number — bounded chunk sorts, never an
    ordered window over the ~6-value event_type key; same machinery as
    value_median_exact), with the tiny per-type median/MAD relations
    broadcast back for the deviation and classification passes.  All
    comparisons are deterministic IEEE doubles off exact inputs, so the
    hash is engine-stable.

    (The plan gate grades the shared _value_mad_outliers_relation
    builder.)
    """
    return _value_mad_outliers_relation(spark, sf_dir).orderBy("event_type")


def _bucketed_join_relation(spark, sf_dir, tl, to):
    """The bucketed-join shape SHARED between q_bucketed_join_zero_shuffle
    and its post-AQE plan gate (tests/test_plans.py
    test_bucketed_join_no_exchange_below_the_join — the query itself
    returns an eager checkpoint, which truncates the plan the gate needs
    to see).  Writes both bucketed tables and returns the joined +
    aggregated relation pre-checkpoint; a single definition means an
    edit to the shipped shape (bucket count, projection, join key) is
    automatically the shape the gate grades.  Caller owns the
    broadcast-threshold toggle and the DROP lifecycle."""
    from sparkgraft.catalog import save_bucketed

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # the two bucketed ingest writes are independent — overlap them from
    # two driver threads (guide §2.6); table contents are unchanged
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(save_bucketed, spark, li, tl, "l_orderkey", 8)
        f2 = pool.submit(save_bucketed, spark, od, to, "o_orderkey", 8)
        f1.result(), f2.result()
    return (
        spark.table(tl)
        .join(spark.table(to), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "bucketed_join_zero_shuffle",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_bucketed_join_zero_shuffle(spark, sf_dir):
    """Fact-to-fact equi-join over BUCKETED tables — the static
    co-partitioning contract that moves the join shuffle to write time,
    promoting the long-standing catalog.save_bucketed capability (plan-
    gated since round 1) to a driver-provable query.

    Both sides are persisted via catalog.save_bucketed (hash-bucketed +
    per-bucket sorted on the join key, layout recorded in the catalog);
    the join then plans as a sort-merge join whose physical plan shows
    `Bucketed: true` on both scans and ZERO exchange below the join —
    the only shuffles left are the 5-row aggregate and the final sort
    (plan-gated in tests/test_plans.py).  At 100 TB this is the lever
    for a fact pair joined by every downstream query (lineitem ⋈ orders
    here): pay the co-location shuffle once at ingest, never again.
    Broadcast is disabled for the join so the measured plan is the one
    that matters at scale (neither side of a fact-fact join broadcasts);
    the result is materialized eagerly (``materialize``) so the conf
    tweak and the scratch tables never escape this function.  Revenue
    rides the exact integer-cents path, so the 5-row result is
    engine-bit-identical."""
    import time as _time

    ns = _time.time_ns()
    tl, to = f"bkt_li_{ns}", f"bkt_ord_{ns}"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = _bucketed_join_relation(spark, sf_dir, tl, to)
        return materialize(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tl}")
        spark.sql(f"DROP TABLE IF EXISTS {to}")


# ---------------------------------------------------------------------------
# Round-6 adversarial-skew lanes (SURVEY risk #5: the hot key at 100 TB).
# The provided events table is uniform — a plain run of the skew-safe
# operators never actually exercises their skew machinery on skewed DATA.
# These two queries build the adversary IN-QUERY (deterministic remap of
# every 5th event to one bot user = 20% of all rows on a single key; the
# oracle applies the identical remap in SQL), then run the two skew
# defenses over it: pre-split sessionization and the salted join.
# ---------------------------------------------------------------------------

# the bot-user remap, shared by both lanes: hash-free and engine-identical
_HOT_REMAP_SQL = """
        SELECT event_id,
               CASE WHEN event_id % 5 = 0 THEN CAST(-1 AS BIGINT)
                    ELSE user_id END AS user_id,
               ts
        FROM events
"""

# canonical sessionize CTE re-pointed at the remapped relation; built by
# substitution so the session-id contract can never drift from
# _SESSIONIZE_CTE (order matters: retarget FROM first, then prepend hot)
_SESSIONIZE_HOT_CTE = _SESSIONIZE_CTE.replace("FROM events", "FROM hot").replace(
    "WITH lagged AS (", f"WITH hot AS ({_HOT_REMAP_SQL}    ), lagged AS ("
)


def _hot_events(ev):
    """Deterministic hot-key adversary: every 5th event re-keyed to bot
    user -1 (20% of all rows on one key — far past the ~1/n_users uniform
    share, and past AQE's skewedPartitionFactor at any real scale)."""
    return ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 5 == 0, F.lit(-1).cast("bigint")).otherwise(
            F.col("user_id")
        ),
    )


@register(
    "sessionize_hotkey",
    _SESSIONIZE_HOT_CTE
    + """
    SELECT event_id, user_id, ts, session_id FROM sessioned
    """,
)
def q_sessionize_hotkey(spark, sf_dir):
    """Sessionization under a 20%-of-rows hot key — the adversarial-data
    proof for sessionize_skew_split (its uniform-data twin shares the
    oracle CONTRACT but never stresses the split).  The bot user's rows
    land in many (user, 6h-bucket) window partitions instead of one
    user-sized task, and the boundary stitch re-links chains across
    buckets; session ids stay byte-identical to the canonical single-pass
    definition, which is exactly what the driver hash certifies.  At
    100 TB this is THE sessionization failure mode: one bot/default id
    holding percent-scale row share turns a bare PARTITION BY user_id
    into a straggler task holding billions of rows."""
    ev = _hot_events(_t(spark, sf_dir, "events"))
    from sparkgraft.ops.sessionize import sessionize_skew_split

    return sessionize_skew_split(
        ev, order_tiebreak=("event_id",), bucket_seconds=6 * 3600
    ).select("event_id", "user_id", "ts", "session_id")


@register(
    "salted_join_hotkey",
    f"""
    WITH hot AS ({_HOT_REMAP_SQL}    ),
    totals AS (SELECT user_id, count(*) AS n_events FROM hot GROUP BY user_id)
    SELECT e.event_id, e.user_id, t.n_events
    FROM hot e JOIN totals t USING (user_id)
    ORDER BY e.event_id
    """,
)
def q_salted_join_hotkey(spark, sf_dir):
    """Salted equi-join under a 20%-of-rows hot key — the adversarial-data
    proof for ops/relational.salted_join (salted_join_user_events runs the
    same pattern on uniform keys, where the salt never actually saves a
    reducer).  The bot key's rows spread across 32 (user_id, __salt)
    reducers — the salt fan-out is plan-gated — while the oracle states
    the PLAIN join: salting must be invisible in the results, hot key or
    not."""
    from sparkgraft.ops.relational import salted_join

    hot = _hot_events(_t(spark, sf_dir, "events")).select("event_id", "user_id")
    totals = hot.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        salted_join(hot, totals, "user_id", n_salts=32, salt_source="event_id")
        .select("event_id", "user_id", "n_events")
        .orderBy("event_id")
    )


@register(
    "schema_evolution_read",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(count(value) FILTER (WHERE event_id % 3 <> 0) AS BIGINT)
             AS n_with_value,
           CAST(sum(CAST(value AS DECIMAL(28,6)))
                FILTER (WHERE event_id % 3 <> 0) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_schema_evolution_read(spark, sf_dir):
    """Read-side schema evolution (io/readers.read_evolved) proven under
    the driver hash: events is split deterministically into three shards
    written under three SCHEMA VERSIONS — v1 (event_id % 3 = 0) predates
    the ``value`` column, v2 has it, v3 additionally narrowed event_id
    to INT at write — then the mixed directory is read back conformed to
    one target schema (event_id widened to BIGINT, value present, v1
    rows surfacing typed NULLs) and aggregated.  The oracle recomputes
    the same aggregate from the pristine events table, so the hash check
    certifies that conformance loses nothing: counts see every shard,
    value sums see exactly the shards that carry the column, and the
    int->bigint widening is value-preserving.  The tempdir write is the
    fixture, not the data path; at scale the mixed-version directory IS
    the table (a multi-year ingest), read once with the explicit target
    schema — pruning, NULL-fill and widening all happen at the scan."""

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from sparkgraft.io.readers import read_evolved

    work = scratch_dir("sparkgraft_evo_")
    ev = _t(spark, sf_dir, "events")
    shard = F.col("event_id") % 3
    ev.where(shard == 0).select("event_id", "event_type").write.mode(
        "append"
    ).parquet(work)
    ev.where(shard == 1).select("event_id", "event_type", "value").write.mode(
        "append"
    ).parquet(work)
    ev.where(shard == 2).select(
        F.col("event_id").cast("int").alias("event_id"), "event_type", "value"
    ).write.mode("append").parquet(work)

    target = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    back = read_evolved(spark, work, target)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("value").alias("n_with_value"),
            exact_sum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "schema_evolution_write",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(count(value) FILTER (WHERE event_id % 2 = 1) AS BIGINT)
             AS n_with_value,
           CAST(sum(CAST(value AS DECIMAL(28,6)))
                FILTER (WHERE event_id % 2 = 1) AS DOUBLE) AS sum_value,
           CAST(sum(event_id) AS BIGINT) AS sum_ids
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_schema_evolution_write(spark, sf_dir):
    """Write-side schema evolution round-trip (catalog.evolve_spec +
    save_schema_history + read_spec_evolved) proven under the driver hash:
    a batch-partitioned table is written under schema v1 (event_id INT,
    no ``value`` column, batch=1 partitions), the spec is then EVOLVED —
    ``value`` added, event_id widened int->bigint — and batch=2 partitions
    are written under v2 while the v1 partitions stay untouched on disk.
    The recorded history (the ``_schema_history.json`` sidecar) lets the
    read back validate and conform WITHOUT sweeping file footers — the
    metastore-lookup path a 100 TB table needs — and the oracle recomputes
    the aggregate from the pristine events table, so the hash certifies
    the round trip loses nothing: counts see both eras, ``value`` sums see
    exactly the v2 era, and ``sum_ids`` proves v1's INT storage decodes
    into BIGINT value-preserving.  The tempdir write is the fixture; at
    scale the two eras are years of ingest partitions and the evolution is
    one metastore append, zero data rewrites."""

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from sparkgraft.catalog import (
        TableSpec,
        evolve_spec,
        read_spec_evolved,
        save_schema_history,
    )

    work = scratch_dir("sparkgraft_evo_w_")
    ev = _t(spark, sf_dir, "events")
    v1 = TableSpec(
        "events_evo",
        StructType(
            [
                StructField("event_id", IntegerType()),
                StructField("event_type", StringType()),
                StructField("batch", IntegerType()),
            ]
        ),
        partition_keys=("batch",),
    )
    ev.where(F.col("event_id") % 2 == 0).select(
        F.col("event_id").cast("int").alias("event_id"),
        "event_type",
        F.lit(1).alias("batch"),
    ).write.mode("append").partitionBy("batch").parquet(work)

    v2 = evolve_spec(
        v1,
        StructType(
            [
                StructField("event_id", LongType()),
                StructField("event_type", StringType()),
                StructField("value", DoubleType()),
                StructField("batch", IntegerType()),
            ]
        ),
    )
    ev.where(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "value", F.lit(2).alias("batch")
    ).write.mode("append").partitionBy("batch").parquet(work)
    save_schema_history(work, v2)

    back = read_spec_evolved(spark, work, v2)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("value").alias("n_with_value"),
            exact_sum("value").alias("sum_value"),
            F.sum("event_id").alias("sum_ids"),
        )
        .orderBy("event_type")
    )


# the time-travel aggregate both snapshot lanes emit: bigint-only, so the
# driver hash is trivially bit-stable, and NULL-value drift rigs can't
# touch it (event_id/event_type are the perturbation-exempt key columns)
_SNAPSHOT_ORACLE = """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS sum_ids
    FROM events WHERE event_id % 10 <= 2
    GROUP BY event_type ORDER BY event_type
"""


def _snapshot_workspace(spark, sf_dir):
    """Build a compaction-managed table with a retained snapshot that holds
    ONLY load 1: write load 1 (event_id % 10 <= 2), compact (the legacy
    migration freezes load 1 as the oldest version dir), append load 2
    (event_id % 10 = 3) into the live version, compact again.  Returns
    (table path, created_ns of the load-1 snapshot).  The tempdir is the
    fixture; at scale the versions are compaction points on a real ingest
    and the snapshot listing comes from the same pointer history.  The
    returned DataFrame is lazy — the caller (driver/audit) materializes it
    after this function returns — so the workspace can't be deleted here;
    register process-exit cleanup instead so repeated driver/audit runs
    don't accrete event-table copies in /tmp."""
    from sparkgraft.catalog import compact_small_files, list_table_versions

    workspace = scratch_dir("sparkgraft_snap_")
    path = workspace + "/events_managed"
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    ev.where(F.col("event_id") % 10 <= 2).write.parquet(path)
    compact_small_files(spark, path, target_mb=128)
    snap_ns = list_table_versions(path)[0]["created_ns"]
    ev.where(F.col("event_id") % 10 == 3).write.mode("append").parquet(path)
    compact_small_files(spark, path, target_mb=128)
    return path, snap_ns


def _snapshot_agg(df):
    return (
        df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("event_id").alias("sum_ids"))
        .orderBy("event_type")
    )


@register("snapshot_asof_read", _SNAPSHOT_ORACLE)
def q_snapshot_asof_read(spark, sf_dir):
    """Compaction-pointed time travel (catalog.resolve_table_path_asof)
    proven under the driver hash: a managed table goes through two loads
    and two compactions, then is read AS-OF the instant the first
    compaction froze load 1 — the returned version dir must contain
    exactly load 1 even though the live table has both loads.  The oracle
    recomputes load 1's aggregate from the pristine events table, so the
    hash certifies the snapshot boundary: nothing from load 2 leaks into
    the pinned read, nothing from load 1 is lost.  Version dirs are
    write-once, so the as-of read is an ordinary parquet scan of an
    immutable file set — the same pointer-history semantics Delta/Iceberg
    time travel has, at zero extra storage (supersession retains, never
    copies)."""
    from sparkgraft.catalog import resolve_table_path_asof

    path, snap_ns = _snapshot_workspace(spark, sf_dir)
    pinned = spark.read.parquet(resolve_table_path_asof(path, snap_ns))
    return _snapshot_agg(pinned)


@register("snapshot_restore_read", _SNAPSHOT_ORACLE)
def q_snapshot_restore_read(spark, sf_dir):
    """Rollback (catalog.restore_table_version) proven under the driver
    hash: same two-load workspace, then the table is RESTORED to the
    load-1 snapshot — a hardlink farm appended as a new version, one
    atomic pointer flip — and the LIVE path is read back.  The oracle is
    the load-1 aggregate, so the hash certifies the incident-response
    contract: after rollback the live table serves exactly the snapshot's
    content, with the rolled-away load 2 retained as history (as-of reads
    inside that window still see it) rather than deleted."""
    from sparkgraft.catalog import resolve_table_path, restore_table_version

    path, snap_ns = _snapshot_workspace(spark, sf_dir)
    restore_table_version(path, snap_ns)
    return _snapshot_agg(spark.read.parquet(resolve_table_path(path)))


# ---------------------------------------------------------------------------
# Driver window.  The external correctness driver snapshots only the FIRST
# 50 registered queries each round and records them in CORRECTNESS_rNN.json,
# so registration order decides which lanes get (re-)proven.  The window is
# computed from those committed proof files:
#   (1) lanes with no proof row, or listed in OUTPUT_CHANGED_SINCE_PROOF;
#   (2) the stalest proofs: newest proof round ascending, then name, filling
#       the window up to the sentinels;
#   (3) the 8 fixed sentinels.
# Keep new registrations <= 5 per round so each window still drains the
# oldest proof tier.
# ---------------------------------------------------------------------------

WINDOW_SIZE = 50

SENTINELS: tuple[str, ...] = (
    "wau_user",
    "sessionize_ids",
    "dedup_minhash_lsh",
    "cumulative_purchases",
    "value_decile_bins",
    "window_rank_zoo",
    "q1_pricing_summary",
    "corpus_e2e_curation",
)

#: lanes whose OUTPUT or declared domain changed after their newest driver
#: proof: they take a window slot until a fresh driver row lands.  Add a
#: name the moment a proven lane's output or domain changes; remove it only
#: with the new CORRECTNESS row committed.
OUTPUT_CHANGED_SINCE_PROOF: frozenset[str] = frozenset()


def newest_proof_rounds() -> dict[str, int]:
    """Lane -> newest round with a row in a committed CORRECTNESS_rNN.json."""
    import json
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    newest: dict[str, int] = {}
    for f in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name)
        if m:
            for n in json.loads(f.read_text()):
                newest[n] = max(newest.get(n, 0), int(m.group(1)))
    return newest


def _driver_window() -> tuple[str, ...]:
    newest = newest_proof_rounds()
    lanes = sorted(n for n in _REGISTRY if n not in SENTINELS)
    due = [n for n in lanes if n not in newest or n in OUTPUT_CHANGED_SINCE_PROOF]
    stale = sorted((n for n in lanes if n not in due), key=lambda n: (newest[n], n))
    fill = WINDOW_SIZE - len(SENTINELS) - len(due)
    return (*due, *stale[:fill], *SENTINELS)


def _apply_driver_window() -> None:
    missing = [n for n in SENTINELS if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"sentinels not registered: {missing}")
    rest = [n for n in _REGISTRY if n not in DRIVER_WINDOW]
    reordered = {n: _REGISTRY[n] for n in (*DRIVER_WINDOW, *rest)}
    _REGISTRY.clear()
    _REGISTRY.update(reordered)


DRIVER_WINDOW: tuple[str, ...] = _driver_window()
_apply_driver_window()
