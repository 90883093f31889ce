"""Golden sessionization fixture (FIXTURES.md F3): hand-computed session
groupings over edge cases — gap 299/300/301 s, single events, out-of-order
input, identical timestamps across users, cross-batch continuity."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from sparkgraft.ops.sessionize import (
    carryover_frontier,
    sessionize,
    sessionize_with_continuity,
)

T0 = datetime(2024, 3, 1, 12, 0, 0)


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(rows)], "event_id long, user_id string, ts timestamp_ntz"
    )


def _groups(df):
    """{frozenset(event_ids)} per session."""
    rows = df.select("event_id", "session_id").collect()
    by_sess: dict[str, set] = {}
    for r in rows:
        by_sess.setdefault(r.session_id, set()).add(r.event_id)
    return {frozenset(v) for v in by_sess.values()}


def test_gap_rule_299_300(spark):
    rows = [
        ("A", T0),                              # 0: session 1
        ("A", T0 + timedelta(seconds=299)),     # 1: same session (gap < 300)
        ("A", T0 + timedelta(seconds=599)),     # 2: NEW session (gap == 300)
        ("B", T0),                              # 3: own session
    ]
    out = sessionize(_df(spark, rows), order_tiebreak=("event_id",))
    assert _groups(out) == {frozenset({0, 1}), frozenset({2}), frozenset({3})}


def test_out_of_order_input_and_ts_ties(spark):
    # user C events arrive out of time order; D/E share identical timestamps
    rows = [
        ("C", T0 + timedelta(seconds=400)),     # 0: second session
        ("C", T0),                              # 1: first session
        ("C", T0 + timedelta(seconds=60)),      # 2: first session (gap 60)
        ("D", T0),                              # 3
        ("E", T0),                              # 4: independent of D
    ]
    out = sessionize(_df(spark, rows), order_tiebreak=("event_id",))
    assert _groups(out) == {frozenset({1, 2}), frozenset({0}), frozenset({3}), frozenset({4})}


def test_every_event_has_session_and_counts_match(spark, sf_dir):
    from sparkgraft.io.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    out = sessionize(ev, order_tiebreak=("event_id",))
    assert out.where(F.col("session_id").isNull()).count() == 0
    # a session id never spans two users
    n_sessions = out.select("session_id").distinct().count()
    assert out.select("user_id", "session_id").distinct().count() == n_sessions
    # sessions never exceed-gap internally: max internal gap < 300s
    w_ok = (
        out.selectExpr(
            "session_id",
            "ts",
            "lag(ts) OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS prev_ts",
        )
        .where("prev_ts IS NOT NULL AND ts >= prev_ts + INTERVAL 300 SECOND")
        .count()
    )
    assert w_ok == 0


def test_cross_batch_continuity(spark):
    # batch 1: user F last event 23:58, user G last event 23:50
    batch1 = sessionize(
        _df(
            spark,
            [
                ("F", datetime(2024, 3, 1, 23, 58)),
                ("G", datetime(2024, 3, 1, 23, 50)),
            ],
        ),
        order_tiebreak=("event_id",),
    )
    f_sess = {r.user_id: r.session_id for r in batch1.collect()}

    boundary = datetime(2024, 3, 2, 0, 0)
    frontier = carryover_frontier(batch1, boundary)
    # G's last event is 600s before the boundary -> not in the frontier
    assert {r.user_id for r in frontier.collect()} == {"F"}

    # batch 2: F at 00:01 (gap 180s -> SAME session), F at 00:10 (gap 540 -> NEW),
    # G at 00:01 (gap 660s from 23:50 -> NEW session regardless)
    batch2 = _df(
        spark,
        [
            ("F", datetime(2024, 3, 2, 0, 1)),
            ("F", datetime(2024, 3, 2, 0, 10)),
            ("G", datetime(2024, 3, 2, 0, 1)),
        ],
    )
    out = sessionize_with_continuity(batch2, frontier, order_tiebreak=("event_id",))
    got = {r.event_id: r.session_id for r in out.collect()}
    assert got[0] == f_sess["F"], "F's first event continues the carried session"
    assert got[1] != f_sess["F"], "F's 00:10 event starts a new session"
    assert got[2] != f_sess["G"], "G's gap exceeds 300s -> new session"


def test_continuity_without_frontier_matches_plain_sessionize(spark):
    rows = [
        ("H", T0),
        ("H", T0 + timedelta(seconds=100)),
        ("H", T0 + timedelta(seconds=500)),
    ]
    plain = sessionize(_df(spark, rows), order_tiebreak=("event_id",))
    cont = sessionize_with_continuity(_df(spark, rows), None, order_tiebreak=("event_id",))
    assert _groups(plain) == _groups(cont)
    # identical deterministic ids, not just identical groupings
    assert {
        (r.event_id, r.session_id) for r in plain.collect()
    } == {(r.event_id, r.session_id) for r in cont.collect()}


def test_uuid_mode_groups_like_deterministic(spark):
    """Reference-parity uuid ids: random per session but CONSTANT within a
    session — grouping must equal the deterministic mode's."""
    rows = [
        ("A", T0),
        ("A", T0 + timedelta(seconds=100)),
        ("A", T0 + timedelta(seconds=500)),
        ("B", T0),
    ]
    det = sessionize(_df(spark, rows), order_tiebreak=("event_id",))
    uu = sessionize(_df(spark, rows), order_tiebreak=("event_id",), id_kind="uuid")
    assert _groups(uu) == _groups(det) == {frozenset({0, 1}), frozenset({2}), frozenset({3})}
    # and uuid ids look like uuids, not sha hex
    sid = uu.select("session_id").first()[0]
    assert len(sid) == 36 and sid.count("-") == 4


def test_single_shuffle_plan(spark, sf_dir):
    """The whole sessionize pipeline must plan exactly ONE exchange on
    user_id — lag, flag, and forward-fill share a window ordering."""
    from sparkgraft.io.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    plan = sessionize(ev, order_tiebreak=("event_id",))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_skew_split_multi_bucket_chain_and_breaks(spark):
    from sparkgraft.ops.sessionize import sessionize_skew_split

    # bucket = 600 s. User A: one session spanning FOUR buckets (events every
    # 250 s, all gaps < 300), then a break, then a second session that also
    # crosses a boundary. User B: two sessions inside one bucket.
    rows = [
        ("A", T0 + timedelta(seconds=s)) for s in range(0, 2001, 250)  # 0..8
    ] + [
        ("A", T0 + timedelta(seconds=2800)),   # 9: gap 799 -> new session
        ("A", T0 + timedelta(seconds=3050)),   # 10: gap 250, crosses 3000s edge
        ("B", T0 + timedelta(seconds=100)),    # 11
        ("B", T0 + timedelta(seconds=500)),    # 12: gap 400 -> new session
    ]
    df = _df(spark, rows)
    out = sessionize_skew_split(df, order_tiebreak=("event_id",), bucket_seconds=600)
    assert _groups(out) == {
        frozenset(range(9)),
        frozenset({9, 10}),
        frozenset({11}),
        frozenset({12}),
    }
    # ids (not just groupings) must be byte-identical to plain sessionize
    plain = sessionize(df, order_tiebreak=("event_id",))
    assert {
        (r.event_id, r.session_id) for r in out.select("event_id", "session_id").collect()
    } == {(r.event_id, r.session_id) for r in plain.select("event_id", "session_id").collect()}


def test_skew_split_exact_gap_at_bucket_boundary(spark):
    from sparkgraft.ops.sessionize import sessionize_skew_split

    # prev event 300 s before a bucket edge, next exactly ON the edge: gap
    # == 300 -> NEW session; continues-rule (< gap) must agree with the
    # within-bucket rule (>= gap).
    rows = [
        ("A", T0 + timedelta(seconds=300)),  # 0  (T0 is a 600-bucket edge)
        ("A", T0 + timedelta(seconds=600)),  # 1: gap exactly 300 -> new
        ("A", T0 + timedelta(seconds=899)),  # 2: gap 299 -> same as 1
    ]
    out = sessionize_skew_split(
        _df(spark, rows), order_tiebreak=("event_id",), bucket_seconds=600
    )
    assert _groups(out) == {frozenset({0}), frozenset({1, 2})}


def test_sessionize_auto_picks_plain_on_uniform(spark, sf_dir):
    """On the uniform events table no key comes near the hot threshold, so
    sessionize_auto must run the PLAIN single-exchange plan — paying the
    split's 2x scan on uniform data is the measured 3.5x regression the
    A/B found below the crossover."""
    from sparkgraft.io.readers import read_table
    from sparkgraft.ops.sessionize import sessionize, sessionize_auto

    ev = read_table(spark, sf_dir, "events")
    out = sessionize_auto(ev, order_tiebreak=("event_id",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the plain plan: exactly one exchange, no bucket-stitch join
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # and byte-identical ids to the canonical definition
    plain = sessionize(ev, order_tiebreak=("event_id",))
    assert {
        (r.event_id, r.session_id)
        for r in out.select("event_id", "session_id").collect()
    } == {
        (r.event_id, r.session_id)
        for r in plain.select("event_id", "session_id").collect()
    }


def test_sessionize_auto_engages_split_on_hot_key(spark, sf_dir):
    """With the 20%-hot-key adversary and a threshold the bot key clears,
    sessionize_auto must flip to the skew-split plan (window keyed by
    (user, bucket), stitch join present) and still emit byte-identical
    session ids — the flip is result-invisible by construction."""
    from sparkgraft.io.readers import read_table
    from sparkgraft.ops.sessionize import sessionize, sessionize_auto

    ev = read_table(spark, sf_dir, "events")
    hot = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 5 == 0, F.lit(-1).cast("bigint")).otherwise(
            F.col("user_id")
        ),
    )
    out = sessionize_auto(
        hot, order_tiebreak=("event_id",), bucket_seconds=6 * 3600, hot_rows=100
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the split plan windows over (user, bucket) and joins the stitch back
    assert "__bkt" in plan, plan
    assert plan.count("Exchange hashpartitioning") >= 2, plan
    plain = sessionize(hot, order_tiebreak=("event_id",))
    assert {
        (r.event_id, r.session_id)
        for r in out.select("event_id", "session_id").collect()
    } == {
        (r.event_id, r.session_id)
        for r in plain.select("event_id", "session_id").collect()
    }


def test_measure_hotness_counts(spark):
    from sparkgraft.ops.sessionize import measure_hotness

    rows = [("A", T0)] * 5 + [("B", T0)] * 2
    df = spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(rows)], "event_id long, user_id string, ts timestamp_ntz"
    )
    assert measure_hotness(df, "user_id") == (5, 7)


def test_continuity_rejects_time_traveling_rows(spark):
    """r12 drift-audit find: a corrupt out-of-range timestamp in a batch
    (epoch-era row in a 2024 month file) must NOT adopt the frontier
    session — ``ts < last_event_ts + gap`` holds trivially for ancient
    rows, so the rule also requires ``ts >= last_event_ts``.  Batch
    semantics give such a row its own session keyed at its own ts."""
    from datetime import datetime

    batch1 = sessionize(
        _df(spark, [("F", datetime(2024, 3, 1, 23, 58))]),
        order_tiebreak=("event_id",),
    )
    carried = batch1.collect()[0].session_id
    frontier = carryover_frontier(batch1, datetime(2024, 3, 2))

    batch2 = _df(
        spark,
        [
            ("F", datetime(1970, 2, 1, 0, 0)),  # corrupt: decades early
            ("F", datetime(2024, 3, 2, 0, 1)),  # genuine continuation
        ],
    )
    out = sessionize_with_continuity(batch2, frontier, order_tiebreak=("event_id",))
    got = {r.event_id: r.session_id for r in out.collect()}
    assert got[0] != carried, "ancient row must not join the carried session"
    # NOTE: the genuine 00:01 row is no longer the user's FIRST batch row
    # (the corrupt row precedes it), so per the declared contract the
    # continuation rule does not reach it — it starts a fresh session.
    # Full batch equivalence under out-of-range input is explicitly NOT
    # claimed; month extracts are range-filtered at the source (the ETL
    # lane's derivation and the reference's month files both guarantee it).
    assert got[1] != carried and got[1] != got[0]
