"""Event-time sessionization — the reference's signature capability (§2.11).

Semantics (reference transformer/DataLoadTransformer.scala:57-81, rule in the
Korean comment at :58-59): a new session starts at a user's first event, or
whenever the gap since their previous event is >= ``gap_seconds`` (default
300 s). Every event carries its session's id.

Engine design (idiomatic Spark, one shuffle):

1. ``lag(ts)`` over (user, ts-order)            -> previous event time   [W1]
2. ``is_new = prev IS NULL OR ts >= prev+gap``  -> session-start flag
3. session_start = running max of start ts      -> forward-fill          [W2]
   (monotone, so ``max`` over an unbounded-preceding frame is equivalent to
   ``last(…, ignoreNulls)`` and cheaper: no null bookkeeping)
4. session_id = sha2(user # epoch_us(start))    -> deterministic id

The reference generates a random UUID per session start (UD1,
DataLoadTransformer.scala:60) — non-deterministic, not oracle-checkable, and
dangerous under task retry (a recomputed partition would mint new ids).
Our default is a content-derived id with the same uniqueness contract
(unique per (user, session-start instant)); pass ``id_kind="uuid"`` for
behavioral parity with the reference.

All three windows share ONE partitioning (user) and ordering (ts, tiebreak),
so Catalyst plans a single Exchange+Sort for the whole pipeline — verified
via explain() in tests. At 100 TB this is one shuffle of the event table,
the theoretical minimum for per-user ordered work.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 300,
    order_tiebreak: Sequence[str] = (),
    id_kind: str = "deterministic",
    session_col: str = "session_id",
) -> DataFrame:
    """Assign ``session_col`` to every event. Adds nothing else.

    ``order_tiebreak``: extra ordering columns after ``ts_col`` so rows with
    identical timestamps order deterministically (required for oracle
    parity; pass e.g. ``("event_id",)``).
    """
    order_cols = [ts_col, *order_tiebreak]
    w = Window.partitionBy(user_col).orderBy(*order_cols)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    prev_ts = F.lag(ts_col).over(w)
    gap = F.expr(f"INTERVAL {int(gap_seconds)} SECOND")
    is_new = prev_ts.isNull() | (F.col(ts_col) >= prev_ts + gap)

    if id_kind == "uuid":
        # Reference-parity path (UD1): a fresh random UUID minted AT each
        # session start, forward-filled to the session's remaining events —
        # exactly the reference's shape (UUID at starts + last ignoreNulls).
        # Non-deterministic across runs by design; not oracle-checkable.
        start_id = F.when(is_new, F.expr("uuid()"))
        return df.withColumn(session_col, F.last(start_id, ignorenulls=True).over(run))
    if id_kind != "deterministic":
        raise ValueError(f"unknown id_kind: {id_kind}")

    start_marker = F.when(is_new, F.col(ts_col))
    session_start = F.max(start_marker).over(run)
    out = df.withColumn("__session_start", session_start)
    out = out.withColumn(session_col, _session_id(user_col, "__session_start", id_kind))
    return out.drop("__session_start")


def _session_id(user_col: str, start_col: str, id_kind: str) -> Column:
    return F.sha2(
        F.concat_ws(
            "#",
            F.col(user_col).cast("string"),
            F.unix_micros(F.col(start_col).cast("timestamp")).cast("string"),
        ),
        256,
    )


def sessionize_skew_split(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 300,
    order_tiebreak: Sequence[str] = (),
    session_col: str = "session_id",
    bucket_seconds: int = 86_400,
) -> DataFrame:
    """``sessionize`` for SKEWED users — identical output, bounded partitions.

    Plain ``sessionize`` windows over (user): one hot user with 10⁸ events
    lands in one task. This variant pre-splits by (user, time-bucket) so no
    window partition exceeds one bucket of one user, then stitches sessions
    across bucket boundaries (the same carryover rule the batch boundary
    uses — reference transformer/DataLoadTransformer.scala:94-158; bucket
    boundaries are just denser batch boundaries).

    Plan shape (verified in tests/test_plans.py):

    1. Window over (user, bucket)  -> within-bucket session starts. Bucket =
       ``floor(epoch / bucket_seconds)``; partitions bounded by events-per-
       user-per-bucket regardless of total user volume.
    2. Per-(user, bucket) boundary relation (ONE row per user-bucket — tiny,
       map-side-combined groupBy of the windowed frame): first/last event ts
       and first/last within-bucket session start.
    3. Stitch over (user) ordered by bucket — at most #buckets rows per
       user, so this window is skew-free by construction:
       - ``continues(b)``: bucket b's first event is < gap after the
         previous bucket's last event (exactly the complement of the
         within-bucket ``is_new`` rule, so boundary semantics match).
       - A session CHAIN passes through bucket b only when b is a single
         session (first_start == last_start) AND continues; forward-fill
         the last non-chained ``last_start`` to get the true global start
         of each bucket's last session, then the bucket's first session's
         true start = previous bucket's filled value when it continues.
    4. Join the stitch relation back on (user, bucket) — same keys as the
       step-1 shuffle, so the exchange is reused, and rewrite only the
       rows of each bucket's FIRST session when it continues.

    Output session ids are byte-identical to ``sessionize(...)`` (same
    deterministic id over the same true session-start instant) — pinned by
    an equality property test. Only ``id_kind="deterministic"`` semantics
    (uuid minting can't be replayed across the two plans).

    Cost note: the stitch relation derives from the windowed frame, so the
    fact is scanned + windowed twice (Catalyst has no common-subplan
    materialization). That 2x is the price of bounding the worst task; use
    plain ``sessionize`` when no user is hot, or persist the step-1 frame
    on a real cluster to pay the scan once.
    """
    if int(bucket_seconds) <= int(gap_seconds):
        raise ValueError("bucket_seconds must exceed gap_seconds")
    order_cols = [ts_col, *order_tiebreak]
    gap = F.expr(f"INTERVAL {int(gap_seconds)} SECOND")
    bucket = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(int(bucket_seconds) * 1_000_000)
    )

    # 1. within-bucket sessionize (bounded window partitions)
    ev = df.withColumn("__bkt", bucket)
    w = Window.partitionBy(user_col, "__bkt").orderBy(*order_cols)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag(ts_col).over(w)
    is_new = prev_ts.isNull() | (F.col(ts_col) >= prev_ts + gap)
    ev = ev.withColumn("__local_start", F.max(F.when(is_new, F.col(ts_col))).over(run))

    # 2. one row per (user, bucket)
    seg = ev.groupBy(user_col, "__bkt").agg(
        F.min(ts_col).alias("__first_ts"),
        F.max(ts_col).alias("__last_ts"),
        F.min("__local_start").alias("__first_start"),
        F.max("__local_start").alias("__last_start"),
    )

    # 3. stitch chains across buckets (window over <= #buckets rows/user)
    wb = Window.partitionBy(user_col).orderBy("__bkt")
    runb = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_last_ts = F.lag("__last_ts").over(wb)
    seg = seg.withColumn(
        "__continues", prev_last_ts.isNotNull() & (F.col("__first_ts") < prev_last_ts + gap)
    )
    chained_through = F.col("__continues") & (F.col("__first_start") == F.col("__last_start"))
    anchor = F.when(~chained_through, F.col("__last_start"))
    seg = seg.withColumn("__true_last_start", F.last(anchor, ignorenulls=True).over(runb))
    seg = seg.withColumn(
        "__true_first_start",
        F.when(F.col("__continues"), F.lag("__true_last_start").over(wb)).otherwise(
            F.col("__first_start")
        ),
    )

    # 4. rewrite each bucket's first-session rows when the chain continues
    stitch = seg.select(
        user_col, "__bkt", "__first_start", "__continues", "__true_first_start"
    )
    out = ev.join(stitch, on=[user_col, "__bkt"])
    global_start = F.when(
        F.col("__continues") & (F.col("__local_start") == F.col("__first_start")),
        F.col("__true_first_start"),
    ).otherwise(F.col("__local_start"))
    out = out.withColumn("__global_start", global_start)
    out = out.withColumn(session_col, _session_id(user_col, "__global_start", "deterministic"))
    return out.drop(
        "__bkt",
        "__local_start",
        "__first_start",
        "__continues",
        "__true_first_start",
        "__global_start",
    )


def measure_hotness(
    df: DataFrame,
    key_col: str,
) -> tuple[int, int]:
    """(max rows on one key, total rows) — the one-pass planning statistic
    behind ``sessionize_auto``'s plan flip.

    One map-side-combined groupBy of the pruned key column folded to a
    single driver row; at 100 TB that is a scan of ONE column plus a
    shuffle of #distinct-keys count rows — small next to the windowed
    shuffle either sessionize plan pays, and the same
    measure-then-choose precedent the dedup blocking join uses
    (ext/dedup.ngram_jaccard_pairs' measured-dup-ratio flip)."""
    row = (
        df.select(key_col)
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("mx"), F.sum("__n").alias("n"))
        .first()
    )
    return int(row.mx or 0), int(row.n or 0)


def sessionize_auto(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 300,
    order_tiebreak: Sequence[str] = (),
    session_col: str = "session_id",
    bucket_seconds: int = 86_400,
    hot_rows: int = 2_000_000,
    hotness: tuple[int, int] | None = None,
) -> DataFrame:
    """``sessionize`` with the skew defense engaged only when the data is
    actually hot — the measured A/B (SCALE_CHECK_r07 skew_ab) shows the
    split plan LOSES ~3.5x below its crossover (it scans + windows twice
    to bound the worst task) and wins only once one key's rows dominate a
    task, so hard-coding either plan is wrong somewhere.

    Decision rule: engage ``sessionize_skew_split`` iff some key holds at
    least ``hot_rows`` events.  Absolute rows, not share: task wall-clock
    is set by the biggest single (user) window partition, not by its
    fraction of the table (20% of 60k rows is still a trivial task; 2% of
    100 TB is not).  The default sits at the measured local[32] crossover
    (~2M hot-key rows at the 100x A/B point); on a real cluster the
    crossover arrives earlier — neighbors don't idle-absorb the straggler
    — so tune ``hot_rows`` DOWN, never up, when moving off a single node.

    Output is byte-identical whichever plan runs (both emit the same
    deterministic ids over the same true session-start instants — pinned
    by the equality property test), so the flip is invisible to results,
    exactly like the dedup blocking-plan flip it copies.

    ``hotness``: pass a cached ``(max rows on one key, total rows)``
    statistic — e.g. ``catalog.load_table_stats``'s per-epoch figure — to
    skip the measuring scan (SCALE.md §Planning statistics: compute once
    per table epoch at ingest, not per invocation).
    """
    mx, _n = hotness if hotness is not None else measure_hotness(df, user_col)
    if mx >= int(hot_rows):
        return sessionize_skew_split(
            df,
            user_col=user_col,
            ts_col=ts_col,
            gap_seconds=gap_seconds,
            order_tiebreak=order_tiebreak,
            session_col=session_col,
            bucket_seconds=bucket_seconds,
        )
    return sessionize(
        df,
        user_col=user_col,
        ts_col=ts_col,
        gap_seconds=gap_seconds,
        order_tiebreak=order_tiebreak,
        session_col=session_col,
    )


def carryover_frontier(
    existing: DataFrame,
    boundary_ts,
    user_col: str = "user_id",
    ts_col: str = "ts",
    session_col: str = "session_id",
    gap_seconds: int = 300,
) -> DataFrame:
    """Each user's LAST event within ``gap_seconds`` before ``boundary_ts``.

    Parity: reference transformer/DataLoadTransformer.scala:111-131 — the
    "last 5 minutes of the previous batch" slice used to stitch sessions
    across batch boundaries. Output columns:
    (user, existing_session_id, last_event_ts).

    The time-slice filter happens BEFORE the window, so at scale this reads
    one partition's tail, not the table.
    """
    boundary = F.lit(boundary_ts).cast(existing.schema[ts_col].dataType)
    gap = F.expr(f"INTERVAL {int(gap_seconds)} SECOND")
    sliver = existing.where((F.col(ts_col) < boundary) & (F.col(ts_col) >= boundary - gap))
    w_max = F.max(ts_col).over(Window.partitionBy(user_col))
    return (
        sliver.withColumn("__max_ts", w_max)
        .where(F.col(ts_col) == F.col("__max_ts"))  # P6: keep latest per user
        .select(
            F.col(user_col),
            F.col(session_col).alias("existing_session_id"),
            F.col(ts_col).alias("last_event_ts"),
        )
        .dropDuplicates([user_col])  # ties on identical ts: any one row works
    )


def sessionize_with_continuity(
    new_events: DataFrame,
    frontier: DataFrame | None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 300,
    order_tiebreak: Sequence[str] = (),
    session_col: str = "session_id",
) -> DataFrame:
    """Sessionize ``new_events``, adopting carried-over session ids where a
    user's first new event continues a session from the previous batch.

    Parity: reference transformer/DataLoadTransformer.scala:94-158
    (replaceWithExistingSessionId): left-join the frontier on user [J1], and
    where the first new event starts < gap after the carried-over last
    event, keep the existing session id instead of minting a new one.

    The frontier is tiny (≤1 row per active-in-last-5-min user), so Spark
    broadcast-joins it — no extra shuffle of the event table.
    """
    order_cols = [ts_col, *order_tiebreak]
    w = Window.partitionBy(user_col).orderBy(*order_cols)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.expr(f"INTERVAL {int(gap_seconds)} SECOND")

    prev_ts = F.lag(ts_col).over(w)
    df = new_events.withColumn("__prev_ts", prev_ts)

    if frontier is not None:
        df = df.join(F.broadcast(frontier), on=user_col, how="left")
        # The batch-continuation rule applies only to a user's FIRST event in
        # this batch (prev IS NULL within the batch).  The lower bound
        # (ts >= last_event_ts) is a no-op for in-contract loads (every new
        # row sits at/after the batch boundary, which is after the frontier)
        # but keeps an OUT-OF-RANGE row — e.g. a corrupt epoch-0 timestamp
        # in a month file, the r12 drift rig's find — from time-traveling
        # into the carried session: batch semantics would give such a row
        # its own ancient session, never the frontier's id.
        continues = (
            F.col("__prev_ts").isNull()
            & F.col("last_event_ts").isNotNull()
            & (F.col(ts_col) >= F.col("last_event_ts"))
            & (F.col(ts_col) < F.col("last_event_ts") + gap)
        )
    else:
        df = df.withColumn("existing_session_id", F.lit(None).cast("string"))
        continues = F.lit(False)

    is_new = (F.col("__prev_ts").isNull() | (F.col(ts_col) >= F.col("__prev_ts") + gap)) & ~continues

    start_marker = F.when(is_new, F.col(ts_col))
    session_start = F.max(start_marker).over(run)
    fresh_id = _session_id(user_col, "__session_start", "deterministic")
    carried_id = F.last(F.when(continues, F.col("existing_session_id")), ignorenulls=True).over(run)

    out = (
        df.withColumn("__session_start", session_start)
        .withColumn(
            session_col,
            # A row belongs to the carried-over session iff no fresh session
            # has started at-or-before it (session_start null ⇒ the only
            # start so far was the carried one).
            F.when(F.col("__session_start").isNull(), carried_id).otherwise(fresh_id),
        )
        .drop("__prev_ts", "__session_start", "existing_session_id", "last_event_ts")
    )
    return out
