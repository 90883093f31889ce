"""Streaming sessionization tests: the streaming operators must agree with
the batch sessionizer on the same data, including continuity across
micro-batches and across query restarts (checkpoint recovery).

Sink notes: the memory sink cannot recover from a checkpoint, so runs use
foreachBatch -> parquet. session_window aggregations support only append
mode, which emits a session once the watermark passes it — the fixture adds
a far-future sentinel event to flush the real sessions out.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkgraft.ops.sessionize import sessionize
from sparkgraft.streaming.sessions import session_counts_stream, stateful_sessionize

SCHEMA = "event_id long, user_id long, ts timestamp"
SCHEMA_RAW = "event_id long, user_id long, ts string"

BATCH1 = [
    (0, 1, "2024-03-01 12:00:00"),
    (1, 1, "2024-03-01 12:04:00"),   # same session
    (2, 2, "2024-03-01 23:58:00"),   # user 2 seed
]
BATCH2 = [
    (3, 2, "2024-03-02 00:01:00"),   # continues across batch/restart (180s)
    (4, 1, "2024-03-02 00:00:00"),   # new session for user 1 (huge gap)
    (5, 2, "2024-03-02 00:12:00"),   # new session for user 2 (660s)
]
#: watermark pusher — excluded from assertions
SENTINEL = [(99, 99, "2024-03-10 00:00:00")]


def _write_batch(spark, rows, path, n):
    df = spark.createDataFrame(rows, SCHEMA_RAW).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/b{n}")


def _run_stream(spark, src_dir, ckpt, transform, out_dir):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir + "/*")
    )
    q = (
        transform(stream)
        .writeStream.foreachBatch(
            lambda df, _id: df.write.mode("append").parquet(out_dir)
        )
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out_dir)


@pytest.fixture()
def batch_df(spark):
    rows = BATCH1 + BATCH2
    return spark.createDataFrame(rows, SCHEMA_RAW).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def test_stateful_sessionize_matches_batch_across_restart(spark, tmp_path, batch_df):
    src, ckpt, out = str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "out")
    expected = {
        (r.user_id, str(r.ts), r.session_id)
        for r in sessionize(batch_df, order_tiebreak=("event_id",))
        .select("user_id", "ts", "session_id")
        .collect()
    }

    # run 1: first micro-batch only
    _write_batch(spark, BATCH1, src, 1)
    _run_stream(spark, src, ckpt, stateful_sessionize, out)
    # run 2 (NEW query, same checkpoint): state must survive the restart
    _write_batch(spark, BATCH2, src, 2)
    got_df = _run_stream(spark, src, ckpt, stateful_sessionize, out)

    got = {(r.user_id, str(r.ts), r.session_id) for r in got_df.collect()}
    assert got == expected, (
        "streaming session ids must equal the batch sessionizer's, "
        f"diff={got ^ expected}"
    )


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate events re-delivered in a later micro-batch (within the
    watermark) must be dropped; distinct events must all survive."""
    from sparkgraft.streaming.dedup import dedup_within_watermark

    src, ckpt, out = str(tmp_path / "dsrc"), str(tmp_path / "dckpt"), str(tmp_path / "dout")
    batch_a = [
        (10, 1, "2024-03-01 12:00:00"),
        (11, 1, "2024-03-01 12:01:00"),
    ]
    # batch B replays event 11 (at-least-once source) + adds a new event
    batch_b = [
        (11, 1, "2024-03-01 12:01:00"),
        (12, 2, "2024-03-01 12:02:00"),
    ]
    _write_batch(spark, batch_a, src, 1)
    _write_batch(spark, batch_b, src, 2)
    res = _run_stream(
        spark, src, ckpt, lambda df: dedup_within_watermark(df, ["event_id"]), out
    )
    ids = sorted(r.event_id for r in res.collect())
    assert ids == [10, 11, 12], ids


def test_session_window_stream_counts(spark, tmp_path, batch_df):
    src, ckpt, out = str(tmp_path / "src2"), str(tmp_path / "ckpt2"), str(tmp_path / "out2")
    _write_batch(spark, BATCH1, src, 1)
    _write_batch(spark, BATCH2, src, 2)
    _write_batch(spark, SENTINEL, src, 3)
    res = _run_stream(spark, src, ckpt, session_counts_stream, out)
    sessions = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in res.collect()
        if r.user_id != 99
    }
    batch = sessionize(batch_df, order_tiebreak=("event_id",))
    expected = {
        (r.user_id, str(r.session_start)): r.n
        for r in batch.groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n"))
        .select("user_id", "session_start", "n")
        .collect()
    }
    assert sessions == expected


def test_evicting_sessionize_matches_batch(spark, tmp_path, batch_df):
    """EventTimeTimeout eviction must be lossless: ids identical to batch
    sessionize even when idle users' state is dropped between batches.
    BATCH2's user-1 event arrives ~12h after the watermark passed user 1's
    last event + gap, so its state is guaranteed evicted by then."""
    src, ckpt, out = str(tmp_path / "esrc"), str(tmp_path / "eckpt"), str(tmp_path / "eout")
    expected = {
        (r.user_id, str(r.ts), r.session_id)
        for r in sessionize(batch_df, order_tiebreak=("event_id",))
        .select("user_id", "ts", "session_id")
        .collect()
    }
    _write_batch(spark, BATCH1, src, 1)
    _write_batch(spark, BATCH2, src, 2)
    got_df = _run_stream(
        spark, src, ckpt, lambda df: stateful_sessionize(df, evict_watermark="1 minute"), out
    )
    got = {(r.user_id, str(r.ts), r.session_id) for r in got_df.collect()}
    assert got == expected, f"diff={got ^ expected}"


def test_streaming_bitmap_partials_merge_across_batches(spark, tmp_path):
    """The streaming bitmap MV's core claim: users arriving in DIFFERENT
    micro-batches merge through the OR instead of double-counting.  Feed
    3 single-file batches where every user appears in two of them; the
    merged distinct must equal |users|, the run must actually have
    produced multiple per-batch states, and the same (type, bucket) slot
    must appear in more than one batch's partials (a real cross-batch
    merge, not one batch owning everything)."""
    import glob

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    users = list(range(1000, 1100))
    slices = [
        [(u, "click") for u in users if u % 3 != 0],
        [(u, "click") for u in users if u % 3 != 1],
        [(u, "click") for u in users if u % 3 != 2],
    ]
    for i, rows in enumerate(slices):
        spark.createDataFrame(rows, "user_id: long, event_type: string").coalesce(
            1
        ).write.parquet(f"{src}/b{i}")
    stream = (
        spark.readStream.schema("user_id bigint, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )

    def fold(batch_df, batch_id):
        (
            batch_df.groupBy(
                "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bucket")
            )
            .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
            .write.mode("overwrite")
            .parquet(f"{state}/batch={batch_id}")
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    batch_dirs = sorted(glob.glob(f"{state}/batch=*"))
    assert len(batch_dirs) >= 2, batch_dirs
    per_batch_slots = [
        {
            (r["event_type"], r["bucket"])
            for r in spark.read.parquet(d).select("event_type", "bucket").collect()
        }
        for d in batch_dirs
    ]
    shared = set.intersection(*per_batch_slots)
    assert shared, "no (type, bucket) slot spans batches — nothing was merged"
    merged = (
        spark.read.parquet(state + "/batch=*")
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n"))
        .collect()[0]["n"]
    )
    assert merged == len(users)
