"""The one place sparkgraft checkpoints a relation.

Spark's deployment setting picks the kind: with a checkpoint directory
(``spark.checkpoint.dir`` or ``SparkContext.setCheckpointDir``) both
functions write the reliable ``checkpoint(eager=True)`` there, which
survives executor loss; without one they use ``localCheckpoint``, whose
blocks die with the executor holding them.  The reliable form is never
lazy: a lazy one writes its files in a second job after the first
action, so the child runs twice (2000 rows, 4000 UDF calls in local[4]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _reliable(df: DataFrame) -> bool:
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def materialize(df: DataFrame) -> DataFrame:
    """``df`` computed now, as a relation whose lineage starts at the
    stored result: later readers neither recompute nor re-plan it."""
    if _reliable(df):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def sorted_output(df: DataFrame, *keys) -> DataFrame:
    """``df`` materialized, then globally sorted by ``keys``.

    A global sort range-partitions its input, and the RangePartitioner's
    boundary-sampling pass runs the child once in full BEFORE the real
    pass: an opaque Arrow/Python decode chain would synthesize and decode
    every payload TWICE (measured +1.5 s of the jpeg_rst lane's 2.9 s).
    A lazy local checkpoint is filled by the sampling job and reused by
    the shuffle (the eager reliable one is filled before it), so the
    child runs once; rows and order are unchanged.

    Shape rule (r14): worth it only when the re-run subtree is expensive
    AND exchange-free (decode chains).  Under AQE the sampler re-runs only
    the post-last-shuffle tail, and a lazy checkpoint on an AQE plan
    EAGERLY executes every intermediate query stage at build plus a
    block-store copy — a net LOSS on join/agg-shaped lanes (trade_pagerank
    3.54 -> 4.09 s, value_mad 1.87 -> 2.52 s with it), so the six
    plan-gated lanes sort without one.  The surviving shuffle-bearing
    callers were re-A/B'd and keep a small win (text_bigram_lm_score
    1.35 vs 1.53 s without).
    """
    if _reliable(df):
        return df.checkpoint(eager=True).orderBy(*keys)
    return df.localCheckpoint(eager=False).orderBy(*keys)
