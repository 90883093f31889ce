"""The one materialization primitive (sparkgraft/ops/materialize.py).

The shared test session sets no checkpoint directory, so in-process tests
exercise the local branch.  The reliable branch runs in a subprocess: a
checkpoint directory set on the shared session would switch every later
test to it.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F, types as T

from sparkgraft.ops.materialize import materialize, sorted_output

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _counted(spark, n):
    """``n`` rows behind a Python UDF that counts its own evaluations."""
    acc = spark.sparkContext.accumulator(0)

    def touch(x):
        acc.add(1)
        return x

    f = F.udf(touch, T.LongType())
    return spark.range(n).select(f("id").alias("v")), acc


def test_each_primitive_computes_its_child_once(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df, acc = _counted(spark, 2000)
    assert materialize(df).count() == 2000
    assert acc.value == 2000

    df, acc = _counted(spark, 2000)
    rows = [r.v for r in sorted_output(df, F.col("v").desc()).collect()]
    assert rows == list(range(1999, -1, -1))
    assert acc.value == 2000

    # the cost sorted_output exists to avoid: the sort's sampling pass
    # runs an uncheckpointed child a second time
    df, acc = _counted(spark, 2000)
    df.orderBy(F.col("v").desc()).collect()
    assert acc.value == 4000


def test_checkpoint_calls_live_only_in_materialize():
    pkg = os.path.join(REPO, "sparkgraft")
    call = re.compile(r"\.(localCheckpoint|checkpoint)\(")
    hits = []
    for root, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(pkg, "ops", "materialize.py"):
                continue
            with open(path) as fh:
                hits += [
                    f"{os.path.relpath(path, REPO)}:{i}"
                    for i, line in enumerate(fh, 1)
                    if call.search(line)
                ]
    assert not hits, hits


def test_reliable_checkpoint_survives_executor_loss(tmp_path, sf_dir):
    """With ``spark.checkpoint.dir`` set, a materialized relation is read
    back after the executor that computed part of it is gone.  A local
    checkpoint loses that executor's blocks and the read aborts with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""
    script = textwrap.dedent(
        """
        import time
        from pyspark.sql import functions as F
        from sparkgraft.ext import dedup
        from sparkgraft.io.readers import read_table
        from sparkgraft.ops.materialize import materialize, sorted_output
        from sparkgraft.session import get_spark
        from tests.test_materialize import _counted

        spark = get_spark(
            "reliable-checkpoint-test",
            master="local-cluster[2,1,1024]",
            shuffle_partitions=4,
            extra_conf={{
                "spark.checkpoint.dir": {ckpt!r},
                "spark.driver.memory": "1g",
                # every task of the first wave goes to a free executor, and
                # the shingle relation keeps 4 partitions, so both
                # executors compute part of it
                "spark.locality.wait": "0",
                "spark.sql.adaptive.coalescePartitions.enabled": "false",
            }},
        )
        sc = spark.sparkContext
        jsc = sc._jsc.sc()

        def executors():
            return jsc.getExecutorMemoryStatus().size() - 1  # minus the driver

        deadline = time.time() + 120
        while executors() < 2:
            assert time.time() < deadline, "executors did not register"
            time.sleep(0.5)

        docs = read_table(spark, {sf_dir!r}, "documents")
        ds = materialize(dedup.doc_shingles(docs))
        want = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs, shingles=ds).collect()))
        assert want, "fixture must contain near-dup pairs"

        assert jsc.killExecutor("0")
        deadline = time.time() + 120
        while executors() > 1:
            assert time.time() < deadline, "executor 0 did not go away"
            time.sleep(0.5)
        got = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs, shingles=ds).collect()))
        assert got == want, (len(got), len(want))

        df, acc = _counted(spark, 2000)
        rows = [r.v for r in sorted_output(df, F.col("v").desc()).collect()]
        assert rows == list(range(1999, -1, -1))
        assert acc.value == 2000, acc.value
        print("RELIABLE_OK")
        spark.stop()
        """
    ).format(ckpt=str(tmp_path / "ckpt"), sf_dir=sf_dir)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    ))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),
        env=env,
    )
    assert "RELIABLE_OK" in proc.stdout, (
        f"stdout={proc.stdout[-2000:]}\nstderr={proc.stderr[-4000:]}"
    )
