"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import pytest

import gen
import run
import stats
from trace import Tracer

ROOT = os.path.dirname(run.HERE)


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def test_months_are_byte_identical_per_seed(tmp_path):
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_months(str(tmp_path / d), seed, n_months=3, rows_per_month=600, users=50)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_months_hold_only_their_own_month_and_plant_boundary_users(tmp_path):
    import pandas as pd

    paths = gen.write_months(str(tmp_path), 3, n_months=4, rows_per_month=600, users=50)
    frames = {}
    for month, path in paths.items():
        df = pd.read_csv(path)
        ts = pd.to_datetime(df.event_time.str.removesuffix(" UTC"))
        assert (ts.dt.strftime("%Y-%m") == month).all()
        frames[month] = (ts, df.user_id)
    # some user acts within 5 minutes on both sides of each month boundary
    for before, after in zip(list(paths), list(paths)[1:]):
        ts_b, users_b = frames[before]
        ts_a, users_a = frames[after]
        edge = pd.Timestamp(after + "-01")
        tail = set(users_b[ts_b >= edge - pd.Timedelta(minutes=5)])
        head = set(users_a[ts_a < edge + pd.Timedelta(minutes=5)])
        assert tail & head


def test_documents_are_byte_identical_per_seed_with_planted_duplicates(tmp_path):
    import pyarrow.parquet as pq

    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        gen.write_documents(str(tmp_path / name / "documents.parquet"), seed, docs=200, words=20)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    texts = pq.read_table(tmp_path / "a" / "documents.parquet").column("text").to_pylist()
    assert len(set(texts)) < len(texts)  # exact copies planted
    assert len({" ".join(t.lower().split()) for t in texts}) < len(set(texts))  # case/space variants


@pytest.mark.parametrize(
    "n, q",
    [(1, 0.5), (19, 0.5), (20, 0.5), (21, 11 / 21), (40, 0.75), (100, 0.9), (1000, 0.9)],
)
def test_tail_quantile_leaves_ten_samples_beyond(n, q):
    assert stats.tail_quantile(n) == pytest.approx(q)
    if q > 0.5:
        assert stats.beyond(n, stats.tail_quantile(n)) >= 10


def test_quantile_nearest_rank_and_median():
    values = [float(v) for v in range(1, 101)]
    assert stats.quantile(values, 0.9) == 90.0
    assert stats.beyond(100, 0.9) == 10
    assert stats.quantile([3.0, 1.0, 2.0, 10.0], 0.5) == 2.5


def test_op_count_depends_on_seconds_only():
    import workloads

    ingest, dedup = workloads.Ingest, workloads.Dedup
    assert ingest.ops_for(18) == 4  # three monthly loads and the reload
    assert ingest.ops_for(1) == 3  # at least two loads and the reload
    assert dedup.ops_for(1) == dedup.ops_for(18) == 2
    assert dedup.ops_for(20) == 3  # rounds half up
    assert dedup.ops_for(40) == 5


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    names = [*e2e, *layer, *(w["name"] for w in bench["workloads"])]
    assert len(names) == len(set(names))
    assert all(stats.NAME_RE.fullmatch(n) for n in names)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)


def test_span_self_time_excludes_children():
    tracer = Tracer()
    with tracer.span("outer"):
        time.sleep(0.02)
        with tracer.span("inner"):
            time.sleep(0.03)
    s = tracer.summary()
    assert s["outer"]["calls"] == s["inner"]["calls"] == 1
    assert s["inner"]["self_s"] == pytest.approx(s["inner"]["wall_s"])
    assert s["outer"]["self_s"] == pytest.approx(s["outer"]["wall_s"] - s["inner"]["wall_s"])
    assert tracer.spans[1]["parent"] == 0
    assert tracer.descendants(0) == {0, 1}


def test_wrap_patches_the_callers_namespace_and_unwraps():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tracer = Tracer()
    tracer.wrap(mod, "f", "mod.f")
    tracer.op = 7
    assert mod.f(1) == 2
    assert tracer.spans[0]["name"] == "mod.f" and tracer.spans[0]["op"] == 7
    tracer.unwrap_all()
    mod.f(1)
    assert len(tracer.spans) == 1


def test_jobs_are_attributed_to_the_innermost_span(tmp_path):
    import types

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(tmp_path))
        .getOrCreate()
    )
    try:
        mod = types.SimpleNamespace(
            count=lambda: spark.range(1000).repartition(3).count(),
            outer=lambda: mod.count() + spark.range(10).count(),
        )
        tracer = Tracer()
        tracer.wrap(mod, "count", "inner")
        tracer.wrap(mod, "outer", "outer")
        assert mod.outer() == 1010
        tracer.collect_spark(spark)
        s = tracer.summary()
        assert s["inner"]["stages"] >= 2  # the shuffle and the count
        assert s["outer"]["stages"] >= 1  # its own job only
        assert s["inner"]["tasks"] > s["outer"]["tasks"]
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    finally:
        spark.stop()
