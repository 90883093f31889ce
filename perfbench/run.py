"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,wau,dedup} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout.  The workload's inputs are generated from
the seed (and cached per seed under ``.perfbench_work/inputs``); the
warehouse, Derby metastore, ``derby.log`` and Spark scratch live in a
per-run directory under ``.perfbench_work`` that is removed on exit.

The session is ``sparkgraft.session.get_spark`` with a Hive metastore at
``local[<cpus this process may use>]``, driven by one thread.  ``setup_s``
times the set-up: session start (JVM and Hive client included), the
workload's warm-up and, for ``wau``, the table preload.  A fixed number of
ops for ``--seconds`` then run (about ``--seconds`` of op time on a 4-core
host, and at least two or three), their
outputs are checked against DuckDB, and the last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The lines before it are a readable report.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from stats import beyond, quantile, tail_quantile

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOAD_NAMES = ("ingest", "wau", "dedup")

#: end-to-end metric -> unit (``--trace 0``)
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_ms_p50": "ms",
}


def _span_metrics() -> dict[str, tuple[str, str, str]]:
    """Per-layer metric -> (span name, field, unit) read from the trace.

    Span times are shares of the measured window (``wall_frac``,
    ``self_frac``; ``executor_cpu_frac`` is executor CPU over cpus x
    window), so a layer a workload leaves idle reads 0 as a share, and
    ``core_busy_frac`` is the span's executor run time over cpus x its own
    wall time."""
    spec = {
        "catalog.load_overwrite": ("wall_frac", "executor_cpu_frac", "core_busy_frac", "shuffle_write_bytes",
                                   "spill_bytes", "output_bytes"),
        "catalog.ensure_table": ("calls", "wall_frac"),
        "catalog.read_table": ("calls", "wall_frac"),
        "ops.sessionize.carryover_frontier": ("wall_frac",),
        "ops.sessionize.sessionize_with_continuity": ("wall_frac",),
        "pipelines.user_activity.load_months": ("calls", "wall_frac", "self_frac"),
        "pipelines.user_activity.extract_months": ("wall_frac", "self_frac"),
        "io.readers.read_csv": ("calls", "wall_frac"),
        "io.readers.read_table": ("calls", "wall_frac"),
        "ext.dedup.minhash_lsh_pairs": ("wall_frac", "self_frac", "stages", "single_task_stages"),
        "ext.dedup.dup_clusters": ("wall_frac",),
        "ext.dedup.ngram_jaccard_pairs": ("wall_frac", "self_frac", "stages", "single_task_stages"),
        "ext.dedup.connected_components": ("wall_frac", "self_frac", "stages", "single_task_stages"),
        "dedup.sink": ("wall_frac", "core_busy_frac", "stages", "single_task_stages"),
        "session.get_spark": ("calls", "wall_s"),
    }
    units = {"calls": "count", "stages": "count", "single_task_stages": "count", "wall_s": "s"}
    return {
        f"{span}.{field}": (span, field, units.get(field, "B" if field.endswith("bytes") else "frac"))
        for span, fields in spec.items()
        for field in fields
    }


SPAN_METRICS = _span_metrics()

#: per-layer metric -> unit (``--trace 1``)
PER_LAYER = {
    **{name: unit for name, (_, _, unit) in SPAN_METRICS.items()},
    "catalog.load_overwrite.output_bytes_per_input_byte": "B/B",
    "session.jvm_peak_rss_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_frac": "frac",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.single_task_stages": "count",
    "spark.shuffle_write_bytes": "B",
    "trace.spans": "count",
    "trace.wrapper_s": "s",
    "trace.wrapper_frac": "frac",
    "trace.items_per_s": "1/s",
    "trace.op_ms_p50": "ms",
}

#: (module path, attribute, span name) wrapped in a traced run — each at
#: the namespace its caller resolves it in
TRACED = (
    ("sparkgraft.session", "get_spark", "session.get_spark"),
    ("sparkgraft.pipelines.user_activity", "read_csv", "io.readers.read_csv"),
    ("sparkgraft.io.readers", "read_table", "io.readers.read_table"),
    ("sparkgraft.pipelines.user_activity", "carryover_frontier", "ops.sessionize.carryover_frontier"),
    ("sparkgraft.pipelines.user_activity", "sessionize_with_continuity",
     "ops.sessionize.sessionize_with_continuity"),
    ("sparkgraft.catalog", "ensure_table", "catalog.ensure_table"),
    ("sparkgraft.catalog", "load_overwrite", "catalog.load_overwrite"),
    ("sparkgraft.catalog", "extract_sql", "catalog.extract_sql"),
    ("sparkgraft.catalog", "read_table", "catalog.read_table"),
    ("sparkgraft.pipelines.user_activity", "load_months", "pipelines.user_activity.load_months"),
    ("sparkgraft.pipelines.user_activity", "extract_months", "pipelines.user_activity.extract_months"),
    ("sparkgraft.ext.dedup", "minhash_lsh_pairs", "ext.dedup.minhash_lsh_pairs"),
    ("sparkgraft.ext.dedup", "dup_clusters", "ext.dedup.dup_clusters"),
    ("sparkgraft.ext.dedup", "ngram_jaccard_pairs", "ext.dedup.ngram_jaccard_pairs"),
    ("sparkgraft.ext.dedup", "connected_components", "ext.dedup.connected_components"),
)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _input_key(workload: str, seed: int) -> str:
    """Cache key: workload, seed and the generator/oracle sources, so an
    edited generator never reuses stale inputs."""
    h = hashlib.sha256()
    for name in ("gen.py", "oracle.py", "workloads.py"):
        with open(os.path.join(HERE, name), "rb") as fh:
            h.update(fh.read())
    return f"{workload}-seed{seed}-{h.hexdigest()[:12]}"


def inputs_for(cls, work: str, seed: int) -> str:
    """Generate (or reuse) the seed's inputs; written to a temporary
    directory and renamed into place, so a killed run leaves no half set."""
    final = os.path.join(work, "inputs", _input_key(cls.name, seed))
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cls.prepare(tmp, seed)
        os.rename(tmp, final)
    return final


def spark_conf(run_dir: str) -> dict:
    """Keep every file the JVM writes inside the run directory."""
    java_opts = (
        f"-Dderby.stream.error.file={run_dir}/derby.log -Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"
    )
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": f"{run_dir}/local",
        "spark.driver.extraJavaOptions": java_opts,
        # keep every job and stage of a run in the status store for the trace
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def report_metrics(w, setup_s: float, ncpu: int) -> tuple[dict, list[str]]:
    """End-to-end metrics plus the readable lines (with sample counts)."""
    secs = [op.seconds for op in w.ops]
    n = len(secs)
    failed = sum(op.failure is not None for op in w.ops)
    items = sum(op.items for op in w.ops if op.failure is None)
    values = {
        "setup_s": setup_s,
        "items_per_s": items / w.measured_s(),
        "op_ms_p50": quantile(secs, 0.5) * 1e3,
    }
    rate, latency = w.rate_name, w.latency_name
    lines = [
        f"workload {w.name}: {n} ops ({w.op_unit}) in {w.measured_s():.3f} s, local[{ncpu}], one driver thread",
        f"  op s: {' '.join(f'{v:.3f}' for v in secs)}",
        f"  {'setup_s':<36}{setup_s:.4f} s (n=1)",
        f"  {rate:<36}{values['items_per_s']:.4f} 1/s ({w.item_unit}; n={n})",
        f"  {latency + '_p50':<36}{values['op_ms_p50'] / 1e3:.4f} s (n={n})",
    ]
    q = tail_quantile(n)
    if q > 0.5:
        lines.append(
            f"  {latency}_p{round(q * 100):<32}{quantile(secs, q):.4f} s (n={n}, {beyond(n, q)} beyond)"
        )
    lines.append(f"  {'failed_ops_frac':<36}{failed / n:.4f} ({failed}/{n})")
    for name, (value, unit) in w.extra_report().items():
        lines.append(f"  {name:<36}{value:.4f} {unit}")
    return values, lines


def op_span_ids(tracer) -> set[int]:
    """The measured ops' spans and everything inside them; output checks
    and set-up fall outside."""
    ids: set[int] = set()
    for rec in tracer.spans:
        if rec["name"] == "bench.op":
            ids |= tracer.descendants(rec["id"])
    return ids


def layer_metrics(tracer, w, rss_mb: float, ncpu: int) -> dict:
    """Per-layer metrics.  Spans count inside the measured ops only,
    except ``session.*``, which only runs during set-up."""
    window_ids = op_span_ids(tracer)
    in_window = tracer.summary(window_ids)
    everywhere = tracer.summary()
    wall = w.measured_s()
    out = {}
    for name, (span, field, _unit) in SPAN_METRICS.items():
        s = (everywhere if span.startswith("session.") else in_window).get(span, {})
        if field in ("wall_frac", "self_frac"):
            out[name] = s.get(field.replace("_frac", "_s"), 0.0) / wall
        elif field == "executor_cpu_frac":
            out[name] = s.get("executor_cpu_s", 0.0) / (ncpu * wall)
        elif field == "core_busy_frac":
            out[name] = s["executor_run_s"] / (ncpu * s["wall_s"]) if s.get("wall_s") else 0.0
        else:
            out[name] = s.get(field, 0)
    loaded = sum(op.input_bytes for op in w.ops)
    out["catalog.load_overwrite.output_bytes_per_input_byte"] = (
        out["catalog.load_overwrite.output_bytes"] / loaded if loaded else 0.0
    )
    tot = tracer.stage_totals(window_ids)
    out.update(
        {
            "session.jvm_peak_rss_mb": rss_mb,
            "spark.executor_run_s": tot["executor_run_s"],
            "spark.executor_cpu_s": tot["executor_cpu_s"],
            "spark.gc_s": tot["gc_s"],
            "spark.core_busy_frac": tot["executor_run_s"] / (ncpu * wall),
            "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"],
            "spark.single_task_stages": tot["single_task_stages"],
            "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "trace.spans": len(tracer.spans),
            "trace.wrapper_s": tracer.wrapper_s,
            "trace.wrapper_frac": tracer.wrapper_s / wall,
            "trace.items_per_s": sum(op.items for op in w.ops if op.failure is None) / w.measured_s(),
            "trace.op_ms_p50": quantile([op.seconds * 1e3 for op in w.ops], 0.5),
        }
    )
    return out


def span_table(tracer) -> list[str]:
    """Readable per-span totals inside the measured ops."""
    head = f"  {'span':<44}{'calls':>6}{'wall_s':>9}{'self_s':>9}{'exec_s':>9}{'cpu_s':>8}{'stages':>7}{'tasks':>7}"
    rows = [head]
    for name, s in sorted(tracer.summary(op_span_ids(tracer)).items(), key=lambda kv: -kv[1]["wall_s"]):
        rows.append(
            f"  {name:<44}{s['calls']:>6}{s['wall_s']:>9.3f}{s['self_s']:>9.3f}{s['executor_run_s']:>9.3f}"
            f"{s['executor_cpu_s']:>8.3f}{s['stages']:>7}{s['tasks']:>7}"
        )
    return rows


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # runs the finally blocks: JVM stop, run-dir removal


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparkgraft", "__init__.py")):
        print(f"perfbench: no sparkgraft package under {root}; run from a checkout root", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    try:
        return _run(args, root, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, root: str, work: str, run_dir: str) -> int:
    t_start = time.perf_counter()
    import importlib

    import workloads
    from trace import Tracer

    from sparkgraft import session

    cls = workloads.WORKLOADS[args.workload]
    t_run = time.perf_counter()
    inputs = inputs_for(cls, work, args.seed)
    t_inputs = time.perf_counter() - t_run
    ncpu = cpus()
    tracer = Tracer() if args.trace else None
    if tracer:
        for module, attr, name in TRACED:
            tracer.wrap(importlib.import_module(module), attr, name)
    w = cls(inputs, run_dir, args.seed, tracer)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark(
            f"perfbench-{args.workload}",
            master=f"local[{ncpu}]",
            hive=True,
            warehouse_dir=os.path.join(run_dir, "warehouse"),
            extra_conf=spark_conf(run_dir),
        )
        w.setup(spark)
        setup_s = time.perf_counter() - t0
        w.run(spark, args.seconds)
        if tracer:
            tracer.collect_spark(spark)
            rss = jvm_peak_rss_mb(spark)
    finally:
        if tracer:
            tracer.unwrap_all()
        t_stop = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        t_stop = time.perf_counter() - t_stop

    values, lines = report_metrics(w, setup_s, ncpu)
    lines.append(
        f"  run wall {time.perf_counter() - t_start:.1f} s: imports {t_run - t_start:.1f}, inputs {t_inputs:.1f}, "
        f"set-up {setup_s:.1f}, measured {w.measured_s():.1f}, checks {w.check_s:.1f}, stop {t_stop:.1f}"
    )
    failed = sum(op.failure is not None for op in w.ops)
    if tracer:
        metrics = layer_metrics(tracer, w, rss, ncpu)
        units = PER_LAYER
        spans_path = os.path.join(work, f"spans-{args.workload}-seed{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump({"spans": tracer.spans, "summary": tracer.summary()}, fh)
        lines.append(f"  spans written to {os.path.relpath(spans_path, root)}")
        lines += span_table(tracer)
        lines += [f"  {k:<56}{v:.6g} {units[k]}" for k, v in metrics.items()]
    else:
        metrics = values
        units = END_TO_END
    print("\n".join(lines))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(w.ops),
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
