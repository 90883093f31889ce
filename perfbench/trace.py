"""Span tracing from outside the program, plus Spark's status store.

``Tracer.wrap`` replaces a public function at the module attribute its
caller resolves (``carryover_frontier`` is looked up in the
``pipelines.user_activity`` namespace, so it is patched there).  Each call
becomes a span (name, start, end, parent, op id) kept in memory.  On entry
the wrapper points the thread's Spark job group at the span and on exit it
points it back at the parent, so every Spark job is attributed to the
innermost open span; ``collect_spark`` then joins the status store's jobs
and stages onto the spans.  The status store is filled with the UI off.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from pyspark import SparkContext

_GROUP_PREFIX = "perfbench-span-"

#: per-stage counters read from the status store, summed per span
STAGE_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "stages",
    "tasks",
    "single_task_stages",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


def _set_group(span_id: int | None) -> None:
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty(
            "spark.jobGroup.id", None if span_id is None else f"{_GROUP_PREFIX}{span_id}"
        )


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None
        self.wrapper_s = 0.0
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._stage_metrics: dict[int, dict] = {}

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        _set_group(sid)
        rec["start"] = time.perf_counter()
        self.wrapper_s += rec["start"] - t_in
        try:
            yield
        finally:
            rec["end"] = t_out = time.perf_counter()
            self._stack.pop()
            _set_group(self._stack[-1] if self._stack else None)
            self.wrapper_s += time.perf_counter() - t_out

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # -- Spark status store ------------------------------------------------
    def collect_spark(self, spark) -> None:
        """Attribute the status store's stages to spans, through the job
        group each job was submitted under.  Call before the session stops:
        each stop discards the store.  A stage listed by several jobs is
        counted once, for the job that ran it (the lowest job id)."""
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        as_java = gw.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        stages = {}
        for st in as_java(store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)):
            if st.status().toString() == "SKIPPED":
                continue
            n_tasks = st.numTasks()
            stages[(st.stageId(), st.attemptId())] = {
                "executor_run_s": st.executorRunTime() / 1e3,
                "executor_cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1e3,
                "stages": 1,
                "tasks": n_tasks,
                "single_task_stages": int(n_tasks == 1),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "input_bytes": st.inputBytes(),
                "output_bytes": st.outputBytes(),
            }
        by_stage_id: dict[int, list[dict]] = {}
        for (sid, _attempt), m in stages.items():
            by_stage_id.setdefault(sid, []).append(m)
        seen: set[int] = set()
        for job in sorted(as_java(store.jobsList(None)), key=lambda j: j.jobId()):
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith(_GROUP_PREFIX):
                continue
            span_id = int(group.get()[len(_GROUP_PREFIX):])
            acc = self._stage_metrics.setdefault(span_id, dict.fromkeys(STAGE_FIELDS, 0))
            for text in job.stageIds().mkString(",").split(","):
                if not text or int(text) in seen:
                    continue
                seen.add(int(text))
                for m in by_stage_id.get(int(text), []):
                    for k, v in m.items():
                        acc[k] += v

    # -- summaries ---------------------------------------------------------
    def summary(self, ids: set[int] | None = None) -> dict[str, dict]:
        """Per span name: calls, wall_s, self_s and the summed stage fields,
        over the spans in ``ids`` (default all).  ``self_s`` is the wall
        time not covered by child spans."""
        child_s = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None and "end" in rec:
                child_s[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, dict] = {}
        for rec in self.spans:
            if "end" not in rec or (ids is not None and rec["id"] not in ids):
                continue
            s = out.setdefault(
                rec["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0, **dict.fromkeys(STAGE_FIELDS, 0)}
            )
            wall = rec["end"] - rec["start"]
            s["calls"] += 1
            s["wall_s"] += wall
            s["self_s"] += wall - child_s[rec["id"]]
            for k, v in self._stage_metrics.get(rec["id"], {}).items():
                s[k] += v
        return out

    def descendants(self, root_id: int) -> set[int]:
        """Ids of ``root_id`` and every span opened inside it."""
        ids = {root_id}
        for rec in self.spans[root_id + 1:]:
            if rec["parent"] in ids:
                ids.add(rec["id"])
        return ids

    def stage_totals(self, span_ids: set[int]) -> dict:
        acc = dict.fromkeys(STAGE_FIELDS, 0)
        for sid in span_ids:
            for k, v in self._stage_metrics.get(sid, {}).items():
                acc[k] += v
        return acc
