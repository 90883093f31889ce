"""The three workloads.  Each is a closed loop with one client, the driver
thread: an op starts only when the previous one has returned.

- ``ingest``: the reference's write path.  Generated months are loaded
  into the curated table as separate monthly backfills in calendar order
  (``pipelines.user_activity.load_months``), then an interior month is
  reloaded.  One op is one ``load_months`` call.  The first two months
  are loaded during set-up, so every measured load continues sessions
  across a batch boundary.
- ``wau``: the reference's read path.  Set-up fills the curated table
  through the loader; each op is one user- or session-WAU query through
  ``catalog.extract_sql``, 70 % filtered to a range of at most two weeks
  of ``event_date_kst`` (partition pruning keeps a few partitions) and
  30 % over the whole table.
- ``dedup``: the LLM-data path.  Each op is one pass of
  ``ext.dedup.minhash_lsh_pairs`` and ``ext.dedup.dup_clusters`` over the
  generated ``documents``, both written to a parquet sink.

A run makes a fixed number of ops for its ``--seconds`` (``ops_for``), so
host speed changes op times, never the op mix.  Ops are timed on their own;
output checks run between ops, untimed, and a wrong output marks the op that
produced it as failed.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, replace
from datetime import timedelta

import duckdb
import gen
import oracle

from sparkgraft import catalog
from sparkgraft.ext import dedup
from sparkgraft.io import readers
from sparkgraft.pipelines import user_activity as ua


@dataclass
class Op:
    kind: str
    seconds: float = 0.0
    items: int = 0
    input_bytes: int = 0
    failure: str | None = None


class Workload:
    """Shared op bookkeeping.  Subclasses set ``name``, ``OP_S`` and
    ``MIN_OPS`` (see ``ops_for``), ``op_unit`` (what
    ``op_ms_p50`` times), ``item_unit`` (what ``items_per_s`` counts) and
    the names the report gives those two metrics."""

    name = ""
    OP_S = 1.0
    MIN_OPS = 3
    op_unit = ""
    item_unit = ""
    rate_name = ""
    latency_name = ""

    def __init__(self, inputs: str, run_dir: str, seed: int, tracer=None) -> None:
        self.inputs = inputs
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = tracer
        self.ops: list[Op] = []
        self.check_s = 0.0
        self.con = duckdb.connect()

    @contextmanager
    def checking(self):
        """Time spent checking outputs (between ops, not measured)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def timed(self, kind: str, items: int, fn, input_bytes: int = 0) -> tuple[Op, object]:
        op = Op(kind, input_bytes=input_bytes)
        if self.tracer:
            self.tracer.op = len(self.ops)
        self.ops.append(op)
        result = None
        t0 = time.perf_counter()
        try:
            with self.span("bench.op"):
                result = fn()
            op.items = items
        except Exception:  # an op's failure is counted and the loop goes on
            op.failure = traceback.format_exc()
            print(f"op {len(self.ops) - 1} ({kind}) failed:\n{op.failure}", file=sys.stderr)
        op.seconds = time.perf_counter() - t0
        if self.tracer:
            self.tracer.op = None
        return op, result

    def fail(self, op: Op, why: str) -> None:
        if op.failure is None:
            op.failure = why
            print(f"{op.kind}: {why}", file=sys.stderr)

    def measured_s(self) -> float:
        return sum(op.seconds for op in self.ops)

    @classmethod
    def ops_for(cls, seconds: float) -> int:
        """Ops in a run of ``seconds``: ``seconds`` over the op's nominal
        length on a 4-core host (``OP_S``), rounded, and at least
        ``MIN_OPS``.  The count depends on ``--seconds`` only, so host speed
        changes op times but never a run's op mix."""
        return max(cls.MIN_OPS, int(seconds / cls.OP_S + 0.5))

    # subclasses: prepare(cache, seed) / setup(spark) / run(spark, seconds)
    def extra_report(self) -> dict[str, tuple[float, str]]:
        return {}


def _manifest(path: str) -> dict:
    with open(os.path.join(path, "manifest.json")) as fh:
        return json.load(fh)


def _table_location(spark, name: str) -> str:
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
        if row.col_name == "Location":
            return row.data_type.removeprefix("file:")
    raise RuntimeError(f"no location for table {name}")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**/*.parquet", recursive=True))


def prepare_months(cache: str, seed: int, n_months: int, rows_per_month: int, users: int) -> None:
    paths = gen.write_months(cache, seed, n_months, rows_per_month, users)
    rows = {}
    for m, p in paths.items():
        with open(p) as fh:
            rows[m] = sum(1 for _ in fh) - 1  # no field holds a newline
    with open(os.path.join(cache, "manifest.json"), "w") as fh:
        json.dump(
            {
                "months": list(paths),
                "files": {m: os.path.basename(p) for m, p in paths.items()},
                "rows": rows,
                "bytes": {m: os.path.getsize(p) for m, p in paths.items()},
            },
            fh,
        )


class _MonthsWorkload(Workload):
    N_MONTHS = 3
    ROWS_PER_MONTH = 30_000
    USERS = 3_000

    @classmethod
    def prepare(cls, cache: str, seed: int) -> None:
        prepare_months(cache, seed, cls.N_MONTHS, cls.ROWS_PER_MONTH, cls.USERS)

    def _load_inputs(self) -> None:
        man = _manifest(self.inputs)
        self.months = man["months"]
        self.files = man["files"]
        self.rows = man["rows"]
        self.csv_bytes = man["bytes"]

    def _want(self, months: list[str]) -> None:
        """The batch sessionization of ``months`` as DuckDB table ``want``."""
        csvs = [os.path.join(self.inputs, self.files[m]) for m in months]
        self.con.execute(f"CREATE OR REPLACE TABLE want AS {oracle.sessionized_sql(csvs)}")


class Ingest(_MonthsWorkload):
    name = "ingest"
    op_unit = "month load"
    item_unit = "input rows"
    rate_name = "ingest.rows_per_s"
    latency_name = "ingest.month_load_s"
    OP_S = 4.5
    N_MONTHS = 7
    WARM_MONTHS = 2
    ROWS_PER_MONTH = 15_000
    USERS = 1_500
    SPEC = replace(ua.USER_ACTIVITY, name="perfbench_ingest")

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        self._load_inputs()
        self.stored_ratio: float | None = None

    def setup(self, spark) -> None:
        # the first two monthly backfills are set-up and warm-up: the first
        # load in a fresh session is far slower than later ones, and after a
        # one-load warm-up the next loads were still slower by an amount
        # that changed from run to run
        for month in self.months[: self.WARM_MONTHS]:
            ua.load_months(spark, self.inputs, [month], self.SPEC)

    def _load(self, spark, month: str, kind: str) -> Op:
        op, _ = self.timed(
            kind, self.rows[month], lambda: ua.load_months(spark, self.inputs, [month], self.SPEC), self.csv_bytes[month]
        )
        return op

    def run(self, spark, seconds: float) -> None:
        """Load the following months, one backfill per op in calendar order
        (all ops but one, and at most through the last month), then reload
        the second-to-last month, an interior month with loaded neighbours
        on both sides."""
        loaded = min(len(self.months), self.WARM_MONTHS + self.ops_for(seconds) - 1)
        for month in self.months[self.WARM_MONTHS : loaded]:
            self._load(spark, month, "load")
        with self.checking():
            location = _table_location(spark, self.SPEC.name)
            files = oracle.parquet_relation(f"{location}/*/*.parquet", hive=True)
            before = oracle.digest(self.con, files)
        reload = self.months[loaded - 2]
        op = self._load(spark, reload, "reload")
        with self.checking():
            if oracle.digest(self.con, files) != before:
                self.fail(op, f"reloading {reload} changed the table's hash")
            self._check(spark, op, self.months[:loaded])
            self.stored_ratio = _dir_bytes(location) / sum(self.csv_bytes[m] for m in self.months[:loaded])

    def _check(self, spark, op: Op, months: list[str]) -> None:
        """The table as Spark reads it must equal the batch sessionization."""
        from pyspark.sql import functions as F

        self._want(months)
        cols = [
            F.unix_micros("event_ts_utc").alias(c) if c == "event_ts_us" else F.col(c)
            for c in oracle.CURATED_COLUMNS
        ]
        self.con.register("got", spark.table(self.SPEC.name).select(*cols).toArrow())
        diff = oracle.multiset_diff(self.con, "got", "want")
        if diff:
            self.fail(op, f"{diff} rows differ from the batch sessionization of {len(months)} months")

    def extra_report(self) -> dict[str, tuple[float, str]]:
        if self.stored_ratio is None:
            return {}
        return {"ingest.stored_bytes_per_input_byte": (self.stored_ratio, "B/B")}


class Wau(_MonthsWorkload):
    name = "wau"
    op_unit = "query"
    item_unit = "queries"
    rate_name = "wau.queries_per_s"
    latency_name = "wau.query_s"
    OP_S = 0.5
    TABLE = "perfbench_wau"

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        self._load_inputs()
        self._want(self.months)
        self.spec = replace(ua.USER_ACTIVITY, name=self.TABLE)
        self.rng = random.Random(self.seed)
        self.results: list[tuple[int, str, list]] = []
        days = self.con.execute("SELECT min(event_date_kst), max(event_date_kst) FROM want").fetchone()
        self.first_day, self.last_day = days

    @staticmethod
    def text(key: str, days: tuple | None = None) -> str:
        """The reference's WAU query, optionally over a KST date range."""
        sql = ua.wau_sql(key)
        if days is None:
            return sql
        lo, hi = days
        return sql.replace(
            "FROM {TABLE}", f"FROM {{TABLE}} WHERE event_date_kst BETWEEN DATE '{lo}' AND DATE '{hi}'"
        )

    def query(self, i: int) -> str:
        """Query ``i``: seeded key and date range; every tenth query in
        positions 2, 5 and 8 scans the whole table, so each run has the
        same 70/30 mix of pruned and full queries."""
        key = self.rng.choice(["user_id", "session_id"])
        if i % 10 in (2, 5, 8):
            return self.text(key)
        lo = self.first_day + timedelta(days=self.rng.randrange((self.last_day - self.first_day).days + 1))
        return self.text(key, (lo, min(self.last_day, lo + timedelta(days=self.rng.randrange(14)))))

    def setup(self, spark) -> None:
        ua.load_months(spark, self.inputs, self.months, self.spec)
        # warm-up: one query of each shape, not checked
        week = (self.first_day, self.first_day + timedelta(days=6))
        for text in (self.text("user_id"), self.text("session_id", week)):
            catalog.extract_sql(spark, self.spec, text).collect()

    def _collect(self, df):
        with self.span("wau.collect"):
            return df.collect()

    def run(self, spark, seconds: float) -> None:
        self.location = _table_location(spark, self.TABLE)
        for i in range(self.ops_for(seconds)):
            text = self.query(i)
            _, rows = self.timed("query", 1, lambda: self._collect(catalog.extract_sql(spark, self.spec, text)))
            if rows is not None:
                self.results.append((len(self.ops) - 1, text, [tuple(r) for r in rows]))
        with self.checking():
            self._check()

    def _check(self) -> None:
        table = oracle.parquet_relation(f"{self.location}/*/*.parquet", hive=True)
        want: dict[str, list] = {}
        for op_id, text, got in self.results:
            if text not in want:
                want[text] = [
                    (w, n) for w, n in self.con.execute(text.replace("{TABLE}", table)).fetchall()
                ]
            if got != want[text]:
                self.fail(self.ops[op_id], f"WAU result differs from DuckDB for:\n{text}")

    def extra_report(self) -> dict[str, tuple[float, str]]:
        pruned = sum("BETWEEN" in text for _, text, _ in self.results)
        return {"wau.pruned_query_share": (pruned / max(1, len(self.results)), "frac")}


class Dedup(Workload):
    name = "dedup"
    op_unit = "pass"
    item_unit = "documents"
    rate_name = "dedup.docs_per_s"
    latency_name = "dedup.pass_s"
    OP_S = 8.0
    MIN_OPS = 2
    DOCS = 1_500
    WORDS = 60

    @classmethod
    def prepare(cls, cache: str, seed: int) -> None:
        docs = os.path.join(cache, "documents.parquet")
        gen.write_documents(docs, seed, cls.DOCS, cls.WORDS)
        con = duckdb.connect()
        for name, table in oracle.dedup_answers(con, docs).items():
            con.execute(f"COPY {table} TO '{cache}/{name}.parquet' (FORMAT parquet)")

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        self.sinks: list[tuple[int, str]] = []
        for name in ("dedup_minhash_lsh", "dedup_clusters"):
            self.con.execute(
                f"CREATE VIEW want_{name} AS SELECT * FROM read_parquet('{self.inputs}/{name}.parquet')"
            )

    def _pass(self, spark, docs, out: str) -> None:
        pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
        with self.span("dedup.sink"):
            pairs.write.mode("overwrite").parquet(f"{out}/dedup_minhash_lsh")
        clusters = dedup.dup_clusters(docs, threshold=0.5)
        with self.span("dedup.sink"):
            clusters.write.mode("overwrite").parquet(f"{out}/dedup_clusters")

    def _documents(self, spark):
        return readers.read_table(spark, self.inputs, "documents")

    def setup(self, spark) -> None:
        # warm-up: one full pass, so the measured passes are alike (the
        # first pass in a fresh session is about twice as slow)
        self._pass(spark, self._documents(spark), f"{self.run_dir}/warm")

    def run(self, spark, seconds: float) -> None:
        for i in range(self.ops_for(seconds)):
            out = f"{self.run_dir}/sink_{i}"
            op, _ = self.timed("pass", self.DOCS, lambda: self._pass(spark, self._documents(spark), out))
            if op.failure is None:
                self.sinks.append((len(self.ops) - 1, out))
        with self.checking():
            self._check()

    def _check(self) -> None:
        for op_id, out in self.sinks:
            for name in ("dedup_minhash_lsh", "dedup_clusters"):
                got = oracle.parquet_relation(f"{out}/{name}/*.parquet")
                diff = oracle.multiset_diff(self.con, got, f"want_{name}")
                if diff:
                    self.fail(self.ops[op_id], f"{name}: {diff} rows differ from the oracle")
            shutil.rmtree(out, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Ingest, Wau, Dedup)}
