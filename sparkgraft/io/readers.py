"""Schema-explicit sources (reference §2.1 S1-S2 equivalents).

The reference reads raw CSVs with a hand-declared StructType so no inference
pass touches the data (reference connector/raw/RawConnector.scala:14-20) and
resolves month-keyed filenames (connector/raw/RawUserEventConnector.scala:23-33).
We keep both behaviors and add a parquet reader that tolerates
nanosecond-precision timestamp columns (Spark reads INT64 TIMESTAMP(NANOS)
only as long via ``spark.sql.legacy.parquet.nanosAsLong``; we convert to
microsecond TIMESTAMP_NTZ, matching what a DuckDB/pyarrow reader sees).

Scale notes:
- Explicit schemas avoid a full scan for CSV inference — mandatory at 100 TB.
- The ns->ts conversion is a projection; filters written against the
  converted column cannot reach parquet row-group pruning. For the hot
  time-partitioned path, partition directories (catalog.py) carry the
  pruning instead.
"""

from __future__ import annotations

from datetime import datetime

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

#: tables the driver materializes per TESTDATA.md
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: footer-schema memo: path -> (mtime_ns, ns-typed column names).  The
#: footer is immutable metadata for an unchanged file; re-parsing it per
#: read_table call charged every lane a driver-side pyarrow read.  The
#: mtime guard invalidates if the file is rewritten (drift rigs write to
#: NEW dirs, but keep the guard so an in-place rewrite can't serve stale
#: schema).
_NANOS_CACHE: dict[str, tuple[int, list[str]]] = {}


def _nanos_fields(path: str) -> list[str]:
    """Column names stored as timestamp[ns] in the parquet footer."""
    import os

    try:
        mtime = os.stat(path).st_mtime_ns
        hit = _NANOS_CACHE.get(path)
        if hit is not None and hit[0] == mtime:
            return hit[1]
    except OSError:
        mtime = None
    try:
        schema = pq.read_schema(path)
    except Exception:
        # Directory dataset: look at the first fragment.
        import pyarrow.dataset as ds

        schema = ds.dataset(path).schema
    cols = [f.name for f in schema if str(f.type) == "timestamp[ns]"]
    if mtime is not None:
        _NANOS_CACHE[path] = (mtime, cols)
    return cols


#: plan memo: (session id, path, mtime_ns) -> normalized DataFrame.  A
#: DataFrame is an immutable LOGICAL PLAN — reusing it caches no rows and
#: recomputes from parquet on every action, it only skips the per-call
#: driver work (file listing + footer schema merge + the ns->us projection
#: rebuild), which measured ~90 ms per call x ~1300 calls across a bench
#: fold.  Keyed on the session object id so a restarted session rebuilds,
#: and on the path mtime so a rewritten table invalidates.
_PLAN_CACHE: dict[tuple[int, str, int], DataFrame] = {}


def _evict_stopped_sessions() -> None:
    """Drop cache entries whose session has been stopped — without this the
    memo (which strongly pins each session wrapper to keep id(spark)
    collision-free) would leak stopped sessions' JVM-side state in a
    long-lived process that restarts sessions.  ``SparkContext.stop()``
    nulls ``_jsc`` on the Python wrapper, so the check is a pure-Python
    attribute read (no py4j round-trip); called on cache MISSES only, so
    the steady-state hit path stays allocation-free.  Scans a snapshot and
    pops tolerantly: another driver thread may evict the same entry."""
    for k, df in list(_PLAN_CACHE.items()):
        if getattr(df.sparkSession._sc, "_jsc", None) is None:
            _PLAN_CACHE.pop(k, None)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; normalize ns timestamps to TIMESTAMP_NTZ.

    TIMESTAMP_NTZ is the zone-less semantics the files were written with
    (pyarrow naive timestamps), and what the DuckDB oracle sees.
    """
    import os

    path = f"{sf_dir}/{name}.parquet"
    # Defensive: the caller's session may not come from sparkgraft.get_spark
    # (the verify driver builds its own). Both confs are dynamic SQL confs:
    # nanosAsLong lets the scan read INT64 TIMESTAMP(NANOS) columns at all,
    # and a pinned UTC session tz keeps NTZ<->TZ casts (session ids, KST
    # bucketing) deterministic and oracle-consistent.  Set on EVERY call
    # (cache hit or miss): callers rely on read_table restoring the
    # deterministic session state.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = -1
    # id(spark) cannot collide across sessions: every cached DataFrame
    # strongly references its session wrapper, so a keyed wrapper is never
    # garbage-collected while its entry lives (no address reuse).
    key = (id(spark), path, mtime)
    hit = _PLAN_CACHE.get(key)
    if hit is not None:
        return hit
    _evict_stopped_sessions()
    df = spark.read.parquet(path)
    for col in _nanos_fields(path):
        # floor-div truncates toward zero for the positive epochs in play,
        # matching DuckDB/pyarrow ns->us truncation.
        df = df.withColumn(
            col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")).cast("timestamp_ntz")
        )
    _PLAN_CACHE[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES, register: bool = True
) -> dict[str, DataFrame]:
    """Read several tables; optionally register them as temp views so the
    SQL surface (``spark.sql``) sees the same names as the DuckDB oracle."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


#: value-preserving stored->target widenings the vectorized parquet reader
#: performs at the scan (Spark 4 type promotion); bigint->double is
#: deliberately absent — the reader refuses it, and it is lossy past 2^53
_WIDEN: frozenset[tuple[str, str]] = frozenset(
    {
        ("tinyint", "smallint"),
        ("tinyint", "int"),
        ("tinyint", "bigint"),
        ("smallint", "int"),
        ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
        ("int", "double"),
    }
)


def evolvable(got: str, want: str) -> bool:
    """True iff a column stored as ``got`` (simpleString) can be read
    conformed to ``want`` by an explicit read schema: identical, a safe
    widening (:data:`_WIDEN`), or a tz<->ntz timestamp re-declaration
    (either TZ interpretation decodes at the scan under the pinned UTC
    session — a semantic re-declaration, not a physical migration)."""
    if got == want or (got, want) in _WIDEN:
        return True
    return got in ("timestamp", "timestamp_ntz") and want in (
        "timestamp",
        "timestamp_ntz",
    )


def read_evolved(
    spark: SparkSession,
    path: str,
    schema: StructType,
    history: "tuple[StructType, ...] | None" = None,
) -> DataFrame:
    """Read a parquet directory whose files were written under SEVERAL
    schema versions and conform the result to ``schema`` — the read-side
    half of schema evolution, which a multi-year ingest cannot avoid: a
    100 TB table's oldest shards predate every column added since, and
    rewriting them per schema change costs a full-table write.

    The whole conformance happens AT THE SCAN via an explicit read
    schema (no post-hoc projection):

    - columns in ``schema`` missing from a file become typed NULLs in
      that file's rows (the standard added-column semantics);
    - columns in a file missing from ``schema`` are pruned — never read,
      never decoded;
    - safe widenings (int->long, float->double, …) decode directly into
      the wider type (Spark 4 parquet type promotion) — the only
      promotions that cannot lose values AND that the vectorized reader
      actually performs (bigint->double is deliberately NOT allowed:
      the reader refuses it, and it is lossy past 2^53 anyway);
    - a ``timestamp[ns]`` shard column evolving to a timestamp target
      is read as raw int64 nanos and converted post-scan (the exact
      ns->us conversion :func:`read_table` applies — Spark cannot
      decode NANOS into a timestamp column directly), provided the
      column is ns in EVERY shard that stores it: ns-in-some-shards
      cannot satisfy one explicit read schema and raises;
    - any other stored-vs-target type change raises ``TypeError`` naming
      the column and file: an incompatible rewrite (string->int, struct
      reshape) is a data migration, not an evolution, and failing AT
      PLAN TIME beats a mid-job executor error (or worse, a silent
      coercion).

    Name matching honors ``spark.sql.caseSensitive`` (default false —
    matching the scan's own resolution; a case-insensitive session that
    validated case-SENSITIVELY would wave through a case-renamed column
    with incompatible drift, then fail mid-job).

    Validation has two paths.  Without ``history`` it reads one footer per
    file fragment (same cost class as ``mergeSchema``, which cannot handle
    type drift at all).  With ``history`` — the ordered log of every schema
    version the table's files were ever written under
    (:class:`sparkgraft.catalog.TableSpec` ``schema_history`` + current, or
    the ``_schema_history.json`` sidecar ``catalog.save_schema_history``
    persists) — validation runs against the DECLARED versions entirely in
    memory: zero footer reads, zero file listings beyond the scan's own.
    That is the at-scale path: one metastore lookup replaces an O(files)
    footer sweep over a 100 TB table.  History validation intentionally has
    no nanosecond branch: catalog-managed tables never store ns timestamps
    (Spark writes microsecond INT64), so ns shards are by construction
    external-writer artifacts that the footer sweep exists to disambiguate —
    pass ``history=None`` for those.  The explicit-schema read is the part
    that stays identical on both paths.
    """
    from pyspark.sql.types import LongType, StructField

    case_sensitive = (
        spark.conf.get("spark.sql.caseSensitive", "false").lower() == "true"
    )

    def _key(name: str) -> str:
        return name if case_sensitive else name.lower()

    target = {_key(f.name): f.dataType.simpleString() for f in schema.fields}
    if history is not None:
        for i, version in enumerate(history):
            for vf in version.fields:
                want = target.get(_key(vf.name))
                if want is None:
                    continue  # dropped column: pruned at the scan
                got = vf.dataType.simpleString()
                if not evolvable(got, want):
                    raise TypeError(
                        f"column {vf.name!r}: stored {got} (schema history "
                        f"version {i}) cannot evolve to {want} — that is a "
                        "data migration (rewrite), not a schema evolution"
                    )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return spark.read.schema(schema).parquet(path)

    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import from_arrow_type

    _widen = _WIDEN
    ns_cols: set[str] = set()  # target keys stored as INT64 TIMESTAMP(NANOS)
    non_ns_ts: set[str] = set()
    for frag in ds.dataset(path).get_fragments():
        # arrow reports BOTH INT64 TIMESTAMP(NANOS) and legacy INT96 as
        # timestamp[ns]; only the former is nanos-as-long decodable —
        # INT96 decodes natively into TimestampType.  The parquet-level
        # physical type disambiguates; fetching it parses the full
        # footer metadata, so only pay that when a ts[ns] column exists.
        phys: dict[str, str] = {}
        if any(str(f.type) == "timestamp[ns]" for f in frag.physical_schema):
            psch = frag.metadata.schema
            phys = {psch.column(i).name: psch.column(i).physical_type
                    for i in range(len(psch))}
        for af in frag.physical_schema:
            want = target.get(_key(af.name))
            if want is None:
                continue  # dropped column: pruned at the scan
            if str(af.type) == "timestamp[ns]" and phys.get(af.name) == "INT64":
                if want in ("timestamp", "timestamp_ntz"):
                    ns_cols.add(_key(af.name))
                    continue
                got = "timestamp"
            else:
                # pyspark's own arrow->Spark mapping covers timestamps,
                # decimals, dates, nested types — a hand-rolled name
                # table false-positives on e.g. timestamp[us] vs
                # "timestamp"
                got = from_arrow_type(af.type).simpleString()
                if got in ("timestamp", "timestamp_ntz") and want in (
                    "timestamp",
                    "timestamp_ntz",
                ):
                    # either TZ interpretation decodes at the scan under
                    # the pinned UTC session; ntz-vs-tz is a semantic
                    # re-declaration the explicit read schema performs,
                    # not a physical migration
                    non_ns_ts.add(_key(af.name))
                    continue
            if got != want and (got, want) not in _widen:
                raise TypeError(
                    f"column {af.name!r}: stored {got} (in "
                    f"{frag.path}) cannot evolve to {want} — that is a "
                    "data migration (rewrite), not a schema evolution"
                )
    mixed = ns_cols & non_ns_ts
    if mixed:
        raise TypeError(
            f"columns {sorted(mixed)} are timestamp[ns] in some shards and "
            "microsecond timestamps in others — one explicit read schema "
            "cannot decode both; rewrite the ns shards (read_table's "
            "DIV-1000 conversion) before evolving"
        )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if not ns_cols:
        return spark.read.schema(schema).parquet(path)
    # ns columns decode as raw int64 under nanosAsLong; convert exactly
    # as read_table does and cast to the declared target type
    read_schema = StructType(
        [
            StructField(f.name, LongType() if _key(f.name) in ns_cols else f.dataType)
            for f in schema.fields
        ]
    )
    df = spark.read.schema(read_schema).parquet(path)
    return df.select(
        *[
            (
                F.timestamp_micros(F.expr(f"`{f.name}` DIV 1000"))
                .cast(f.dataType)
                .alias(f.name)
                if _key(f.name) in ns_cols
                else F.col(f.name)
            )
            for f in schema.fields
        ]
    )


def read_table_ranged(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_col: str,
    intervals: list[tuple[str, str]],
) -> DataFrame:
    """Read a table with a time-range predicate PUSHED INTO the parquet scan.

    For nanosecond-timestamp columns the normal path converts to
    TIMESTAMP_NTZ first, and a filter written against the converted column
    is an expression filter Spark cannot push into the scan (it shows under
    DataFilters, not PushedFilters — no row-group pruning). Here the
    predicate is applied to the RAW int64-nanos column as plain integer
    comparisons, which do push down, then the survivors are converted.
    At 100 TB this is the difference between scanning a day and a year.

    ``intervals``: [(start, end), ...) half-open UTC bounds, OR-ed together.
    """
    from datetime import datetime, timezone

    path = f"{sf_dir}/{name}.parquet"
    ns_fields = set(_nanos_fields(path))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)

    def _bound(ts: str):
        dt = datetime.fromisoformat(ts).replace(tzinfo=timezone.utc)
        epoch_s = dt.timestamp()
        if ts_col in ns_fields:
            return F.lit(int(epoch_s * 1_000_000) * 1000)  # int64 nanos
        return F.lit(ts).cast(df.schema[ts_col].dataType)

    pred = None
    for start, end in intervals:
        clause = (F.col(ts_col) >= _bound(start)) & (F.col(ts_col) < _bound(end))
        pred = clause if pred is None else (pred | clause)
    if pred is not None:
        df = df.where(pred)
    for col in ns_fields:
        df = df.withColumn(
            col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")).cast("timestamp_ntz")
        )
    return df


def read_csv(
    spark: SparkSession,
    paths: list[str] | str,
    schema: StructType,
    header: bool = True,
) -> DataFrame:
    """CSV scan with explicit schema — no inference pass.

    Parity: reference connector/raw/RawConnector.scala:14-20.
    """
    reader = spark.read.option("header", str(header).lower()).schema(schema)
    return reader.csv(paths)


def month_filenames(months: list[str], pattern: str = "%Y-%b.csv") -> list[str]:
    """``yyyy-MM`` strings -> ``yyyy-LLL.csv`` filenames (e.g. 2019-Oct.csv).

    Parity: reference connector/raw/RawUserEventConnector.scala:23-33.
    """
    return [datetime.strptime(m, "%Y-%m").strftime(pattern) for m in months]
