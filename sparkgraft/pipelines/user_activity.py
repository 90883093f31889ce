"""The reference's signature ETL, end-to-end (SURVEY §2.11): monthly raw
clickstream CSVs -> UTC/KST normalization -> cross-batch 5-min-gap
sessionization -> idempotent date-partitioned load.

Pipeline parity map (reference transformer/DataLoadTransformer.scala +
connector/hive/UserActivityHiveConnector.scala):

1. month-keyed CSV read with explicit schema        (:35-43 / RawConnector)
2. to_timestamp / from_utc_timestamp / to_date      (:46-49)
3. consecutive months coalesce into runs            (UserActivityHive:46-59)
4. per-run carryover frontier = each user's last event in the 5 minutes
   before the run's first UTC instant, read from the existing table
   (:111-131) — sessions continue across batch boundaries
5. sessionize run (+frontier continuity)            (:57-81, :94-158)
6. KST/UTC edge preservation: the 9-hour offset puts rows from adjacent
   UTC months into the edge KST-date partitions; those rows are unioned
   back so dynamic overwrite does not delete them (UserActivityHive:28-42,
   design note README:5-8)
7. staging + dynamic INSERT OVERWRITE               (HiveConnector:34-57)

Scale: each run shuffles the new events once (the sessionize window); the
frontier is a per-user sliver read via partition pruning on the existing
table and broadcast into the join. Rerunning any month subset is
idempotent.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DateType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sparkgraft import catalog
from sparkgraft.io.readers import month_filenames, read_csv
from sparkgraft.ops.relational import union_all
from sparkgraft.ops.sessionize import carryover_frontier, sessionize_with_continuity
from sparkgraft.ops.temporal import RAW_TS_FORMAT, local_date

#: raw clickstream CSV schema (FIXTURES.md F1; reference
#: connector/raw/RawUserEventConnector.scala:12-21)
RAW_USER_EVENT_SCHEMA = StructType(
    [
        StructField("event_time", StringType(), False),
        StructField("event_type", StringType(), False),
        StructField("product_id", StringType(), False),
        StructField("category_id", StringType(), False),
        StructField("category_code", StringType(), True),
        StructField("brand", StringType(), True),
        StructField("price", IntegerType(), False),
        StructField("user_id", StringType(), False),
        StructField("user_session", StringType(), True),
    ]
)

#: curated table (FIXTURES.md F2; reference UserActivityHiveConnector:11-23)
USER_ACTIVITY = catalog.TableSpec(
    name="user_activity",
    schema=StructType(
        [
            StructField("event_date_kst", DateType(), False),
            StructField("event_ts_utc", TimestampType(), False),
            StructField("event_type", StringType(), False),
            StructField("session_id", StringType(), False),
            StructField("user_id", StringType(), False),
            StructField("price", IntegerType(), True),
            StructField("product_id", StringType(), True),
            StructField("brand", StringType(), True),
            StructField("category_id", StringType(), True),
            StructField("category_code", StringType(), True),
        ]
    ),
    partition_keys=("event_date_kst",),
)

GAP_SECONDS = 300


def month_start(month: str) -> datetime:
    return datetime.strptime(month, "%Y-%m").replace(tzinfo=None)


def next_month(month: str) -> str:
    d = datetime.strptime(month, "%Y-%m")
    return (d.replace(day=28) + timedelta(days=5)).strftime("%Y-%m")


def coalesce_runs(months: list[str]) -> list[list[str]]:
    """Sort months and group consecutive ones into runs (reference
    UserActivityHiveConnector.scala:46-59): only a run's FIRST month needs
    a carryover frontier — interior boundaries sit inside the new data."""
    ms = sorted(set(months))
    runs: list[list[str]] = []
    for m in ms:
        if runs and next_month(runs[-1][-1]) == m:
            runs[-1].append(m)
        else:
            runs.append([m])
    return runs


def extract_months(spark: SparkSession, raw_dir: str, months: list[str]) -> DataFrame:
    paths = [f"{raw_dir}/{f}" for f in month_filenames(months)]
    return read_csv(spark, paths, RAW_USER_EVENT_SCHEMA)


def normalize(raw: DataFrame) -> DataFrame:
    """Raw text rows -> typed event rows (drops the source session id —
    sessions are recomputed; reference DataLoadTransformer.scala:42-49)."""
    return raw.drop("user_session").withColumns(
        {
            "event_ts_utc": F.to_timestamp("event_time", RAW_TS_FORMAT),
            "event_date_kst": local_date(F.to_timestamp("event_time", RAW_TS_FORMAT)),
        }
    ).drop("event_time")


def _sessionize_run(
    existing: DataFrame, run_df: DataFrame, run_start: datetime
) -> DataFrame:
    """Sessionize one consecutive-month run with cross-batch continuity
    against the ``existing`` table."""
    frontier = carryover_frontier(
        existing,
        run_start,
        user_col="user_id",
        ts_col="event_ts_utc",
        session_col="session_id",
        gap_seconds=GAP_SECONDS,
    )
    return sessionize_with_continuity(
        run_df,
        frontier,
        user_col="user_id",
        ts_col="event_ts_utc",
        gap_seconds=GAP_SECONDS,
        order_tiebreak=("event_type", "product_id"),
    )


def _edge_preserved_rows(
    existing: DataFrame, utc_start: datetime, utc_end: datetime
) -> DataFrame:
    """Existing rows living in the run's edge KST-date partitions but
    OUTSIDE the loaded UTC range — must be rewritten or dynamic overwrite
    deletes them (reference UserActivityHiveConnector.scala:28-42)."""
    kst = timedelta(hours=9)
    d_start = (utc_start + kst).date()
    d_end = (utc_end + kst).date()
    s, e = F.lit(utc_start).cast("timestamp"), F.lit(utc_end).cast("timestamp")
    return existing.where(
        F.col("event_date_kst").isin([d_start, d_end])
        & ((F.col("event_ts_utc") < s) | (F.col("event_ts_utc") >= e))
    )


def load_months(
    spark: SparkSession,
    raw_dir: str,
    months: list[str],
    spec: catalog.TableSpec = USER_ACTIVITY,
) -> None:
    """The full idempotent backfill: any month subset, any order, rerun-safe.

    ``spec`` defaults to the reference's curated table; callers needing an
    isolated target (the driver's ETL roundtrip lane, tests) pass a spec
    with the same schema under their own table name."""
    # one read serves every run: the table does not change until the
    # load_overwrite below
    existing = catalog.read_table(spark, spec)
    if not months:
        return  # empty backfill set: table ensured, nothing to load
    parts: list[DataFrame] = []
    for run in coalesce_runs(months):
        run_df = normalize(extract_months(spark, raw_dir, run))
        utc_start = month_start(run[0])
        utc_end = month_start(next_month(run[-1]))
        sessioned = _sessionize_run(existing, run_df, utc_start)
        parts.append(sessioned.select(*spec.ordered_columns))
        parts.append(
            _edge_preserved_rows(existing, utc_start, utc_end).select(
                *spec.ordered_columns
            )
        )
    catalog.load_overwrite(spark, spec, union_all(parts))


def wau_sql(key: str) -> str:
    """The reference's WAU query text (UserIdBaseWauTransformer.scala:22-39 /
    SessionIdBase…), templated over {TABLE}."""
    return f"""
        WITH weekly AS (
            SELECT DATE_TRUNC('WEEK', event_date_kst) AS event_week, {key}
            FROM {{TABLE}}
        )
        SELECT CAST(event_week AS DATE) AS event_week,
               COUNT(DISTINCT {key}) AS wau
        FROM weekly
        GROUP BY event_week
        ORDER BY event_week ASC
    """


def user_wau(spark: SparkSession) -> DataFrame:
    return catalog.extract_sql(spark, USER_ACTIVITY, wau_sql("user_id"))


def session_wau(spark: SparkSession) -> DataFrame:
    return catalog.extract_sql(spark, USER_ACTIVITY, wau_sql("session_id"))
