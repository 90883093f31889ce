"""SparkSession factory with scale-minded defaults.

Reference parity: the reference builds ``SparkSession.builder.master("local[*]")
.enableHiveSupport()`` per entry point (reference
transformer/DataLoadTransformer.scala:23-28) and sets
``spark.sql.sources.partitionOverwriteMode=dynamic`` at write time
(connector/hive/HiveConnector.scala:48). We centralize session construction
and bake in the configs that matter at 100 TB:

- AQE (coalesce shuffle partitions, skew-join splitting) — the reference's
  ``Window.partitionBy(user_id)`` and exact COUNT(DISTINCT) are skew-prone.
- UTC session timezone so timestamp semantics are deterministic and match
  the DuckDB oracle (naive == UTC).
- Dynamic partition overwrite as the idempotent-backfill mechanism.
- nanosAsLong so nanosecond-precision parquet timestamps are readable
  (converted to timestamps by ``sparkgraft.io.readers``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def get_spark(
    app_name: str = "sparkgraft",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    hive: bool = False,
    warehouse_dir: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``hive=True`` enables Hive metastore support (embedded Derby locally;
    external metastore on a real cluster) for the catalog layer.
    """
    master = master or _default_master()
    builder = SparkSession.builder.appName(app_name).master(master)

    conf = {
        # Determinism / oracle parity
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Idempotent partition backfill (reference HiveConnector.scala:48)
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # Adaptive execution: runtime re-plan, shuffle coalesce, skew split.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # At 100 TB the static number is a starting point only; AQE coalesces.
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        # Columnar output + compression (reference HiveConnector.scala:22-23)
        "spark.sql.parquet.compression.codec": "snappy",
        # Arrow for any pandas-UDF path (ext/ modules) — batch, not per-row.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Small-dim broadcast: 32 MB is safe at 128 GiB executors; dims like
        # region/nation/customer stay broadcast even at sf1000.
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    # Scan-split sizing: the default 128 MB split reads each small-to-mid
    # parquet file as ONE task, serializing the scan stage on a many-core
    # local box (measured 2x on the bench set). 8 MB keeps every core fed
    # locally; a cluster master keeps Spark's 128 MB, which amortizes task
    # overhead at 100 TB where files are properly sized.
    if master.startswith("local"):
        conf["spark.sql.files.maxPartitionBytes"] = str(8 * 1024 * 1024)
    if warehouse_dir:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
        # only spark.hadoop.*-prefixed keys reach the Hive/Hadoop config;
        # without the prefix Derby would land in cwd/metastore_db
        conf["spark.hadoop.javax.jdo.option.ConnectionURL"] = (
            f"jdbc:derby:;databaseName={warehouse_dir}/metastore_db;create=true"
        )
    if extra_conf:
        conf.update(extra_conf)

    for k, v in conf.items():
        builder = builder.config(k, v)
    if hive:
        builder = builder.enableHiveSupport()
    return builder.getOrCreate()
