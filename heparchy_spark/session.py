"""SparkSession factory tuned for the heparchy-spark engine.

Local testing runs ``local[N]`` in one JVM, but every configuration here is
chosen for the 1000-executor / 100 TB deployment this engine targets:

- **AQE on** (coalesce partitions, skew-join handling) so runtime statistics
  re-plan shuffles the static planner sized wrong at scale.
- **Arrow on** for every Python<->JVM batch exchange (pandas UDFs,
  ``mapInPandas`` ingest paths).
- **UTC session timezone** so timestamp semantics are stable across clusters
  (and match the DuckDB oracle, which is timezone-naive).
- Shuffle partition count defaults to the local core count; at cluster scale
  AQE's ``advisoryPartitionSizeInBytes`` governs post-shuffle sizing, so the
  static number only needs to be "big enough to not bottleneck the map side".
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from heparchy_spark.errors import EnvOverrideError

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "heparchy-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``SPARK_GRAFT_CPUS`` (default 32) sizes ``local[N]`` and the shuffle
    partitions when they are not given; a value that is not a positive
    integer raises ``EnvOverrideError`` before any session is built."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0  # reported below, with zero and negative counts
    if cpus < 1:
        raise EnvOverrideError(
            f"SPARK_GRAFT_CPUS={raw!r} is not a positive integer core count"
        )
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- timezone / determinism -------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution (scale path) ----------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- scan sizing ------------------------------------------------
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # --- Python <-> JVM ---------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- local-mode noise reduction ---------------------------------
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
