"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (see README):
- AQE on (runtime re-plan, skew-join splitting, dynamic coalesce)
- shuffle partitions sized for local testing; on a real cluster this is
  overridden via spark-submit conf (e.g. --conf spark.sql.shuffle.partitions=4096)
- UTC session timezone so replay is timezone-stable
- Arrow enabled for all pandas UDF exchange
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "airbyte_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("SPARK_LOCAL_DIRS_OVERRIDE"):
        builder = builder.config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS_OVERRIDE"])
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
