"""SparkSession factory for tests & bench (the driver brings its own).

local[N] here, but every setting is chosen as it would be on a
1000-executor cluster: AQE on (runtime partition coalescing + skew-join
splitting), broadcast threshold generous enough to keep all dimension
joins shuffle-free, shuffle partitions sized for the local core count
(on a real cluster AQE coalesces from a high initial value), Arrow on
for the few Pandas-UDF paths. Python workers get the package's parent
directory on their PYTHONPATH, so UDF queries run from any working
directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "leadsight-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    # Each UDF copies sc.environment when it is wrapped; pyspark fills it
    # from the merged conf (spark-defaults.conf included), so appending
    # keeps any PYTHONPATH already shipped, also for a running context.
    env = spark.sparkContext.environment
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in parts:
        env["PYTHONPATH"] = os.pathsep.join(parts + [_PACKAGE_PARENT])
    return spark
