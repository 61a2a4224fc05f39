"""SparkSession factories with the engine's one SQL profile.

:func:`sql_profile` is the single definition of the runtime SQL settings,
so every entry point (tests, bench, perfbench, driver contract and the
spark-submit scripts) runs the same engine profile:

* AQE on (runtime coalesce + skew-join splitting) — the blocking self-join
  skews on dense urban keys, and AQE splits those partitions at runtime.
* Arrow exchange on, with a bounded batch size so Python workers keep a
  steady memory footprint regardless of input scale. Spark leaves
  ``arrow.pyspark.enabled`` off by default, and without it the driver-side
  CC finish (``toPandas``/``createDataFrame`` in ``cluster.py``) takes the
  row-at-a-time path.
* Shuffle partitions default to 4× cores (at least 16) — small enough for
  local runs, and the explicit ``repartition`` calls in the pipeline are the
  real scale lever on a cluster.

:func:`get_spark` builds a session with its own master and driver memory;
:func:`submit_spark` leaves those to spark-submit and applies the same
profile to the session it is given.
"""

from __future__ import annotations

import os
from typing import Dict, Optional

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def sql_profile(cores: int, shuffle_partitions: Optional[int] = None) -> Dict[str, str]:
    """The runtime SQL settings of every session, for ``cores`` task slots."""
    if shuffle_partitions is None:
        # ≥ 4× cores so stragglers rebalance; AQE coalesces the excess.
        shuffle_partitions = max(4 * cores, 16)
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
    }


def get_spark(
    master: Optional[str] = None,
    app_name: str = "addressit_spark",
    shuffle_partitions: Optional[int] = None,
    driver_memory: str = "8g",
) -> SparkSession:
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=sql_profile(cores, shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def submit_spark(app_name: str) -> SparkSession:
    """The session of a spark-submit entry point, with :func:`sql_profile`.

    spark-submit owns the master, the executors and the driver memory (a
    standalone ``python`` run gets its local defaults), so only the runtime
    SQL settings are applied, sized by the session's ``defaultParallelism``.
    """
    spark = SparkSession.builder.appName(app_name).getOrCreate()
    for key, value in sql_profile(spark.sparkContext.defaultParallelism).items():
        spark.conf.set(key, value)
    return spark
