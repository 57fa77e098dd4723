"""SparkSession factory with scale-appropriate defaults.

Designed for a 1000-executor cluster reading ~100 TB; tested on local[N].
The settings below are the ones that matter at both scales:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow enabled for all pandas UDF exchange,
- shuffle partitions sized to the cores available locally (on a real
  cluster this should be ~2-3x total executor cores, or left to AQE
  with a high initial value),
- broadcast threshold left at default 10 MB — dimension tables
  (robots rules, host stats, query tables) are broadcast explicitly.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "web_scraper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def materialize(df: DataFrame) -> tuple[DataFrame, Callable[[], None]]:
    """Eager ``localCheckpoint`` of ``df`` plus a one-shot ``release()``.

    ``DataFrame.unpersist()`` is a no-op on a checkpointed frame (its
    blocks live outside the cache manager), so the checkpointed JVM RDD is
    taken off the plan's ``LogicalRDD`` leaf here, once, and ``release()``
    unpersists it. Call ``release()`` only once the result is durably
    consumed: the checkpoint truncated the lineage, so a later action on
    the frame fails loudly instead of recomputing. A second ``release()``
    raises, and so does a Spark version whose checkpoint leaf has moved —
    a leak must never be silent."""
    out = df.localCheckpoint(eager=True)
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    if leaves.size() != 1 or leaves.apply(0).nodeName() != "LogicalRDD":
        raise RuntimeError(
            "materialize: the checkpointed plan is not a single LogicalRDD "
            "leaf; cannot take a release handle for its blocks"
        )
    jrdd = leaves.apply(0).rdd()
    released = False

    def release() -> None:
        nonlocal released
        if released:
            raise RuntimeError("materialize: checkpoint already released")
        released = True
        jrdd.unpersist(True)

    return out, release
