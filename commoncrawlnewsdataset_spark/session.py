"""SparkSession factory.

Centralizes the configs that matter at 100 TB scale so every entry point
(tests, bench, driver) runs with the same execution profile:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) — the
  reference has no skew handling at all (its per-file model serializes on a
  hot host); we make it explicit.
- Arrow execution for every pandas UDF (the reference's per-row ``iterrows``
  loops, e.g. Project_Scripts/03_extract_text.py:52, are the anti-pattern this
  replaces).
- The local master and the shuffle partitions default to the cores this
  process may run on (``os.sched_getaffinity``), so each Python stage runs
  one worker per core; on a real cluster the partitions are overridden by
  AQE's coalescing from a higher initial value.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession


def resolve_parallelism(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    env: Mapping[str, str] = os.environ,
) -> tuple[str, int]:
    """(master, shuffle partitions): an explicit argument wins, then
    ``SPARK_GRAFT_MASTER`` / ``SPARK_GRAFT_CPUS`` and
    ``SPARK_GRAFT_SHUFFLE``, then the number of usable cores."""
    cores = str(len(os.sched_getaffinity(0)))
    cpus = env.get("SPARK_GRAFT_CPUS", cores)
    master = master or env.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(env.get("SPARK_GRAFT_SHUFFLE", cores))
    return master, shuffle


def get_spark(
    app_name: str = "ccnews-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard configs."""
    master, shuffle_partitions = resolve_parallelism(master, shuffle_partitions)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
