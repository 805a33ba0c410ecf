"""SparkSession factory with scale-aware defaults.

The reference obtains an ambient ``distributed.Client``
(``core.py:451,559`` — ``default_client()``); our equivalent is the active
``SparkSession``. Everything here is plain public Spark configuration.

Defaults are chosen for the 100 TB design point but parameterized so local
test runs (local[32], small SF) stay fast:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace any hand-scheduling.
- ``spark.sql.shuffle.partitions`` is only the *initial* number — AQE
  coalesces down for small data and a real cluster raises it; we size it to
  cores locally.
- UTC session timezone: deterministic timestamp semantics across engines.
- ``nanosAsLong``: the test fixtures carry parquet TIMESTAMP(NANOS) columns
  which Spark does not read natively; we read the raw int64 and convert to
  microseconds at the source layer (sources/tables.py), which matches
  DuckDB's own µs truncation contract used by the correctness oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def get_spark(
    app_name: str = "dask-xgboost-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    driver_mem_default: str = "8g",
) -> SparkSession:
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        # callers that KNOW their scale pass a larger default (the scale
        # tools: 32g/64g); an explicit SPARK_GRAFT_DRIVER_MEM always wins
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", driver_mem_default
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_session_confs(spark: SparkSession) -> None:
    """Set runtime-settable confs this engine relies on.

    Called by the source layer so the engine also works on externally
    created sessions (e.g. the verification driver's own session).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the engine's execution posture, applied to externally created
    # sessions too (all runtime-settable): AQE for coalescing/skew,
    # Arrow for the driver-side fetch boundary
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # right-size externally created sessions that still carry the 200
    # default (tiny local runs; a tuned session is left untouched)
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
