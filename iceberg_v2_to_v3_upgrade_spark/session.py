"""SparkSession factory.

Replaces the reference's remote-execution gateway (SSH to EMR master +
``spark-sql --conf ...``, reference ``internal/upgrade_table.py:59-97``) with
an in-process session carrying the same *shape* of configuration: one
catalog, one warehouse, session extensions — but local and file-backed.

Scale posture: the conf defaults below are chosen so the same code runs
unchanged on a real cluster — AQE handles runtime re-planning and skew,
shuffle partitions default to the parallelism of the machine (override with
``spark.sql.shuffle.partitions`` at submit time on a 1000-executor cluster),
and nothing here assumes local mode.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

#: Runtime confs every entry point applies even to an externally created
#: session (the driver harness builds its own SparkSession).  All of these
#: are runtime-settable SQLConf keys.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores INT64 TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as long and convert explicitly (io.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Hash-stable timestamps across engines (DuckDB oracle is tz-naive).
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones. Essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs to an existing session (idempotent)."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            # A conf may be non-settable on exotic builds; every consumer of
            # these keys degrades gracefully (io.load_table re-checks) — but
            # surface it so type/fixture drift doesn't hide here again.
            _log.warning("conf %s=%s not applied: %s", key, value, exc)
    return spark


def get_spark(
    app_name: str = "iceberg-v2-to-v3-upgrade-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession configured for this engine.

    Mirrors the reference's catalog wiring block
    (``internal/upgrade_table.py:65-71``) in spirit: a handful of confs on a
    stock Spark, no custom planner.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Partition sizing: 128 MiB parquet splits — the cluster default that
        # keeps 100 TB / 128 MiB ≈ 800k tasks, fine for a 1000-executor fleet.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
