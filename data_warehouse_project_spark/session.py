"""SparkSession factory and session-level tuning.

The engine does not own the session in driver-invoked paths (the
harness passes one in), so `tune(spark)` applies the runtime-settable
configuration we depend on, idempotently, to any session. `get_spark`
builds a local session with the same settings for tests/bench.

Scale notes (100 TB orientation): everything here is configuration,
not code — AQE on (runtime re-plan, skew-join splitting, partition
coalescing), broadcast threshold sized for dim tables, shuffle
partitions sized to cores locally but expected to be overridden to
~2-3x total cluster cores in a real deployment.
"""

from __future__ import annotations

import logging
import os
import tempfile

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

#: Runtime-settable confs the engine relies on. Applied via ``tune``.
RUNTIME_CONFS: dict[str, str] = {
    # The driver testdata's events.ts is parquet TIMESTAMP(NANOS,false),
    # which Spark's vectorized reader rejects; read it as raw long nanos
    # and convert in sources.catalog (lossless: data is µs-granular).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics: all TIMESTAMP<->NTZ casts and
    # any TimestampType arithmetic happen in UTC regardless of host tz.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime join-strategy switch, skew-join
    # splitting, post-shuffle partition coalescing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for all pandas_udf / mapInPandas / toPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime configuration to an existing session.

    A conf this deployment refuses is skipped with one warning naming
    it: each has a safe degraded behaviour except nanosAsLong, which
    sources.catalog works around per read anyway."""
    confs = dict(RUNTIME_CONFS)
    try:
        # Right-size shuffle partitions when still at the stock default:
        # AQE coalesces batch shuffles anyway, but stateful streaming
        # disables AQE and would otherwise run 200 state partitions on
        # a laptop-sized deployment. A real cluster overrides this.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            confs["spark.sql.shuffle.partitions"] = str(
                spark.sparkContext.defaultParallelism)
    except Exception as e:
        log.warning("session.tune could not read "
                    "spark.sql.shuffle.partitions (%s)", type(e).__name__)
    failed = []
    for key, value in confs.items():
        try:
            spark.conf.set(key, value)
        except Exception as e:
            failed.append(f"{key}={value} ({type(e).__name__})")
    if failed:
        log.warning("session.tune could not set %d conf(s): %s",
                    len(failed), "; ".join(failed))
    return spark


def get_spark(app_name: str = "data_warehouse_project_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a local session tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to the core count — right-sized for local runs;
    a cluster deployment overrides via spark-submit conf.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    warehouse = os.environ.get(
        "DWPS_WAREHOUSE_DIR",
        os.path.join(tempfile.gettempdir(), "dwps-warehouse"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode scan parallelism: the testdata tables are single
        # small parquet files; default 128 MiB split size reads them on
        # 1-3 cores. A cluster deployment keeps the default (small
        # splits at 100 TB would drown the scheduler).
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
    )
    return tune(builder.getOrCreate())
