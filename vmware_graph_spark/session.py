"""SparkSession construction with scale-appropriate defaults.

Local tests run on ``local[N]``; the same settings are what we would
submit to a large cluster (AQE on, sensible shuffle partitioning, Arrow
for any pandas exchange). Nothing here is test-only magic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session defaults applied everywhere. At 100 TB the only knobs that
# change are shuffle partition count (sized so post-shuffle partitions
# land ~128-256 MB) and executor sizing, which live in submit conf, not
# code. AQE coalescing makes the local value non-critical.
ENGINE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: keep pushdown on (default, but pinned explicitly
    # because the oracle gate depends on scan-level filter semantics).
    "spark.sql.parquet.filterPushdown": "true",
    # Keep ANSI off: the reference's toInt() returns null on garbage
    # (SURVEY §2.8) and try_cast/ANSI-off casting matches that.
    "spark.sql.ansi.enabled": "false",
    # The events fixture stores TIMESTAMP(NANOS) which Spark refuses by
    # default; read as long and convert in sources.tables.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Hive-style ${var} substitution rewrites SQL TEXT before parsing,
    # so a column literally named `${0}` vanishes inside selectExpr no
    # matter how it is backtick-escaped (hypothesis found this via the
    # hostile-identifier property tests). The engine never uses
    # variable substitution; turning it off makes the SQL-string
    # ingest/merge paths total over arbitrary sheet column names.
    "spark.sql.variable.substitute": "false",
}


def shuffle_partitions() -> str:
    """Scale-adaptive shuffle partition count, not a constant.

    Locally it tracks the core count the driver granted (so an 8-core
    bench run doesn't schedule 4 waves of 32 tiny tasks per exchange);
    on a cluster SPARK_GRAFT_SHUFFLE_PARTITIONS / submit conf overrides
    it so post-shuffle partitions land 128-256 MB (guide §2.2: fewer,
    larger partitions as you scale out). AQE coalescing remains the
    runtime corrector in both regimes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        or (cpus if cpus.isdigit() else None)
        or str(os.cpu_count() or 32)
    )


def get_spark(app_name: str = "vmware-graph-spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession for local runs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions())
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune(spark: SparkSession) -> SparkSession:
    """Apply engine conf to an externally provided session (driver gate).

    The correctness driver hands us its own SparkSession; runtime-settable
    confs (timezone, AQE) are applied so query semantics don't depend on
    who built the session. Shuffle partitioning gets the same
    scale-adaptive policy as :func:`get_spark` — an externally built
    session otherwise runs Spark's default 200 partitions, which on a
    32-core local box is 6x the tasks per exchange for identical
    results (AQE coalesces the bytes but not the scheduling overhead of
    pre-coalesce map tasks).
    """
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = shuffle_partitions()
    for k, v in conf.items():
        spark.conf.set(k, v)  # every key is runtime-settable; failures surface
    return spark
