"""SparkSession factory with scale-oriented defaults.

Sized to the host it runs on: ``local[N]`` over the CPUs this process may
use (``SPARK_GRAFT_CPUS`` overrides) and a driver heap of half the host's
RAM, at most 16g (``SPARK_DRIVER_MEM`` overrides).  Every other setting is
the one you'd want on a 1000-executor cluster too: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), Arrow for the few Python
stages, UTC session time so timestamps round-trip deterministically.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cpus() -> int:
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _host_driver_mem() -> str:
    half_ram_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(16 * 1024, half_ram_mib)}m"


def get_spark(app_name: str = "postfix_log_parser_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_host_cpus())
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local-mode scan parallelism: the bench logs are ~15 MB, which is
        # ONE split at the 128 MB default — keep splits small so every
        # core engages.  On a real cluster leave the default (128 MB).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "2m"),
        )
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet timestamp[us] without tz would otherwise load as
        # TIMESTAMP_NTZ (Spark ≥3.5), which unix_micros() rejects; under a
        # forced-UTC session the plain TIMESTAMP reading is identical.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _host_driver_mem())
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-created session.

    The driver harness creates its own SparkSession; the parser depends on
    a couple of runtime-settable confs (map dedup policy for last-wins k=v
    folding, UTC timestamps for deterministic comparisons) that we set
    defensively on every entry point.
    """
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:  # pragma: no cover - not runtime-settable on old builds
        pass
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:  # pragma: no cover - conf may be static on some builds
        pass
    return spark
