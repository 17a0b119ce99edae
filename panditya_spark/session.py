"""SparkSession factory.

Defaults chosen for correctness *and* scale-out behavior:

- AQE on (runtime re-plan: broadcast flips as BFS frontiers shrink,
  skew-join splitting for hub vertices — the reference data has one
  9,049-node component, so degree skew is real).
- Arrow on (pandas UDF / toPandas transfers are columnar batches).
- UTC session timezone so timestamp semantics match DuckDB oracles.
- Cores and driver heap derived from the host (host_defaults);
  SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM override them.
- shuffle partitions sized to the local core count; on a real cluster
  this would be set per-job or left to AQE coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_defaults() -> tuple[int, str]:
    """(cores, driver heap) for a local session on this host: the
    cores this process may run on, and a fifth of physical memory
    (MemTotal) in whole GB, clamped to 1g..12g, leaving the rest to the
    Python workers, the page cache and other processes."""
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API off Linux
        cores = os.cpu_count() or 1
    mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return max(cores, 1), f"{min(max(mem // (5 << 30), 1), 12)}g"


def get_spark(app_name: str = "panditya-spark") -> SparkSession:
    cores, heap = host_defaults()
    try:
        n = max(int(os.environ.get("SPARK_GRAFT_CPUS", cores)), 1)
    except ValueError:
        n = cores
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", heap))
        # Long-lived sessions (the bench runs 35 queries × reps; a real
        # deployment runs for days) accumulate broadcast/shuffle/RDD
        # state that ContextCleaner only releases on a JVM GC; with a
        # large heap, organic GC is rare and the block manager creeps
        # ~120 MB per iterative-query rep until execution slows
        # (measured r16: 8 back-to-back g14_scc runs degraded 9.2 →
        # 21.0 s; with a 90 s periodic GC the same loop held 9.0-9.1 s
        # on late reps). Default 30min is tuned for multi-hour cluster
        # jobs; 90 s bounds the creep at a negligible full-GC cost.
        .config("spark.cleaner.periodicGC.interval", "90s")
        .getOrCreate()
    )
    ensure_session_defaults(spark)
    return spark


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable defaults to *any* session (including one the
    driver hands us): UTC timestamps for oracle parity and the parquet
    timestamp reads below. Static confs (AQE etc.) can't be changed
    post-start, so we only touch runtime confs here."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The driver's events.parquet timestamp physical type has changed
    # across testdata generations: TIMESTAMP(NANOS) in one, then
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) — which Spark would infer
    # as TIMESTAMP_NTZ, a type withWatermark/unix_micros reject. Both
    # confs below make either shape arrive as something load_table /
    # read_events_stream can normalize to plain TIMESTAMP; the loaders
    # ALSO guard by schema (LongType → timestamp_micros, NTZ → cast), so
    # a conf silently not applying cannot recur as a red round. The
    # session tz is UTC, so NTZ-as-TIMESTAMP matches DuckDB's naive
    # reading instant-for-instant.
    for conf, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ):
        try:
            spark.conf.set(conf, val)
        except Exception:
            # Runtime-immutable on some deployments (e.g. Connect with a
            # locked conf); the schema-level guards in the loaders are
            # the real defense — do not mask THEIR failures.
            pass
    return spark
