"""SparkSession factory for the engine.

The reference runs Spark 2.4.8 on ephemeral EMR clusters
(reference: airflow/dags/init_1_spark_emr_dag.py:30, proc_1_spark_emr_dag.py:38-66)
with zero tuning beyond cluster shape. We centralize session
construction so every entry point (tests, bench, driver contract,
pipeline) gets the same scale-aware defaults:

- AQE on (runtime coalescing, skew-join splitting) — replaces the
  reference's hardcoded ``repartition(10)`` output sizing
  (init-data-transformation.py:90).
- ``spark.sql.shuffle.partitions`` sized to cores for local mode; on a
  real cluster AQE coalesces from a high initial number.
- UTC session timezone so timestamp semantics are portable (and match
  the DuckDB oracle, which is UTC-naive).
- Arrow enabled for the Pandas-UDF extension surface.
- The in-repo row-level DSv2 catalog (jvm/SimpleRowLevelCatalog.java)
  is compiled on demand and mounted as catalog ``rowlvl`` so MERGE
  INTO / UPDATE / DELETE SQL execute for real (operators/merge.py
  delegation path) without Delta/Iceberg jars.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the host's core count; SPARK_GRAFT_CPUS overrides it
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

ROWLEVEL_CATALOG_CLASS = "sparkgraft.catalog.SimpleRowLevelCatalog"


def _rowlevel_jar() -> str | None:
    """Build (or reuse) the row-level catalog jar; None when the JDK
    toolchain is unavailable — callers then simply get a session
    without the ``rowlvl`` catalog."""
    try:
        import sys

        tools = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
        )
        if tools not in sys.path:
            sys.path.insert(0, tools)
        from build_rowlevel_jar import build

        return build(quiet=True)
    except Exception:
        return None


def get_spark(
    app_name: str = "batch_processing_on_aws_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    Local-mode defaults; on a cluster the master/memory settings are
    supplied by spark-submit and everything here still applies.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Parquet TIMESTAMP(NANOS) (the events table) has no native
        # Spark type; read as long and convert in the reader
        # (sources/readers.py truncates to micros, matching what
        # DuckDB/Arrow do when casting ns → us).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Dynamic partition overwrite: the streaming ledgers
        # (streaming/incremental.py) rewrite only their own epoch's
        # partition on a replayed epoch, never the whole ledger. Keyed
        # tables do not rely on it: they commit manifests
        # (operators/versioned.py).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Keyed-table reads pass explicit file lists, often more than
        # the default 32 paths at which Spark lists files with a
        # distributed job. The session is always local[N], where that
        # job only adds scheduling latency, so list on the driver.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            "1000000",
        )
    )
    jar = _rowlevel_jar()
    if jar:
        # classpath confs only take effect at FIRST session creation
        # (they launch the JVM); getOrCreate on an existing session
        # ignores them, which is fine — the catalog is already there
        builder = (
            builder.config("spark.jars", jar)
            .config("spark.driver.extraClassPath", jar)
            .config("spark.sql.catalog.rowlvl", ROWLEVEL_CATALOG_CLASS)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_bounded_window_warns(spark)
    return spark


def _quiet_bounded_window_warns(spark: SparkSession) -> None:
    """Silence the ``WindowExec: No Partition Defined`` WARN.

    The only unpartitioned windows in the engine are the allowlisted
    calendar/schema-bounded spines (≤366 rows by construction, reasons
    in plans/contracts.py) — each execution sprays this WARN, burying
    real signal in captured bench logs. Raise just that one logger to
    ERROR; everything else stays at WARN. Best-effort: log4j2 only."""
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        level = jvm.org.apache.logging.log4j.Level.ERROR
        configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec", level
        )
    except Exception:
        pass
