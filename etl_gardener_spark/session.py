"""SparkSession factory with scale-appropriate defaults.

The reference delegates execution to BigQuery and therefore carries no engine
configuration of its own; the knobs below are the Spark-side equivalents of
what BigQuery gave the reference for free (cloud/bq/ops.go: batch priority,
partition-grain writes, schema-on-read) plus the settings any 100 TB
deployment needs from day one:

* **AQE on** — runtime re-planning: partition coalescing after filters,
  skew-join splitting for hot keys (the reference's dedup cost is "roughly
  proportional to the memory footprint of the table partition",
  cloud/bq/ops.go:187-189 — i.e. skew-sensitive).
* **Dynamic partition overwrite** — the Spark equivalent of BigQuery's
  partition decorator + WriteTruncate (``table$YYYYMMDD``,
  tracker/job.go:48-50): an INSERT OVERWRITE replaces only the partitions
  present in the incoming data, never the whole table.
* **UTC session timezone** — the reference's dates are UTC days
  (tracker/job.go:28-45); pinning the session TZ also makes results
  comparable against UTC-naive oracles.
* **Arrow enabled** — every Python-side extension operator (Pandas UDFs in
  ``functions/``) rides vectorized Arrow batches, never row-at-a-time serde.
* **Python workers import the unpacked pyspark** (local masters only) —
  Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar at the
  front of every Python worker's ``sys.path``, and each task's
  ``importlib.invalidate_caches()`` makes CPython 3.11 re-read every
  cached zip archive's directory: measured 0.17-0.25 s of every Python
  task (``mapInArrow``, ``mapInPandas``, ``applyInPandasWithState``,
  UDFs) on a 4-core box with Spark 4.1.2, where a JVM-only one-task job
  takes 0.08-0.13 s. It is this, not worker spin-up, that made a Python
  pass cost twice a JVM job. ``spark.python.daemon.module`` names
  ``worker_daemon``, which drops the archives when the same pyspark and
  py4j versions are installed unpacked and otherwise falls back to
  Spark's path unchanged; the package's parent directory is appended to
  ``spark.executorEnv.PYTHONPATH`` so workers find the module whatever
  the driver's working directory. On a cluster the executors' Python
  environment is not the driver's, so pyspark's own daemon stays there.
  ``extra_conf`` overrides either setting.

On a real cluster, ``spark.sql.shuffle.partitions`` should be sized to
roughly 2-3x total executor cores and ``spark.sql.files.maxPartitionBytes``
left at 128m so a 100 TB scan yields ~800k input splits that stream through
executors; AQE coalesces the small post-filter shuffles back down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# appended to the workers' PYTHONPATH so they import the worker daemon
# (and this package) whatever the driver's working directory
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)


def get_spark(
    app_name: str = "etl_gardener_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    In local mode the shuffle partition count defaults to the core count —
    the 200-partition default over-parallelizes small local runs and
    under-parallelizes large clusters; both should size it explicitly.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Testdata parquet carries tz-naive timestamps; read them as the
        # session-TZ (UTC) TimestampType rather than TIMESTAMP_NTZ so date
        # arithmetic / unix-epoch casts behave like the oracle's timestamps.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # file:// scheme only (HDFS/S3 deployments never hit this conf):
        # Hadoop's default checksummed LocalFileSystem, with no native
        # hadoop library loaded, shells out (fork/exec `ls`/`chmod` via
        # hadoop.util.Shell) for permission handling on every file
        # create/commit. 32 concurrent writer tasks forking a multi-GB
        # JVM convoy on the kernel: a 32-file parquet write measured
        # 13.2 s executorRunTime / 0.9 s CPU; RawLocalFileSystem (no CRC
        # sidecars — parquet carries its own page checksums) cuts it to
        # 3.2 s and every streaming state-store commit (many tiny files
        # per batch) by the same mechanism. Override with
        # SPARK_GRAFT_LOCAL_FS=checksum to restore the default.
        .config(
            "spark.hadoop.fs.file.impl",
            "org.apache.hadoop.fs.RawLocalFileSystem"
            if os.environ.get("SPARK_GRAFT_LOCAL_FS", "raw") == "raw"
            else "org.apache.hadoop.fs.LocalFileSystem",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master == "local" or master.startswith("local["):
        # Python workers import the unpacked pyspark rather than Spark's
        # archives (worker_daemon.py); an executor on a cluster does not
        # share the driver's environment, so pyspark's own daemon stays
        builder = builder.config(
            "spark.python.daemon.module", "etl_gardener_spark.worker_daemon"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
