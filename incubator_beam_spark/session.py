"""SparkSession factory with scale-aware defaults.

The reference (apache/incubator-beam) delegates execution to a pluggable
``PipelineRunner`` (``sdks/python/apache_beam/runners/runner.py``). In this
engine the runner *is* Spark: one session, configured for Catalyst + AQE.

Settings are chosen for correctness-at-scale first:
- AQE on (runtime coalescing, skew-join splitting) so plans re-optimize
  at 100 TB without hand-tuning per query.
- UTC session timezone so event-time semantics match the DuckDB oracle
  and are stable across cluster locales.
- Arrow enabled so any Pandas-UDF boundary is batched, never per-row.
- Local sessions write streaming checkpoints (state-store deltas and
  RocksDB uploads, offset and commit logs, the file sink's
  ``_spark_metadata`` log) through Spark's FileSystem-based checkpoint
  manager, not its FileContext default. Hadoop's local filesystem
  shells out: the FileContext rename checks its destination with
  ``getFileLinkStatus``, which forks ``readlink`` on every call, and
  without ``libhadoop`` every permission set forks ``chmod``. The
  ``readlink`` forks were most of each state-store commit. On
  ``file://`` the two managers keep the same guarantees: both write a
  temp file and rename it into ``RawLocalFileSystem``, and both refuse
  an existing destination first, one through ``getFileLinkStatus``,
  the other through ``fs.exists`` (a ``File.exists``, no fork). Checked
  with ``javap -c`` on the Spark 4.1.2 and Hadoop 3.4.2 jars.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from incubator_beam_spark import pbshim

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(app_name: str = "incubator_beam_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    On a real cluster the master/memory flags come from spark-submit; every
    ``.config`` here is safe to keep (they are about SQL planning, not
    topology).
    """
    cpus = cpus or DEFAULT_CPUS
    # Must run before the JVM launches: workers inherit PYTHONPATH from the
    # JVM env, and the pbshim (vendored protobuf for transformWithState)
    # rides PYTHONPATH via sitecustomize. No-op when protobuf is installed.
    pbshim.activate()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 2)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The events fixture stores TIMESTAMP(NANOS); Spark's reader rejects
        # it natively. Read as epoch-nanos long; catalog.py converts back to
        # a (microsecond) timestamp column.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        import tempfile

        builder = (
            builder.master(f"local[{cpus}]")
            .config("spark.driver.memory", "48g")
            # See the module docstring. On a cluster spark-submit owns
            # this, and HDFS needs FileContext's atomic rename.
            .config(
                "spark.sql.streaming.checkpointFileManagerClass",
                CHECKPOINT_FILE_MANAGER,
            )
            # keep the (unused) hive warehouse dir out of the repo CWD
            .config(
                "spark.sql.warehouse.dir",
                os.path.join(tempfile.gettempdir(), "ibs_warehouse"),
            )
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
