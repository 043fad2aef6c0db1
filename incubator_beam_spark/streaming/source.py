"""Streaming sources over the fixture tables.

The reference's unbounded sources are SDFs (``io/iobase.py:1239``); Spark's
DataSource V2 micro-batch planner fills that role (SURVEY.md §2.7) — a
file-stream source here, Kafka/rate in production (``sources/io.py``).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
    watermark_sentinel_ts: str | None = None,
    watermark_sentinel_overrides: dict | None = None,
) -> DataFrame:
    """Read a fixture table as an unbounded stream (file source).

    Schema comes from the catalog's resolver (streaming reads require an
    explicit schema); timestamps are normalized as in catalog.table.

    ``watermark_sentinel_ts`` (e.g. "2099-01-01"): stage an extra
    one-row parquet whose ``ts`` is that instant, mtime-ordered AFTER the
    real file so it arrives as its own later micro-batch. Its only job is
    to push the watermark past every real event — the move that makes
    hold-until-expiry semantics (outer stream-stream joins, event-time
    timers near stream end) flush deterministically on a bounded drain.
    The sentinel row carries ``event_id = -1``; filter it out of the
    data path (watermark tracking happens before user filters).
    """
    from ..catalog import _ensure_session_confs, normalize_timestamps, read_parquet

    # Pin UTC + nanosAsLong on a FOREIGN session (the driver's) here too:
    # the NTZ->timestamp cast of normalize_timestamps is exact only under
    # UTC, and relying on an earlier catalog.table() call having set it is
    # order-fragile.
    _ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    bounded = read_parquet(spark, path)
    # FileStreamSource requires a directory; fixtures are single files.
    # Stage a symlink in a temp dir (no data copy) and stream that dir.
    stage = tempfile.mkdtemp(prefix=f"stream_{name}_")
    os.symlink(path, os.path.join(stage, f"{name}.parquet"))
    if watermark_sentinel_ts is not None:
        _write_sentinel(
            spark, bounded, stage, watermark_sentinel_ts,
            watermark_sentinel_overrides or {},
        )
        if max_files_per_trigger is None:
            max_files_per_trigger = 1  # sentinel must be its OWN batch
    reader = spark.readStream.schema(bounded.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_timestamps(name, reader.parquet(stage))


def _write_sentinel(
    spark, bounded: DataFrame, stage: str, ts: str, extra: dict
) -> None:
    """One-row parquet in the staged dir with ts=``ts``, event_id=-1,
    schema identical to the real file; mtime bumped so the file source
    (which orders by modification time) delivers it LAST. ``extra``
    overrides literal column values (e.g. event_type='purchase' so the
    sentinel PASSES a type filter that Catalyst pushes below the
    watermark node — it must reach EventTimeWatermarkExec to do its
    job, and only the ts-referencing filter ABOVE the node, which
    Catalyst cannot push through, may drop it)."""
    import glob
    import shutil

    import time

    from pyspark.sql.types import LongType

    row = bounded.limit(1)
    overrides = {}
    for f in row.schema.fields:
        if f.name == "ts":
            if isinstance(f.dataType, LongType):  # legacy nanos layout
                import pandas as pd

                overrides["ts"] = F.lit(int(pd.Timestamp(ts).value))
            else:
                overrides["ts"] = F.lit(ts).cast("timestamp").cast(
                    f.dataType.simpleString()
                )
        elif f.name == "event_id":
            overrides["event_id"] = F.lit(-1).cast(f.dataType.simpleString())
        elif f.name in extra:
            overrides[f.name] = F.lit(extra[f.name]).cast(f.dataType.simpleString())
    row = row.withColumns(overrides)
    tmp = tempfile.mkdtemp(prefix="sentinel_")
    row.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dest = os.path.join(stage, "zz-sentinel.parquet")
    shutil.move(part, dest)
    shutil.rmtree(tmp, ignore_errors=True)
    future = time.time() + 3600
    os.utime(dest, (future, future))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_table(spark, sf_dir, "events")


def run_to_completion(stream_df: DataFrame, query_name: str, output_mode: str = "append"):
    """Drain a bounded file-backed stream through a memory sink and return
    the result table (micro-batch execution of the same logical plan).

    Test/driver utility: production sinks are in ``sources/io.py``.
    """
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def periodic_impulse(
    spark: SparkSession, fire_interval_sec: float = 1.0, rows_per_second: int | None = None
) -> DataFrame:
    """PeriodicImpulse (reference ``transforms/periodicsequence.py:137``):
    an unbounded stream of (timestamp, value) ticks at a fixed interval —
    the standard "poll something every N seconds" driver. Maps to Spark's
    ``rate`` source: rowsPerSecond = 1/interval; the ``value`` column is
    the monotone tick index exactly like the reference's sequence
    output."""
    rps = rows_per_second if rows_per_second is not None else max(1, round(1.0 / fire_interval_sec))
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rps)
        .load()
        .select(F.col("timestamp").alias("ts"), F.col("value"))
    )


class PeriodicImpulse:
    """Class spelling of :func:`periodic_impulse` (reference
    ``transforms/periodicsequence.py:137`` is a PTransform class):
    ``PeriodicImpulse(fire_interval=N).expand(pipeline)`` or call
    ``read(spark)`` directly."""

    def __init__(self, fire_interval: float = 1.0):
        self.fire_interval = fire_interval

    def read(self, spark: SparkSession) -> DataFrame:
        return periodic_impulse(spark, self.fire_interval)

    def expand(self, pipeline):
        """PTransform spelling: ``PeriodicImpulse(...).expand(pipeline)``
        returns a PCollection wrapping the rate stream (accepts either a
        Pipeline or a SparkSession)."""
        from ..core import PCollection, Pipeline

        if isinstance(pipeline, Pipeline):
            return PCollection(self.read(pipeline.spark), pipeline)
        return PCollection(self.read(pipeline), Pipeline(spark=pipeline))
