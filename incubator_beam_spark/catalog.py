"""Table catalog over the driver-generated parquet fixtures.

Mirrors the reference's ``TableProvider`` catalogs
(``sdks/java/extensions/sql/.../meta/provider/TableProvider.java``): names
resolve to sources; here every table is a parquet directory under a
scale-factor dir and resolution is a parquet read — DataSource V2 gives
predicate pushdown + column pruning for free.

A table's schema is catalog metadata, resolved once per path. A bare
``spark.read.parquet`` launches a Spark job to infer the schema from the
footer on every call, so ``read_parquet`` keeps the schema that
inference returned and later reads pass it to ``spark.read.schema(...)``,
which launches no job:

- The cache key is the path, a fingerprint of its leaf files (name, size
  and modification time, listed through the session's Hadoop
  ``FileSystem``), and the reader confs that change inferred types
  (``_SCHEMA_CONFS``). Every read re-lists and compares, so a rewritten
  file or a changed conf re-infers.
- One entry per path: a mismatch replaces it, so the cache stays bounded.
- Only the schema is cached, never a DataFrame: each read is a fresh
  relation with fresh attribute ids, so two reads of one table self-join.
- Nothing is read ahead; the first read of each path infers as before.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at any scale factor we target
# (region/nation are bounded by geography; at 100 TB they are still tiny).
BROADCAST_SAFE = {"region", "nation"}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make a FOREIGN SparkSession (e.g. the driver's vanilla one) able to
    read the fixtures correctly. Both confs are runtime-settable:
    - nanosAsLong: events.parquet stores TIMESTAMP(NANOS), which Spark's
      reader rejects outright without this flag;
    - UTC session timezone: unix_timestamp()/window() interpret naive
      timestamps in the session zone — anything else shifts epoch values
      away from the (UTC-naive) DuckDB oracle.
    """
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


# Reader confs that change the types parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# path -> ((leaf-file fingerprint, reader confs), inferred schema). Entries
# are replaced whole, so a racing reader sees a complete entry and checks
# its key; losing a race costs one extra inference, never a wrong schema.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _leaf_files(spark: SparkSession, path: str) -> tuple:
    """(name, size, mtime) of every file under ``path``, via Hadoop."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    it = fs.listFiles(hpath, True)
    files = []
    while it.hasNext():
        st = it.next()
        files.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    path's files or the reader confs changed since the last read. The
    listing comes before the read, so a file rewritten in between leaves a
    stale fingerprint behind, and the next read infers again."""
    try:
        files = _leaf_files(spark, path)
    except Py4JJavaError:
        return spark.read.parquet(path)  # unlistable: Spark reports why
    key = (files, tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_session_confs(spark)
    return normalize_timestamps(name, read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet")))


def normalize_timestamps(name: str, df: DataFrame) -> DataFrame:
    """Give every timestamp column of a fixture read (batch or stream) the
    instant-based TIMESTAMP type that event-time APIs require."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # Legacy fixture layout: ts stored as TIMESTAMP(NANOS), read as
        # epoch-nanos long (see nanosAsLong above); restore event-time
        # semantics at microsecond precision. Integer DIV: epoch-nanos
        # exceeds double's 2^53 mantissa, so float division would round
        # the microsecond digit.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # Current fixtures store timestamp[us] with isAdjustedToUTC=false, which
    # this Spark reads as TIMESTAMP_NTZ. Event-time APIs (withWatermark,
    # unix_micros, window) require the instant-based TIMESTAMP type, so
    # normalize every NTZ column here — the cast reinterprets the naive
    # value in the session timezone, which _ensure_session_confs pins to
    # UTC, making it exact w.r.t. the (UTC-naive) DuckDB oracle.
    ntz_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for the SQL front door)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
