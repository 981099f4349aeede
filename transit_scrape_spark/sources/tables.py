"""Parquet fixture tables (the driver's TPC-H-ish star schema).

Replaces the reference's per-file Python loop + SQLAlchemy session
(``push_to_db.py:77-106``) with single distributed scans: one
``spark.read.parquet`` per table; Catalyst handles column pruning and
predicate pushdown into the parquet reader.

Opening a parquet file without a schema runs a Spark job that reads its
footer. A process that reads the same file again (every pass of a
benchmark, every op of a registry sweep) reuses the schema the first
read inferred, so only the first read of a file runs that job; see
:func:`read_parquet`.
"""

from __future__ import annotations

import functools
import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = [
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
]


# the session confs that change the schema Spark infers from a parquet footer
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with no schema-reading job on a repeat
    read of the same file.

    The first read infers the schema (one job); every read then passes it
    through ``spark.read.schema(...)``. The memo key is the file (path,
    inode, ``st_mtime_ns``, size) and the inference confs, so a rewritten
    file or a flipped ``nanosAsLong`` infers afresh. A directory or a
    path ``os.stat`` cannot see (``hdfs://...``) is always inferred."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    schema = _inferred_schema(spark, path, st.st_ino, st.st_mtime_ns, st.st_size, confs)
    return spark.read.schema(schema).parquet(path)


@functools.lru_cache(maxsize=256)
def _inferred_schema(spark, path, ino, mtime_ns, size, confs) -> StructType:
    return spark.read.parquet(path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return _normalize_ntz(read_parquet(spark, f"{sf_dir}/{name}.parquet"))


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TimestampType (LTZ).

    The driver's fixture generator has emitted two physical timestamp
    encodings across rounds — TIMESTAMP(NANOS) and, since r3,
    TIMESTAMP(MICROS, isAdjustedToUTC=false) which Spark reads as NTZ.
    Ops were written against LTZ timestamps (NTZ forbids casts to
    numeric, and unix_timestamp/window semantics differ), so pin the
    loader output to LTZ; with the UTC session timezone the wall-clock
    values equal DuckDB's naive read of the same file either way."""
    for col_name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


def _ensure_nanos_as_long(spark: SparkSession) -> None:
    """events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; the legacy flag reads it as a long we convert
    ourselves (runtime-settable, so this also works on a driver-provided
    session)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


def load_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_nanos_as_long(spark)
    return read_parquet(spark, f"{sf_dir}/events.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """events ``ts`` as TimestampType regardless of the fixture's physical
    type, for a batch or a streaming frame read with the events schema —
    TIMESTAMP(NANOS) reads as long under the legacy flag (truncate to
    micros), TIMESTAMP(MICROS, not-UTC-adjusted) reads as TIMESTAMP_NTZ
    (cast to LTZ; with the UTC session timezone pinned in
    registry._pin_session_confs the wall-clock values are identical to
    DuckDB's naive read of the same file)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize_event_ts(load_events_raw(spark, sf_dir))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
