"""Parquet fixture tables (the driver's TPC-H-ish star schema).

Replaces the reference's per-file Python loop + SQLAlchemy session
(``/root/reference/src/push_to_db.py:77-106``) with single distributed
scans: one ``spark.read.parquet`` per table; Catalyst handles column
pruning and predicate pushdown into the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return _normalize_ntz(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


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
    return spark.read.parquet(f"{sf_dir}/events.parquet")


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
