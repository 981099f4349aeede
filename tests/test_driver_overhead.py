"""Fixed driver-side cost per op: what building and starting a query
costs before any task does useful work. Each test pins one cost that
was removed: the per-Column call-site capture, the schema-reading job
on a repeat table read, and the extra jobs of the MinHash near-dup
plan."""

from __future__ import annotations

import datetime
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from transit_scrape_spark.plans.inspect import executed_plan
from transit_scrape_spark.queries.registry import registry
from transit_scrape_spark.sources.tables import TABLES, load_table, read_parquet


def _jobs(spark, fn):
    """Run ``fn()`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"driver-overhead-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_get_spark_turns_call_site_capture_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_repeat_table_read_runs_no_job(spark, sf_dir, tmp_path):
    """The second ``load_table`` of a file reuses the schema the first
    inferred (the repeat read ran 1 schema-reading job before); the
    schema, nullability included, is the one Spark infers, and a
    rewritten file is inferred afresh."""
    shutil.copy(f"{sf_dir}/orders.parquet", tmp_path / "orders.parquet")
    path = str(tmp_path / "orders.parquet")

    first, _ = _jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    again, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert jobs == 0
    assert again.schema == first.schema
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    assert again.count() == first.count()

    table = pq.read_table(path)
    pq.write_table(table.append_column("extra", pa.array(range(table.num_rows))), path)
    assert "extra" in load_table(spark, str(tmp_path), "orders").columns


@pytest.mark.parametrize("table", TABLES)
def test_memoized_schema_equals_inferred(spark, sf_dir, table):
    path = f"{sf_dir}/{table}.parquet"
    read_parquet(spark, path)
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def _set_conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    return old


def test_inference_confs_key_the_memo(spark, sf_dir, tmp_path):
    """A schema inferred under one parquet inference conf is not reused
    under another: ``events.ts`` follows the conf on every read."""
    path = f"{sf_dir}/events.parquet"  # TIMESTAMP(MICROS, not UTC-adjusted)
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = _set_conf(spark, ntz, "true")
    try:
        assert dict(read_parquet(spark, path).dtypes)["ts"] == "timestamp_ntz"
        spark.conf.set(ntz, "false")
        assert dict(read_parquet(spark, path).dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set(ntz, old)

    nanos = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"ts": pa.array(
        [datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)], pa.timestamp("ns"))}), nanos)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = _set_conf(spark, key, "true")
    try:
        assert dict(read_parquet(spark, nanos).dtypes)["ts"] == "bigint"
        spark.conf.set(key, "false")
        # inferred afresh, so Spark rejects the NANOS type instead of the
        # read reporting the stale bigint
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, nanos)
    finally:
        spark.conf.set(key, old)


def test_near_minhash_is_one_bucket_aggregate(spark, sf_dir):
    """Candidates come from one band-bucket aggregate over uncached
    signatures: at most 6 jobs on the test fixture (11 with the persisted
    signatures, the band self-join and the two shingle re-attach joins,
    measured on this fixture with the 8-partition test session) and no
    cached relation in the plan."""
    def run():
        df = registry()["dedup-near-minhash"].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return df

    df, jobs = _jobs(spark, run)
    assert jobs <= 6
    plan = executed_plan(df)
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
