"""Load pipeline — the reference's stage 2 (``push_to_db.py`` +
``db_helpers.py:125-247``) re-expressed as one declared scan and one write:

- the sequential per-file glob loop (:77-106) becomes ONE multi-file scan
  with a schema declared from :data:`TARGET_COLUMNS` (no inference pass);
- per-row ORM materialization + 64k-batch commits (:148-182) become one
  schema-aligned parquet append, whose row count is observed on the write
  itself (no separate ``count()`` pass);
- ``--drop-existing`` / re-run hazard (:29-30,91-92) becomes one
  aggregate over the batch and the table's keys that keeps a row only for
  a key the table does not hold yet, the NULL key included (SURVEY §7 M3);
  ``--drop-existing`` is an overwrite write.

Input contract: one GeoJSON document per file (FeatureCollection, bare
feature list or single Feature), with ``type`` as the source key of
``route_type``.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from transit_scrape_spark.functions.geo import linestring_to_wkt
from transit_scrape_spark.sources.geojson import read_geojson_features

TARGET_COLUMNS: list[tuple[str, str]] = [
    ("route_id", "string"),
    ("street", "string"),
    ("locality", "string"),
    ("route_type", "string"),
    ("notes", "string"),
    ("surface", "string"),
    ("ncn_route", "string"),
    ("traffic", "string"),
    ("local_authority", "string"),
    ("la_s_code", "string"),
    ("sh_date_uploaded", "string"),
    ("sh_src", "string"),
    ("sh_src_id", "double"),
    ("route_length_m", "double"),
    ("source_file", "string"),
    ("geometry_wkt", "string"),
]

# Scan DDL for the feature properties, derived from the table contract:
# every column except the derived ``source_file``/``geometry_wkt``, all as
# STRING so align_to_target's casts stay the one place that sets types;
# ``route_type`` is read under its source key ``type`` (db_helpers.py:163-165).
_PROPERTIES = ", ".join(
    f"`{'type' if n == 'route_type' else n}` STRING"
    for n, _ in TARGET_COLUMNS if n not in ("source_file", "geometry_wkt")
)


def align_to_target(df: DataFrame) -> DataFrame:
    """rename `type`->`route_type` (reference db_helpers.py:163-165), keep
    known columns / drop unknowns (:167-169), add missing as typed NULLs,
    stamp load timestamps (db_models.py:54-55)."""
    if "type" in df.columns and "route_type" not in df.columns:
        df = df.withColumnRenamed("type", "route_type")
    cols = [
        (F.col(n).cast(t) if n in df.columns else F.lit(None).cast(t)).alias(n)
        for n, t in TARGET_COLUMNS
    ]
    return df.select(*cols).withColumn(
        "created_at", F.current_timestamp()
    ).withColumn("updated_at", F.current_timestamp())


def load(
    spark: SparkSession,
    input_glob: str,
    target_dir: str,
    drop_existing: bool = False,
) -> int:
    """One declared scan over every input file -> align -> one dedupe
    aggregate -> idempotent append, in one write. Returns the number of
    rows appended, as observed on that write.

    Every property is scanned as STRING and typed only by
    :func:`align_to_target`'s casts, so ``"13"`` loads as 13.0 and a
    non-numeric ``sh_src_id`` fails the load (``CAST_INVALID_INPUT``)
    instead of turning null. A geometry that is not a LineString loads
    with a null ``geometry_wkt``. An input keyed ``route_type`` is not a
    shape this repo or the reference writes; its value is not read.

    Dedupe policy: the table's keys (read with a declared schema) and the
    batch meet in one ``groupBy(route_id)``. A key the table already holds
    keeps no new row; any other key keeps exactly one, the smallest by the
    remaining columns in table order, so the choice does not depend on
    file order or partitioning. NULL keys form one group, so the table
    holds at most one null-key row, however many batches carry one. A
    batch with no new key still appends one empty, schema-only part file.
    ``drop_existing`` overwrites the table with the deduplicated batch and
    does not read it.
    """
    feats = read_geojson_features(spark, input_glob, properties=_PROPERTIES)
    aligned = align_to_target(
        feats.withColumn("geometry_wkt", linestring_to_wkt(F.col("coordinates")))
    )
    rows = aligned.withColumn("_new", F.lit(True))
    if not drop_existing and os.path.isdir(target_dir):
        loaded = spark.read.schema("route_id STRING").parquet(target_dir)
        rows = rows.unionByName(
            loaded.withColumn("_new", F.lit(False)), allowMissingColumns=True
        )
    # a loaded key sorts first (false < true), so its group keeps no new row
    rest = [c for c in aligned.columns if c != "route_id"]
    batch = rows.groupBy("route_id").agg(F.min(F.struct("_new", *rest)).alias("_row"))
    batch = batch.where("_row._new").select("route_id", *(f"_row.{c}" for c in rest))

    appended = Observation()
    batch = batch.observe(appended, F.count(F.lit(1)).alias("n"))
    batch.write.mode("overwrite" if drop_existing else "append").parquet(target_dir)
    return appended.get["n"]


def main() -> None:
    p = argparse.ArgumentParser(description="Load processed GeoJSON (Spark)")
    p.add_argument("--input-dir", required=True)
    p.add_argument("--pattern", default="*.geojson")
    p.add_argument("--target-dir", required=True)
    p.add_argument("--drop-existing", action="store_true")
    args = p.parse_args()

    from transit_scrape_spark.session import get_spark

    n = load(
        get_spark("load-routes"),
        f"{args.input_dir}/{args.pattern}",
        args.target_dir,
        args.drop_existing,
    )
    print(f"loaded {n} records")


if __name__ == "__main__":
    main()
