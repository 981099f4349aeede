"""Process pipeline — the reference's stage 1
(``/root/reference/src/process_cycle_networks.py:120-170``) as ONE lazy
Spark plan instead of a per-row Python loop:

    read GeoJSON -> explode features -> derive columns -> reproject -> write

Every step after the read is a per-row map, so the plan has no shuffle.

Reference flow (per-row, interpreted):      Our flow (declarative):
  json.load whole file (:32-33)               spark.read.json (distributed)
  iterrows loop (:82-102)                     Column expressions (codegen)
  geometry.length (:88)                       linestring_length (zip_with/aggregate)
  basename provenance (:95)                   input_file_name()
  to_crs reproject (:112)                     reproject_routes_bng_to_wgs84 (Arrow UDF, whole routes)
  to_file/to_csv (:149-162)                   write.json/csv (distributed)

CLI mirrors the reference's argparse surface
(``process_cycle_networks.py:176-198``).
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_scrape_spark.functions.geo import (
    linestring_length,
    reproject_routes_bng_to_wgs84,
)
from transit_scrape_spark.sources.geojson import read_geojson_features


def process_route_features(features: DataFrame) -> DataFrame:
    """Derive route_length_m (planar metres in the source CRS) and keep
    provenance; then reproject coordinates BNG -> WGS84.

    One logical plan and one row out per feature: a map over the rows,
    no shuffle. Bad features become NULLs instead of vanishing (the
    reference skips bad rows, :86-102 — here they stay visible; filter
    on route_length_m IS NOT NULL for parity): a null or empty geometry
    keeps null or empty coordinates, and a null or short vertex gives a
    null length and a ``[null, null]`` vertex.
    """
    others = [c for c in features.columns if c != "coordinates"]
    return features.select(
        *others,
        linestring_length(F.col("coordinates")).alias("route_length_m"),
        reproject_routes_bng_to_wgs84(F.col("coordinates")).alias("coordinates"),
    )


def run(
    spark: SparkSession, input_path: str, output_dir: str, fmt: str = "geojson"
) -> DataFrame:
    feats = read_geojson_features(spark, input_path)
    processed = process_route_features(feats)
    if fmt == "geojson":
        from transit_scrape_spark.sources.sinks import write_geojson

        write_geojson(processed, output_dir)
    elif fmt == "csv":
        from transit_scrape_spark.sources.sinks import write_csv_wkt

        write_csv_wkt(processed, output_dir)
    elif fmt == "parquet":
        processed.write.mode("overwrite").parquet(output_dir)
    else:
        raise ValueError(f"unknown format {fmt!r}")
    return processed


def main() -> None:
    p = argparse.ArgumentParser(description="Process route GeoJSON (Spark)")
    p.add_argument("--input-file", required=True)
    p.add_argument("--output-dir", required=True)
    p.add_argument("--format", choices=["geojson", "csv", "parquet"], default="geojson")
    args = p.parse_args()

    from transit_scrape_spark.session import get_spark

    run(get_spark("process-routes"), args.input_file, args.output_dir, args.format)


if __name__ == "__main__":
    main()
