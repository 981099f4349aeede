"""Sinks (SURVEY.md §2.1): CSV-with-WKT, GeoJSON-lines.

The reference writes one local file per run
(``process_cycle_networks.py:149-162``); a distributed engine writes a
directory of part files, which the consumer globs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transit_scrape_spark.functions.geo import linestring_to_wkt


def write_csv_wkt(df: DataFrame, out_dir: str) -> None:
    """CSV sink with geometry serialized to a ``geometry_wkt`` column and
    the raw geometry dropped (reference process_cycle_networks.py:155-162)."""
    out = df.withColumn(
        "geometry_wkt", linestring_to_wkt(F.col("coordinates"))
    ).drop("coordinates")
    out.write.mode("overwrite").option("header", "true").csv(out_dir)


def write_geojson(df: DataFrame, out_dir: str) -> None:
    """GeoJSON-lines sink: one Feature object per line (newline-delimited
    GeoJSON — the distributed-friendly variant of the reference's single
    FeatureCollection file, process_cycle_networks.py:149-153).

    A row with null coordinates is written with ``"geometry": null``, the
    RFC 7946 §3.2 form for an unlocated feature. ``to_json`` drops null
    members, so the envelope is spelled out here rather than nested in
    one ``to_json``, which would write a LineString with no
    ``coordinates``."""
    props = [c for c in df.columns if c != "coordinates"]
    geometry = F.to_json(
        F.struct(
            F.lit("LineString").alias("type"),
            F.col("coordinates").alias("coordinates"),
        )
    )
    feature = F.concat(
        F.lit('{"type":"Feature","properties":'),
        F.to_json(F.struct(*[F.col(c) for c in props])),
        F.lit(',"geometry":'),
        F.when(F.col("coordinates").isNotNull(), geometry).otherwise(F.lit("null")),
        F.lit("}"),
    )
    df.select(feature.alias("value")).write.mode("overwrite").text(out_dir)
