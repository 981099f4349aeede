"""Sinks (SURVEY.md §2.1): CSV-with-WKT, GeoJSON-lines.

The reference writes one local file per run
(``process_cycle_networks.py:149-162``); a distributed engine writes a
directory of part files. ``single_file=True`` coalesces to one task —
correct for the reference's semantics, documented as the scale cutoff
(SURVEY §7 hard item 4): at 100 TB you keep the default multi-part
layout and let the consumer glob it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transit_scrape_spark.functions.geo import linestring_to_wkt


def write_csv_wkt(
    df: DataFrame,
    out_dir: str,
    coords_col: str = "coordinates",
    single_file: bool = False,
) -> None:
    """CSV sink with geometry serialized to a ``geometry_wkt`` column and
    the raw geometry dropped (reference process_cycle_networks.py:155-162)."""
    out = df.withColumn("geometry_wkt", linestring_to_wkt(F.col(coords_col))).drop(
        coords_col
    )
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("header", "true").csv(out_dir)


def write_geojson(
    df: DataFrame,
    out_dir: str,
    coords_col: str = "coordinates",
    single_file: bool = False,
) -> None:
    """GeoJSON-lines sink: one Feature object per line (newline-delimited
    GeoJSON — the distributed-friendly variant of the reference's single
    FeatureCollection file, process_cycle_networks.py:149-153)."""
    props = [c for c in df.columns if c != coords_col]
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(*[F.col(c) for c in props]).alias("properties"),
            F.struct(
                F.lit("LineString").alias("type"),
                F.col(coords_col).alias("coordinates"),
            ).alias("geometry"),
        )
    )
    out = df.select(feature.alias("value"))
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(out_dir)

