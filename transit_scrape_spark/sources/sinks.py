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

    Null properties are written as ``null`` members. A row whose
    coordinates are null, or hold a vertex with fewer than two
    ordinates or a null or non-finite one (process keeps a null vertex
    as ``[null, null]``), is written with ``"geometry": null`` and its
    properties: RFC 7946 §3.1.1 positions are numbers, and §3.2 gives an
    unlocated feature a null geometry. The envelope is spelled out here
    rather than nested in one ``to_json``, which would write a
    LineString with no ``coordinates``."""
    props = [c for c in df.columns if c != "coordinates"]
    coords = F.col("coordinates")
    bad_vertex = F.exists(
        coords,
        lambda p: p.isNull()
        | (F.size(p) < 2)
        | F.exists(
            p, lambda v: v.isNull() | F.isnan(v) | (F.abs(v) == float("inf"))
        ),
    )
    geometry = F.to_json(
        F.struct(F.lit("LineString").alias("type"), coords.alias("coordinates"))
    )
    feature = F.concat(
        F.lit('{"type":"Feature","properties":'),
        F.to_json(
            F.struct(*[F.col(c) for c in props]), {"ignoreNullFields": "false"}
        ),
        F.lit(',"geometry":'),
        F.when(coords.isNull() | bad_vertex, F.lit("null")).otherwise(geometry),
        F.lit("}"),
    )
    df.select(feature.alias("value")).write.mode("overwrite").text(out_dir)
