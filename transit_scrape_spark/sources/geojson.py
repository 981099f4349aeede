"""GeoJSON source (SURVEY.md §2.1 scan-geojson / scan-glob).

Re-expresses the reference's whole-file ``json.load`` + feature-list
normalization + ``GeoDataFrame.from_features``
(``/root/reference/src/process_cycle_networks.py:18-55``) as one
distributed ``spark.read.json`` plan:

- ``multiLine=true`` because a GeoJSON document is one JSON value.
- Polymorphic envelope (FeatureCollection / bare [Feature,...] / single
  Feature — reference branching at :36-43) read by ONE declared scan and
  ONE explode: the declared schema gives a FeatureCollection's feature
  and a bare Feature the same struct type, so each row explodes either
  its ``features`` array or itself. Inference, when the caller declares
  no properties, only derives that declared schema.
- Corrupt files -> ``_corrupt_record`` (PERMISSIVE), mirroring the
  reference's try/except->None (:53-55) without killing the job.
- A directory/glob path replaces the reference's sequential per-file
  loop (``push_to_db.py:77-88``): one scan, partitioned across
  executors; ``input_file_name()`` preserves per-file provenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def geojson_schema(
    properties: str | T.StructType, corrupt_col: str | None = None
) -> T.StructType:
    """Declared polymorphic-envelope schema for a GeoJSON scan.

    ``properties`` is a DDL fragment for the feature property keys
    (e.g. ``"n_nationkey BIGINT, n_name STRING"``), or their struct type.
    The returned schema declares BOTH envelope shapes (``features`` array
    for a FeatureCollection, top-level ``type``/``properties``/``geometry``
    for bare Features) with the same feature struct, so
    :func:`read_geojson_features` can wrap a bare Feature as a one-element
    ``features`` array and explode every row the same way.

    Why declare instead of infer: at 100 TB schema inference is an extra
    full pass over the corpus, can flip types between runs on sparse
    keys, and cannot bind at all on a legitimately-empty input (an empty
    ``features`` array infers to nothing flattenable) — the declared
    schema makes the scan total on quiet-day inputs.
    """
    prop_t = T.StructType.fromDDL(properties) if isinstance(properties, str) else properties
    geom_t = T.StructType(
        [
            T.StructField("type", T.StringType()),
            T.StructField("coordinates", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )
    feat_t = T.StructType(
        [
            T.StructField("type", T.StringType()),
            T.StructField("properties", prop_t),
            T.StructField("geometry", geom_t),
        ]
    )
    fields = [
        T.StructField("type", T.StringType()),
        T.StructField("features", T.ArrayType(feat_t)),
        T.StructField("properties", prop_t),
        T.StructField("geometry", geom_t),
    ]
    if corrupt_col is not None:
        fields.append(T.StructField(corrupt_col, T.StringType()))
    return T.StructType(fields)


def _inferred_properties(spark: SparkSession, raw: DataFrame) -> T.StructType:
    """Property struct of an inferred scan: the ``features`` element's
    ``properties`` merged with the top-level ``properties``.

    The merge is the schema of ``unionByName(allowMissingColumns=True)``
    over empty local relations (analysis only, no job), so types widen
    as a union of the two shapes' rows would widen them. A ``features``
    column whose element is not a struct comes from FeatureCollections
    that are all empty (inferred ``array<string>``) and adds no key.
    """
    top = {f.name: f.dataType for f in raw.schema}
    if not top.keys() & {"features", "properties", "geometry"}:
        raise ValueError(f"not a recognizable GeoJSON shape: columns={sorted(top)}")
    shapes = [top.get("properties")]
    feat_t = getattr(top.get("features"), "elementType", None)
    if isinstance(feat_t, T.StructType) and "properties" in feat_t.names:
        shapes.insert(0, feat_t["properties"].dataType)
    merged = T.StructType([])
    for s in shapes:
        if isinstance(s, T.StructType):
            merged = (
                spark.createDataFrame([], merged)
                .unionByName(spark.createDataFrame([], s), allowMissingColumns=True)
                .schema
            )
    return merged


def read_geojson_features(
    spark: SparkSession,
    path: str,
    multiline: bool = True,
    properties: str | None = None,
) -> DataFrame:
    """Read GeoJSON file(s)/glob -> one row per feature, in one scan.

    Output columns: every property key (flattened), plus
    ``geometry_type``, ``coordinates`` (LineString: array<array<double>>),
    and ``source_file`` (basename, reference process_cycle_networks.py:95).

    Every input is read by one declared scan of :func:`geojson_schema`
    and one explode: a row's ``features`` array if it is a
    FeatureCollection, else the row itself as a one-feature array if it
    has a geometry (single Feature, or an element of a bare list), else
    nothing (corrupt or shapeless).

    ``properties`` (DDL fragment of the property keys) declares the
    property struct — see :func:`geojson_schema` for why that is the
    only correct mode at scale. Without it, one inference pass derives
    the struct (:func:`_inferred_properties`); a key that only
    single-Feature or bare-list files carry then comes after the
    FeatureCollection keys and before ``geometry_type``. Inference
    remains for ad-hoc exploration.
    """
    reader = spark.read.option("multiLine", "true" if multiline else "false")
    props = _inferred_properties(spark, reader.json(path)) if properties is None else properties
    raw = reader.schema(geojson_schema(props)).json(path)
    as_features = F.when(F.col("features").isNotNull(), F.col("features")).when(
        F.col("geometry").isNotNull(), F.array(F.struct("type", "properties", "geometry"))
    )
    return raw.select(
        F.explode(as_features).alias("f"), F.input_file_name().alias("_path")
    ).select(
        "f.properties.*",
        F.col("f.geometry.type").alias("geometry_type"),
        F.col("f.geometry.coordinates").alias("coordinates"),
        F.element_at(F.split(F.col("_path"), "/"), -1).alias("source_file"),
    )
