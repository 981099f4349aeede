"""transit_scrape_spark — a PySpark-native analytics engine.

Re-expresses every data-processing capability of the reference repo
``davmorr16/transit-scrape`` (a single-process geospatial ETL pipeline,
see SURVEY.md) as idiomatic Spark DataFrame/SQL plans, and extends the
surface with LLM-data-pipeline operators (dedup, similarity search,
text analysis, multimodal columns) designed for horizontal scale.

Layout
------
- ``session``      SparkSession builder (AQE on, UTC, Arrow).
- ``sources``      parquet fixture loader, GeoJSON reader, sinks.
- ``functions``    scalar/column expression library (grid refs, geometry,
                   text, vectors) — built-in Column expressions first,
                   Arrow UDFs only where unavoidable (reprojection).
- ``operators``    composite DataFrame operators (dedup, simsearch, ...).
- ``queries``      the operator registry: op_id -> (Spark plan, oracle SQL).
- ``pipelines``    end-to-end batch pipelines mirroring the reference CLIs.
- ``streaming``    Structured Streaming re-expression of the file-append flow.
"""

__version__ = "0.1.0"
