"""Serve layer (SURVEY.md §7 M6) — the reference's Streamlit app queries
(``/root/reference/app/app.py``) as thin engine calls.

The reference assembles SQL strings by concatenation and ships them to
Postgres (``app/app.py:65-74``, including its injection hazard); here
each interaction is a parameterized Catalyst plan. A UI (Streamlit,
notebook, REST) calls these and ``toPandas()`` only at the final
visualization edge.

One interaction scans the table twice, like the app's two SQL queries:
the sidebar's DISTINCT and the page's filtered top-k. The page runs
inside ``load_cycling_routes`` and comes back as a local relation of at
most ``limit`` rows. The app draws every row of it anyway, so holding it
on the driver costs nothing extra. Catalyst folds the map-row
projection into those rows, so ``prepare_map_rows(...).collect()`` runs
no Spark job, and ``map_center`` aggregates the page instead of running
the top-k a second time (the reference takes ``total_bounds`` from the
GeoDataFrame it already holds, app/app.py:94-99).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# reference app/app.py:110-116 route_colors
ROUTE_COLORS = {
    "Cycle Lane": "#e41a1c",
    "Cycle Path": "#377eb8",
    "Mixed Use Path": "#4daf4a",
    "Shared Use Path": "#984ea3",
}
DEFAULT_COLOR = "#3388ff"


def get_local_authorities(routes: DataFrame, column: str = "local_authority") -> DataFrame:
    """Sidebar values: DISTINCT non-null, sorted (app/app.py:46-56).

    The distinct values are a handful of names, so they are sorted in one
    partition after the parallel aggregate; a global ``orderBy`` would
    add a range-partitioner sampling job and a second exchange."""
    return (
        routes.select(column)
        .filter(F.col(column).isNotNull())
        .distinct()
        .coalesce(1)
        .sortWithinPartitions(column)
    )


def load_cycling_routes(
    routes: DataFrame,
    authority: str | None = None,
    authority_column: str = "local_authority",
    id_column: str = "route_id",
    limit: int = 1000,
) -> DataFrame:
    """Main query: pruned projection + optional equality filter + top-k
    (app/app.py:60-77). `authority=None` == the app's 'All' selection.
    The filter is a Column predicate — no SQL string assembly, no
    injection surface; Catalyst pushes it to the scan.

    The top-k runs when this function is called, not when the result is
    used: the page (at most ``limit`` rows, ordered by ``id_column``)
    comes back as a DataFrame over a local relation on the driver, so
    the caller's collect, map rows and centre reuse it instead of each
    re-running the scan and the sort."""
    out = routes
    if authority is not None:
        out = out.filter(F.col(authority_column) == F.lit(authority))
    page = out.orderBy(id_column).limit(limit)
    return routes.sparkSession.createDataFrame(page.toArrow(), schema=page.schema)


def prepare_map_rows(
    routes: DataFrame,
    coords_col: str = "coordinates",
    route_type_col: str = "route_type",
) -> DataFrame:
    """Per-row map payload (app/app.py:89-150 loop, vectorized): color
    lookup with default, HTML popup with N/A fallbacks, (lat,lon)
    vertex order for the renderer, plus the dataset envelope columns."""
    from transit_scrape_spark.functions.geo import bounding_box, swap_coords

    color_map = F.create_map(
        *[F.lit(x) for kv in ROUTE_COLORS.items() for x in kv]
    )
    popup = F.concat(
        F.lit("<b>Type:</b> "),
        F.coalesce(F.col(route_type_col), F.lit("N/A")),
    )
    return routes.select(
        "*",
        F.coalesce(color_map[F.col(route_type_col)], F.lit(DEFAULT_COLOR)).alias(
            "color"
        ),
        popup.alias("popup"),
        swap_coords(F.col(coords_col)).alias("latlon"),
        bounding_box(F.col(coords_col)).alias("envelope"),
    )


def map_center(routes_with_envelope: DataFrame) -> tuple[float, float] | None:
    """total_bounds midpoint (app/app.py:94-99) — one tiny global agg.

    Returns None when there is no envelope to centre on: no rows, or only
    rows with null or empty geometry."""
    row = routes_with_envelope.agg(
        F.min("envelope.minx").alias("minx"),
        F.min("envelope.miny").alias("miny"),
        F.max("envelope.maxx").alias("maxx"),
        F.max("envelope.maxy").alias("maxy"),
    ).collect()[0]
    if row["minx"] is None:
        return None
    return (
        (row["minx"] + row["maxx"]) / 2.0,
        (row["miny"] + row["maxy"]) / 2.0,
    )
