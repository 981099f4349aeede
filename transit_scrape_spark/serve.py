"""Serve layer (SURVEY.md §7 M6) — the reference's Streamlit app queries
(``/root/reference/app/app.py``) as thin engine calls.

The reference assembles SQL strings by concatenation and ships them to
Postgres (``app/app.py:65-74``, including its injection hazard); here
each interaction is a parameterized Catalyst plan. A UI (Streamlit,
notebook, REST) calls these and ``toPandas()`` only at the final
visualization edge.

One interaction scans the table twice, like the app's two SQL queries:
the sidebar's DISTINCT (one job, one task) and the page's filtered
top-k (one job). Everything after the page works on rows the driver
already holds. ``load_cycling_routes`` runs the page when called and
returns it as a local relation of at most ``limit`` rows; the app draws
every row of it anyway, so holding it on the driver costs nothing
extra. ``prepare_map_rows`` evaluates the colour, popup, vertex swap
and envelope over those rows once, also when called, and returns them
as a local relation again, so collecting the map rows runs no Spark
job and repeats none of that work. ``map_center`` folds the envelopes
of the map rows on the driver, with no job (the reference takes
``total_bounds`` from the GeoDataFrame it already holds,
app/app.py:94-99).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# reference app/app.py:110-116 route_colors
ROUTE_COLORS = {
    "Cycle Lane": "#e41a1c",
    "Cycle Path": "#377eb8",
    "Mixed Use Path": "#4daf4a",
    "Shared Use Path": "#984ea3",
}
DEFAULT_COLOR = "#3388ff"


def _on_driver(df: DataFrame) -> DataFrame:
    """Run ``df`` once and return its rows as a DataFrame over a local
    relation with the same schema, nullability included.

    The rows stay in the JVM: they are collected there and wrapped in a
    ``LocalRelation`` there, with no round trip through Python. Plans
    over the result that Catalyst can fold into the rows (projections,
    filters, limits) then run no Spark job."""
    spark = df.sparkSession
    rows = df._jdf.collectAsList()
    return DataFrame(
        spark._jsparkSession.createDataFrame(rows, df._jdf.schema()), spark
    )


def get_local_authorities(routes: DataFrame) -> DataFrame:
    """Sidebar values: DISTINCT non-null, sorted (app/app.py:46-56).

    The input is merged into one partition before the DISTINCT, so the
    aggregate and the sort run in the scan's own task: one job, one task
    and no exchange. The input is the app's route table, of which only
    the one dictionary-encoded ``local_authority`` column is read."""
    return (
        routes.select("local_authority")
        .filter(F.col("local_authority").isNotNull())
        .coalesce(1)
        .distinct()
        .sortWithinPartitions("local_authority")
    )


def load_cycling_routes(
    routes: DataFrame,
    authority: str | None = None,
    limit: int = 1000,
) -> DataFrame:
    """Main query: pruned projection + optional equality filter + top-k
    (app/app.py:60-77). `authority=None` == the app's 'All' selection.
    The filter is a Column predicate — no SQL string assembly, no
    injection surface; Catalyst pushes it to the scan.

    The top-k runs when this function is called, not when the result is
    used: the page (at most ``limit`` rows, ordered by ``route_id``)
    comes back as a DataFrame over a local relation on the driver, so
    the caller's collect, map rows and centre reuse it instead of each
    re-running the scan and the sort."""
    out = routes
    if authority is not None:
        out = out.filter(F.col("local_authority") == F.lit(authority))
    return _on_driver(out.orderBy("route_id").limit(limit))


def prepare_map_rows(routes: DataFrame) -> DataFrame:
    """Per-row map payload (app/app.py:89-150 loop, vectorized): color
    lookup with default, HTML popup with N/A fallbacks, (lat,lon)
    vertex order for the renderer, plus the dataset envelope columns.

    The payload is evaluated when this function is called, once, and
    comes back as a local relation: on a page from
    ``load_cycling_routes`` that runs no Spark job, and later plans over
    the map rows (the app's collect, ``map_center``) read the evaluated
    rows instead of repeating the WKT parse and the envelope."""
    from transit_scrape_spark.functions.geo import bounding_box, swap_coords

    color_map = F.create_map(
        *[F.lit(x) for kv in ROUTE_COLORS.items() for x in kv]
    )
    popup = F.concat(
        F.lit("<b>Type:</b> "),
        F.coalesce(F.col("route_type"), F.lit("N/A")),
    )
    return _on_driver(
        routes.select(
            "*",
            F.coalesce(color_map[F.col("route_type")], F.lit(DEFAULT_COLOR)).alias(
                "color"
            ),
            popup.alias("popup"),
            swap_coords(F.col("coordinates")).alias("latlon"),
            bounding_box(F.col("coordinates")).alias("envelope"),
        )
    )


def map_center(routes_with_envelope: DataFrame) -> tuple[float, float] | None:
    """total_bounds midpoint (app/app.py:94-99), folded on the driver.

    Reads the ``envelope`` column of the map rows, which for
    ``prepare_map_rows`` output is a local relation, so no Spark job
    runs. The fold is Spark's ``min``/``max`` aggregate: nulls are
    skipped and NaN is larger than any number.

    Returns None when there is no envelope to centre on: no rows, or only
    rows with null or empty geometry."""
    envs = [
        r[0]
        for r in routes_with_envelope.select("envelope").collect()
        if r[0] is not None
    ]

    def fold(pick, field):
        vals = [e[field] for e in envs if e[field] is not None]
        return pick(vals, key=lambda v: (math.isnan(v), v)) if vals else None

    minx, miny = fold(min, "minx"), fold(min, "miny")
    maxx, maxy = fold(max, "maxx"), fold(max, "maxy")
    if minx is None or miny is None:
        return None
    return ((minx + maxx) / 2.0, (miny + maxy) / 2.0)
