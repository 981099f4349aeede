"""Serve-layer tests: the app's three interactions end-to-end on a
processed routes frame."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F


def _routes(spark):
    rows = [
        ("R1", "Edinburgh", "Cycle Path", [[1.0, 2.0], [3.0, 4.0]]),
        ("R2", "Glasgow", "Cycle Lane", [[5.0, 6.0], [7.0, 8.0]]),
        ("R3", None, "Unknown Type", [[0.0, 0.0], [9.0, 9.0]]),
    ]
    return spark.createDataFrame(
        rows,
        "route_id string, local_authority string, route_type string, "
        "coordinates array<array<double>>",
    )


def test_local_authorities(spark):
    from transit_scrape_spark.serve import get_local_authorities

    vals = [r[0] for r in get_local_authorities(_routes(spark)).collect()]
    assert vals == ["Edinburgh", "Glasgow"]  # sorted, nulls dropped


def test_load_routes_filter_and_all(spark):
    from transit_scrape_spark.serve import load_cycling_routes

    r = _routes(spark)
    assert load_cycling_routes(r).count() == 3  # 'All'
    only = load_cycling_routes(r, authority="Edinburgh").collect()
    assert [x["route_id"] for x in only] == ["R1"]


def test_prepare_map_rows_and_center(spark):
    from transit_scrape_spark.serve import (
        DEFAULT_COLOR,
        map_center,
        prepare_map_rows,
    )

    out = prepare_map_rows(_routes(spark))
    rows = {r["route_id"]: r for r in out.collect()}
    assert rows["R1"]["color"] == "#377eb8"
    assert rows["R3"]["color"] == DEFAULT_COLOR  # dict-default fallback
    assert rows["R1"]["latlon"] == [[2.0, 1.0], [4.0, 3.0]]  # swapped
    assert "N/A" not in rows["R1"]["popup"]
    cx, cy = map_center(out)
    assert (cx, cy) == (4.5, 4.5)


# -- one execution per page, on a table written by the load pipeline --------

ROUTE_TABLE = [
    # (route_id, local_authority, coordinates); file order is not id order
    ("E07", "Edinburgh", [[3.0, 3.0], [4.0, 5.0]]),
    ("G02", "Glasgow", [[10.0, 20.0], [12.0, 22.0]]),
    ("E03", "Edinburgh", [[1.0, 1.0], [2.0, 2.0]]),
    ("G05", "Glasgow", []),  # load stores 'LINESTRING ()'
    ("E01", "Edinburgh", [[0.0, 6.0], [1.0, 7.0]]),
    ("N01", None, [[50.0, 50.0], [51.0, 51.0]]),
    ("E09", "Edinburgh", [[5.0, 0.0], [6.0, 1.0]]),
    ("F01", "Fife", None),  # null geometry
    ("F02", "Fife", []),
]


@pytest.fixture(scope="module")
def route_table(spark, tmp_path_factory):
    """A parquet route table written by ``load_routes.load`` from one
    GeoJSON FeatureCollection, read back as the app reads it."""
    from transit_scrape_spark.pipelines.load_routes import load

    d = tmp_path_factory.mktemp("serve")
    feats = [
        {
            "type": "Feature",
            "properties": {
                "route_id": rid,
                "local_authority": la,
                "type": "Cycle Path",
            },
            "geometry": None
            if coords is None
            else {"type": "LineString", "coordinates": coords},
        }
        for rid, la, coords in ROUTE_TABLE
    ]
    (d / "routes.geojson").write_text(
        json.dumps({"type": "FeatureCollection", "features": feats})
    )
    target = str(d / "table")
    assert load(spark, str(d / "routes.geojson"), target) == len(ROUTE_TABLE)
    return spark.read.parquet(target)


def _map_rows(page):
    from transit_scrape_spark.functions.geo import wkt_to_linestring
    from transit_scrape_spark.serve import prepare_map_rows

    return prepare_map_rows(
        page.withColumn("coordinates", wkt_to_linestring(F.col("geometry_wkt")))
    )


def _jobs_run(spark, action) -> int:
    """Number of Spark jobs ``action()`` starts."""
    sc = spark.sparkContext
    group = f"serve-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "authority, limit",
    [("Edinburgh", 1000), (None, 1000), ("Nowhere", 1000), ("Edinburgh", 2)],
    ids=["one-authority", "all", "no-routes", "limit-below-matches"],
)
def test_page_equals_lazy_top_k(route_table, authority, limit):
    from transit_scrape_spark.serve import load_cycling_routes

    lazy = route_table
    if authority is not None:
        lazy = lazy.filter(F.col("local_authority") == authority)
    lazy = lazy.orderBy("route_id").limit(limit)

    page = load_cycling_routes(route_table, authority, limit=limit)
    assert page.schema == lazy.schema
    got, want = page.collect(), lazy.collect()
    assert got == want  # every column, created_at/updated_at included, in order
    expected_ids = sorted(
        rid for rid, la, _ in ROUTE_TABLE if authority is None or la == authority
    )[:limit]
    assert [r["route_id"] for r in got] == expected_ids


def test_page_is_a_local_relation(route_table):
    from transit_scrape_spark.serve import load_cycling_routes

    page = load_cycling_routes(route_table, "Edinburgh")
    plan = page._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_map_rows_collect_runs_no_job(spark, route_table):
    from transit_scrape_spark.serve import load_cycling_routes

    rows_df = _map_rows(load_cycling_routes(route_table, "Edinburgh"))
    out = []
    assert _jobs_run(spark, lambda: out.extend(rows_df.collect())) == 0
    assert [r["route_id"] for r in out] == ["E01", "E03", "E07", "E09"]


def test_authorities_skip_range_sort(spark, route_table):
    from transit_scrape_spark.serve import get_local_authorities

    df = get_local_authorities(route_table)
    vals = [r[0] for r in df.collect()]
    assert vals == ["Edinburgh", "Fife", "Glasgow"]
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" not in plan


def test_map_center_ignores_empty_geometry(route_table):
    """The Glasgow page holds an empty linestring next to a normal route;
    the centre is the normal route's."""
    from transit_scrape_spark.serve import load_cycling_routes, map_center

    page = load_cycling_routes(route_table, "Glasgow")
    assert map_center(_map_rows(page)) == (11.0, 21.0)


@pytest.mark.parametrize("authority", ["Nowhere", "Fife"])
def test_map_center_none_without_envelope(route_table, authority):
    """No routes, or only null and empty geometries: no centre."""
    from transit_scrape_spark.serve import load_cycling_routes, map_center

    page = load_cycling_routes(route_table, authority)
    assert map_center(_map_rows(page)) is None


# -- three jobs per interaction; the centre from rows already held ----------


def test_interaction_runs_at_most_three_jobs(spark, route_table):
    """Schema read, authority list and page: one job each. The map rows
    and the centre reuse the page on the driver."""
    from transit_scrape_spark.serve import (
        get_local_authorities,
        load_cycling_routes,
        map_center,
    )

    path = os.path.dirname(route_table.inputFiles()[0])
    seen = {}

    def interaction():
        routes = spark.read.parquet(path)
        seen["auths"] = [r[0] for r in get_local_authorities(routes).collect()]
        rows_df = _map_rows(load_cycling_routes(routes, "Edinburgh"))
        seen["ids"] = [r["route_id"] for r in rows_df.collect()]
        seen["center"] = map_center(rows_df)

    assert _jobs_run(spark, interaction) <= 3
    assert seen == {
        "auths": ["Edinburgh", "Fife", "Glasgow"],
        "ids": ["E01", "E03", "E07", "E09"],
        "center": (3.0, 3.5),
    }


def test_map_center_runs_no_job(spark, route_table):
    from transit_scrape_spark.serve import load_cycling_routes, map_center

    rows_df = _map_rows(load_cycling_routes(route_table, None))
    out = []
    assert _jobs_run(spark, lambda: out.append(map_center(rows_df))) == 0
    assert out == [(25.5, 25.5)]


def _same(a, b):
    """Equal, counting NaN equal to NaN."""
    return a == b or (a != a and b != b)


@pytest.mark.parametrize(
    "extra",
    [
        [("X1", [[float("nan"), 3.0], [-4.0, 30.0]])],
        [("X2", [[-7.0, -2.0], [None, None]])],
        [
            ("X1", [[float("nan"), 3.0], [-4.0, 30.0]]),
            ("X2", [[-7.0, -2.0], [None, None]]),
            ("X3", [[float("nan"), float("nan")]]),
        ],
    ],
    ids=["nan-ordinate", "null-vertex", "both"],
)
def test_map_center_equals_spark_aggregate(spark, route_table, extra):
    """The driver-side fold is Spark's min/max: nulls skipped, NaN above
    every number."""
    from transit_scrape_spark.functions.geo import wkt_to_linestring
    from transit_scrape_spark.serve import (
        load_cycling_routes,
        map_center,
        prepare_map_rows,
    )

    page = load_cycling_routes(route_table, None).select(
        "route_id",
        "route_type",
        wkt_to_linestring(F.col("geometry_wkt")).alias("coordinates"),
    )
    odd = spark.createDataFrame(
        [(rid, "Cycle Path", coords) for rid, coords in extra], page.schema
    )
    rows_df = prepare_map_rows(page.unionByName(odd))
    agg = rows_df.agg(
        F.min("envelope.minx"),
        F.min("envelope.miny"),
        F.max("envelope.maxx"),
        F.max("envelope.maxy"),
    ).collect()[0]
    want = ((agg[0] + agg[2]) / 2.0, (agg[1] + agg[3]) / 2.0)
    got = map_center(rows_df)
    assert _same(got[0], want[0]) and _same(got[1], want[1]), (got, want)


def test_authorities_plan_has_no_exchange(spark, route_table):
    from transit_scrape_spark.serve import get_local_authorities

    df = get_local_authorities(route_table)
    assert _jobs_run(spark, df.collect) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
