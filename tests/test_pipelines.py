"""E2E pipeline tests over synthetic GeoJSON (FIXTURES.md A.2): all three
envelope variants + empty + corrupt, process -> load -> query, idempotent
re-load."""

from __future__ import annotations

import json
import math

import pytest

ROUTE_PROPS = {
    "route_id": "R1",
    "street": "Canal Path",
    "locality": "Leith",
    "type": "Cycle Path",
    "local_authority": "Edinburgh",
    "sh_src_id": 12.0,
}


def _feature(route_id: str, coords) -> dict:
    props = dict(ROUTE_PROPS, route_id=route_id)
    return {
        "type": "Feature",
        "properties": props,
        "geometry": {"type": "LineString", "coordinates": coords},
    }


# Edinburgh-ish BNG coords (easting, northing)
COORDS = [[325940.0, 673060.0], [326940.0, 673060.0], [326940.0, 674060.0]]


@pytest.fixture(scope="module")
def geojson_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("geojson")
    (d / "fc.geojson").write_text(
        json.dumps(
            {
                "type": "FeatureCollection",
                "features": [_feature("R1", COORDS), _feature("R2", COORDS)],
            }
        )
    )
    (d / "single.geojson").write_text(json.dumps(_feature("R3", COORDS)))
    (d / "list.geojson").write_text(json.dumps([_feature("R4", COORDS)]))
    return d


def test_scan_feature_collection(spark, geojson_dir):
    from transit_scrape_spark.sources.geojson import read_geojson_features

    df = read_geojson_features(spark, str(geojson_dir / "fc.geojson"))
    rows = df.collect()
    assert len(rows) == 2
    assert {r["route_id"] for r in rows} == {"R1", "R2"}
    assert rows[0]["source_file"] == "fc.geojson"
    assert rows[0]["geometry_type"] == "LineString"


def test_scan_single_feature(spark, geojson_dir):
    from transit_scrape_spark.sources.geojson import read_geojson_features

    df = read_geojson_features(spark, str(geojson_dir / "single.geojson"))
    assert df.count() == 1


def test_scan_bare_list(spark, geojson_dir):
    from transit_scrape_spark.sources.geojson import read_geojson_features

    df = read_geojson_features(spark, str(geojson_dir / "list.geojson"))
    assert df.count() == 1


def test_process_pipeline(spark, geojson_dir, tmp_path):
    from transit_scrape_spark.pipelines.process_routes import run

    out = run(spark, str(geojson_dir / "fc.geojson"), str(tmp_path / "out"), "geojson")
    rows = {r["route_id"]: r for r in out.collect()}
    assert set(rows) == {"R1", "R2"}
    # planar length: 1000 m east + 1000 m north
    assert rows["R1"]["route_length_m"] == pytest.approx(2000.0)
    # reprojected to WGS84: Edinburgh is ~(-3.2, 55.9)
    lon, lat = rows["R1"]["coordinates"][0]
    assert -3.4 < lon < -3.0 and 55.8 < lat < 56.0
    # vertex order preserved: second vertex is ~1km east of first
    lon2, _ = rows["R1"]["coordinates"][1]
    assert lon2 > lon


def test_process_keeps_every_feature(spark, tmp_path):
    """Hostile FeatureCollection: rows out == rows in. Null and empty
    geometries stay as rows, byte-identical features stay two rows of
    3 vertices each, a Z ordinate is dropped and a null vertex becomes
    [null, null] with a null length."""
    from transit_scrape_spark.pipelines.process_routes import run

    null_geom = dict(_feature("nullgeom", COORDS), geometry=None)
    z3d = [[325940.0, 673060.0, 12.5]] + COORDS[1:]
    null_vertex = [COORDS[0], None, COORDS[2]]
    feats = [
        null_geom,
        _feature("empty", []),
        _feature("dup", COORDS),
        _feature("dup", COORDS),
        _feature("z3d", z3d),
        _feature("nullvert", null_vertex),
    ]
    src = tmp_path / "hostile.geojson"
    src.write_text(json.dumps({"type": "FeatureCollection", "features": feats}))

    rows = run(spark, str(src), str(tmp_path / "out"), "parquet").collect()
    assert len(rows) == len(feats)
    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r["route_id"], []).append(r)

    assert len(by_id["dup"]) == 2
    for r in by_id["dup"]:
        assert len(r["coordinates"]) == 3
        assert r["route_length_m"] == pytest.approx(2000.0)
    assert by_id["nullgeom"][0]["coordinates"] is None
    assert by_id["empty"][0]["coordinates"] == []
    assert by_id["empty"][0]["route_length_m"] == 0.0

    dup_coords = by_id["dup"][0]["coordinates"]
    (z,) = by_id["z3d"]
    assert [len(v) for v in z["coordinates"]] == [2, 2, 2]
    assert z["coordinates"] == dup_coords
    assert z["route_length_m"] == pytest.approx(2000.0)

    (nv,) = by_id["nullvert"]
    assert nv["coordinates"] == [dup_coords[0], [None, None], dup_coords[2]]
    assert nv["route_length_m"] is None


def test_process_survives_short_vertices(spark, tmp_path):
    """A vertex with fewer than two ordinates must not fail the job
    (INVALID_ARRAY_INDEX under ANSI mode): its route gets a null length
    and the vertex comes out [null, null]; an empty vertex next to a
    valid one never picks up the neighbour's values."""
    from transit_scrape_spark.pipelines.process_routes import run

    feats = [
        _feature("short", [[325940.0], [326940.0, 673060.0]]),
        _feature("empty_vertex", [[], [326940.0, 673060.0]]),
        _feature("null_ordinate", [[None, 673060.0], [326940.0, 673060.0]]),
        _feature("ok", COORDS),
    ]
    src = tmp_path / "short.geojson"
    src.write_text(json.dumps({"type": "FeatureCollection", "features": feats}))

    rows = {
        r["route_id"]: r
        for r in run(spark, str(src), str(tmp_path / "out"), "parquet").collect()
    }
    assert set(rows) == {"short", "empty_vertex", "null_ordinate", "ok"}
    second = rows["ok"]["coordinates"][1]  # the shared (326940, 673060) vertex
    for rid in ("short", "empty_vertex", "null_ordinate"):
        assert rows[rid]["route_length_m"] is None, rid
        assert rows[rid]["coordinates"] == [[None, None], second], rid
    assert rows["ok"]["route_length_m"] == pytest.approx(2000.0)


def test_route_reprojection_matches_point_udf(spark):
    """The whole-route function and the point UDF run the same numpy
    series: identical doubles on the OS control point and the
    Edinburgh vertices."""
    from pyspark.sql import functions as F

    from transit_scrape_spark.functions.geo import (
        reproject_bng_to_wgs84_udf,
        reproject_routes_bng_to_wgs84,
    )

    pts = [[651409.903, 313177.270]] + COORDS
    route = spark.createDataFrame([(pts,)], "coordinates array<array<double>>")
    got = route.select(
        reproject_routes_bng_to_wgs84(F.col("coordinates")).alias("c")
    ).collect()[0]["c"]

    rep = reproject_bng_to_wgs84_udf()
    points = spark.createDataFrame(
        [(i, e, n) for i, (e, n) in enumerate(pts)], "i int, e double, n double"
    )
    want = [
        [r["ll"]["lon"], r["ll"]["lat"]]
        for r in points.select("i", rep(F.col("e"), F.col("n")).alias("ll"))
        .orderBy("i")
        .collect()
    ]
    assert got == want


def test_load_idempotent(spark, geojson_dir, tmp_path):
    from transit_scrape_spark.pipelines.load_routes import load

    target = str(tmp_path / "routes_table")
    n1 = load(spark, str(geojson_dir / "*.geojson"), target)
    assert n1 == 4  # R1..R4 across the three files
    loaded = spark.read.parquet(target)
    assert loaded.count() == 4
    assert "route_type" in loaded.columns and "type" not in loaded.columns
    assert loaded.filter("created_at IS NULL").count() == 0

    # re-run: anti-join dedup -> nothing appended (reference drop_existing hazard)
    n2 = load(spark, str(geojson_dir / "*.geojson"), target)
    assert n2 == 0
    assert spark.read.parquet(target).count() == 4


def test_reprojection_golden(spark):
    """Control point: OS guide worked example — BNG (651409.903, 313177.270)
    is 1°43'4.5177"E 52°39'27.2531"N in OSGB36 (lon 1.717921, lat 52.657570).
    In WGS84 the Helmert datum shift moves this ~ -0.0019 deg lon /
    +0.0004 deg lat; assert the WGS84 output and that the shift magnitude
    is in the documented band (~1-5 m Helmert accuracy, SURVEY §7 M2)."""
    from pyspark.sql import functions as F

    from transit_scrape_spark.functions.geo import reproject_bng_to_wgs84_udf

    rep = reproject_bng_to_wgs84_udf()
    df = spark.createDataFrame([(651409.903, 313177.270)], "e double, n double")
    row = df.select(rep(F.col("e"), F.col("n")).alias("ll")).collect()[0]["ll"]
    assert row["lon"] == pytest.approx(1.71605, abs=5e-4)
    assert row["lat"] == pytest.approx(52.65800, abs=5e-4)
    # datum shift vs the OSGB36 truth stays in the expected band
    assert 0.001 < (1.717921 - row["lon"]) < 0.0025
    assert 0.0001 < (row["lat"] - 52.657570) < 0.001


def test_gridshift_bilinear_golden(spark):
    """Grid+bilinear pipeline reproduces the underlying shift field to
    <1 cm at off-node points (the OSTN15 architecture guarantee: with
    the real grid file dropped in, the correction is cm-accurate).
    Points deliberately placed AT cell interiors, edges, and near-node
    positions across the GB extent."""
    from pyspark.sql import functions as F

    from transit_scrape_spark.functions.geo import (
        build_shift_grid_cells,
        gridshift_apply,
        ostn15_like_shift_exprs,
    )

    pts = [
        (651409.903, 313177.270),  # OS guide control point
        (325940.0, 673060.0),      # Edinburgh (node-aligned)
        (123456.789, 987654.321),  # arbitrary interior
        (5000.0, 5000.0),          # cell centre, SW corner of grid
        (699999.9, 1249999.9),     # NE extreme, just inside the grid
        (300000.1, 600000.1),      # just past a node
    ]
    df = spark.createDataFrame(pts, "e double, n double")
    out = gridshift_apply(df, build_shift_grid_cells(spark))
    se_true, sn_true = ostn15_like_shift_exprs(F.col("e"), F.col("n"))
    rows = out.select(
        (F.abs(F.col("shift_e") - se_true)).alias("err_e"),
        (F.abs(F.col("shift_n") - sn_true)).alias("err_n"),
    ).collect()
    assert len(rows) == len(pts)
    for r in rows:
        assert r["err_e"] < 0.01, f"bilinear E error {r['err_e']} m >= 1 cm"
        assert r["err_n"] < 0.01, f"bilinear N error {r['err_n']} m >= 1 cm"


def test_gridref_golden(spark):
    """Docstring vector from the reference (geotiles.py:18): Edinburgh
    (325940, 673060) -> 'NT 25940 73060' at precision 10."""
    from pyspark.sql import functions as F

    from transit_scrape_spark.functions.gridref import (
        os_grid_reference,
        os_grid_reference_py,
        os_grid_reference_udf,
    )

    assert os_grid_reference_py(325940, 673060, 10) == "NT 25940 73060"
    assert os_grid_reference_py(325940, 673060, 8) == "NT 2594 7306"
    assert os_grid_reference_py(325940, 673060, 6) == "NT259730"
    assert os_grid_reference_py(-10, 0, 10) == ""
    with pytest.raises(ValueError):
        os_grid_reference_py(1, 1, 7)

    df = spark.createDataFrame(
        [(325940.0, 673060.0), (-10.0, 0.0), (699999.0, 1299999.0)],
        "e double, n double",
    )
    out = df.select(
        os_grid_reference(F.col("e"), F.col("n"), 10).alias("expr"),
        os_grid_reference_udf(10)(F.col("e"), F.col("n")).alias("udf"),
    ).collect()
    assert out[0]["expr"] == "NT 25940 73060"
    for r in out:
        assert r["expr"] == r["udf"]  # expression == UDF parity


def test_wkt_roundtrip(spark):
    from pyspark.sql import functions as F

    from transit_scrape_spark.functions.geo import (
        linestring_to_wkt,
        wkt_to_linestring,
    )

    df = spark.createDataFrame(
        [([[1.5, 2.5], [3.0, 4.0]],)], "coordinates array<array<double>>"
    )
    out = df.select(
        linestring_to_wkt(F.col("coordinates")).alias("wkt"),
        wkt_to_linestring(linestring_to_wkt(F.col("coordinates"))).alias("back"),
    ).collect()[0]
    assert out["wkt"] == "LINESTRING (1.5 2.5, 3.0 4.0)"
    assert out["back"] == [[1.5, 2.5], [3.0, 4.0]]


def test_wkt_parse_empty_and_null(spark):
    """Both empty-linestring spellings parse to [] (ANSI must not try to
    cast '' to double); null stays null."""
    from pyspark.sql import functions as F

    from transit_scrape_spark.functions.geo import wkt_to_linestring

    df = spark.createDataFrame(
        [("LINESTRING ()",), ("LINESTRING EMPTY",), (None,), ("LINESTRING (1 2)",)],
        "wkt string",
    )
    out = [r["c"] for r in df.select(wkt_to_linestring(F.col("wkt")).alias("c")).collect()]
    assert out == [[], [], None, [[1.0, 2.0]]]
