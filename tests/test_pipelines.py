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


def test_scan_mixed_shapes_infers_one_schema(spark, tmp_path):
    """Inferred scan over a FeatureCollection and a single Feature: a
    property that is 1.5 in one and 2 in the other widens to DOUBLE, and a
    key only the single Feature carries sits with the other properties,
    before geometry_type."""
    from transit_scrape_spark.sources.geojson import read_geojson_features

    (tmp_path / "fc.geojson").write_text(json.dumps(
        {"type": "FeatureCollection", "features": [_with_props("M1", x=1.5)]}
    ))
    (tmp_path / "single.geojson").write_text(json.dumps(_with_props("M2", x=2, only=7)))

    df = read_geojson_features(spark, str(tmp_path))
    assert df.schema["x"].dataType.simpleString() == "double"
    assert df.columns.index("only") < df.columns.index("geometry_type")
    assert {r["route_id"]: (r["x"], r["only"]) for r in df.collect()} == {
        "M1": (1.5, None), "M2": (2.0, 7)
    }


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


@pytest.mark.parametrize("with_single", [False, True], ids=["alone", "next-to-single"])
def test_process_empty_collection(spark, tmp_path, with_single):
    """An empty FeatureCollection is zero features, also when the scan
    infers its schema next to a single Feature."""
    from transit_scrape_spark.pipelines.process_routes import run

    src = tmp_path / "in"
    src.mkdir()
    (src / "empty.geojson").write_text(json.dumps({"type": "FeatureCollection", "features": []}))
    if with_single:
        (src / "single.geojson").write_text(json.dumps(_feature("S1", COORDS)))

    rows = run(spark, str(src), str(tmp_path / "out"), "parquet").collect()
    assert [r["route_id"] for r in rows] == (["S1"] if with_single else [])


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


def _load_rows(spark, target):
    return [
        r.asDict()
        for r in spark.read.parquet(target)
        .drop("created_at", "updated_at")
        .orderBy("route_id")
        .collect()
    ]


def _with_props(route_id: str, **props) -> dict:
    return dict(
        _feature(route_id, COORDS),
        properties=dict(ROUTE_PROPS, route_id=route_id, **props),
    )


@pytest.mark.parametrize("swap", [False, True], ids=["a-then-b", "b-then-a"])
def test_load_keeps_one_row_per_key(spark, tmp_path, swap):
    """Two features with one key in one batch load as ONE row, the same
    one whichever file holds it."""
    from transit_scrape_spark.pipelines.load_routes import load

    first, second = ("b.geojson", "a.geojson") if swap else ("a.geojson", "b.geojson")
    (tmp_path / first).write_text(
        json.dumps({"type": "FeatureCollection", "features": [
            _with_props("E1", street="Zeta Road"), _feature("E2", COORDS),
        ]})
    )
    (tmp_path / second).write_text(json.dumps(_with_props("E1", street="Alpha Road")))
    target = str(tmp_path / "table")
    assert load(spark, str(tmp_path / "*.geojson"), target) == 2
    rows = _load_rows(spark, target)
    assert [r["route_id"] for r in rows] == ["E1", "E2"]
    assert rows[0]["street"] == "Alpha Road"
    assert rows[0]["source_file"] == second


WKT = "LINESTRING (325940.0 673060.0, 326940.0 673060.0, 326940.0 674060.0)"
POINT = dict(_feature("P1", COORDS), geometry={"type": "Point", "coordinates": COORDS[0]})

# id: (features, column checked, {route_id: loaded value} or the error condition)
HOSTILE_BATCHES = {
    "empty-collection": ([], "route_id", {}),
    "point-among-lines": (
        [_feature("L1", COORDS), POINT, _feature("L2", COORDS)],
        "geometry_wkt",
        {"L1": WKT, "P1": None, "L2": WKT},
    ),
    "numeric-string": ([_with_props("S1", sh_src_id="13")], "sh_src_id", {"S1": 13.0}),
    "non-numeric-string": (
        [_with_props("S1", sh_src_id="abc")], "sh_src_id", "CAST_INVALID_INPUT"
    ),
    "number-in-string-column": (
        [_with_props("N1", la_s_code=123)], "la_s_code", {"N1": "123"}
    ),
}


@pytest.mark.parametrize("case", list(HOSTILE_BATCHES), ids=list(HOSTILE_BATCHES))
def test_load_hostile_batch(spark, tmp_path, case):
    """The declared STRING scan plus align_to_target's casts: types are set
    once, by the casts, and one odd feature does not sink its neighbours."""
    from pyspark.errors import NumberFormatException

    from transit_scrape_spark.pipelines.load_routes import load

    feats, column, want = HOSTILE_BATCHES[case]
    path = tmp_path / "batch.geojson"
    path.write_text(json.dumps({"type": "FeatureCollection", "features": feats}))
    target = str(tmp_path / "table")
    if isinstance(want, str):
        with pytest.raises(NumberFormatException, match=want):
            load(spark, str(path), target)
        return
    assert load(spark, str(path), target) == len(want)
    assert {r["route_id"]: r[column] for r in _load_rows(spark, target)} == want


def test_load_single_execution(spark, geojson_dir, tmp_path):
    """A fresh load and a reload each run one scan and one write, with
    no inference or count() pass (a load with both took 4 jobs fresh and
    9 on reload on this corpus); a no-op rerun adds at most one (empty)
    part file and no rows."""
    import os
    import uuid

    from transit_scrape_spark.pipelines.load_routes import load

    def jobs_run(glob, target):
        sc = spark.sparkContext
        group = f"load-test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            n = load(spark, glob, target)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return n, len(sc.statusTracker().getJobIdsForGroup(group))

    def part_files(target):
        return [f for f in os.listdir(target) if f.endswith(".parquet")]

    batch2 = tmp_path / "batch2"
    batch2.mkdir()
    (batch2 / "more.geojson").write_text(
        json.dumps({"type": "FeatureCollection",
                    "features": [_feature(r, COORDS) for r in ("R3", "R4", "R5", "R6")]})
    )
    target = str(tmp_path / "table")

    n, jobs = jobs_run(str(geojson_dir / "*.geojson"), target)
    assert n == 4 and jobs <= 2  # scan+dedupe exchange, write
    n, jobs = jobs_run(str(batch2 / "*.geojson"), target)
    assert n == 2 and jobs <= 5  # plus the table's key scan for the anti-join

    rows, files = _load_rows(spark, target), part_files(target)
    assert jobs_run(str(batch2 / "*.geojson"), target)[0] == 0
    assert _load_rows(spark, target) == rows
    assert len(part_files(target)) <= len(files) + 1


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
