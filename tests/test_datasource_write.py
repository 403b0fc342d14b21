"""Write-path tests: round-trips through every sink driver + the
reference's error contract (src/lib.rs:499-573, SURVEY §2.M)."""

from __future__ import annotations

import json
import os
import sqlite3

import pytest

from tests.conftest import N_STATIONS, STATIONS_SHP

STATIONS = STATIONS_SHP


@pytest.fixture(scope="module")
def stations(spark):
    return spark.read.format("gdal").load(STATIONS)


def _write(df, path, **options):
    w = df.write.format("gdal").mode("overwrite")
    for k, v in options.items():
        w = w.option(k, v)
    w.save(path)


def _wkb_multiset(df):
    return sorted(bytes(r["geometry"]) for r in df.select("geometry").collect())


def test_geojson_roundtrip(spark, stations, tmp_path):
    out = str(tmp_path / "out.geojson")
    _write(stations, out, driver="GeoJSON")
    doc = json.load(open(out))
    assert doc["type"] == "FeatureCollection"
    assert len(doc["features"]) == N_STATIONS
    back = spark.read.format("gdal").load(out)
    assert back.count() == N_STATIONS
    assert _wkb_multiset(back) == _wkb_multiset(stations)


def test_driver_sniffed_from_extension(spark, stations, tmp_path):
    out = str(tmp_path / "sniffed.geojson")
    _write(stations.limit(3), out)  # no driver option
    assert json.load(open(out))["type"] == "FeatureCollection"


@pytest.mark.parametrize(
    "ext,driver",
    [
        (".shp", "ShapefileDriver"),
        (".fgb", "FlatGeobufDriver"),
        (".kml", "KmlDriver"),
        (".gpx", "GpxDriver"),
        (".gml", "GmlDriver"),
    ],
)
def test_driver_sniffed_for_more_extensions(spark, stations, tmp_path, ext, driver):
    """Without a ``driver`` option these extensions write their own
    format, not GeoJSON, and read back through the matching driver."""
    from polars_gdal_spark.sources.formats import find_driver

    out = str(tmp_path / f"sniffed{ext}")
    _write(stations.select("name", "geometry"), out)
    assert type(find_driver(out)).__name__ == driver
    back = spark.read.format("gdal").load(out)
    assert back.count() == N_STATIONS
    assert _wkb_multiset(back) == _wkb_multiset(stations)


def test_csv_roundtrip_wkt(spark, stations, tmp_path):
    out = str(tmp_path / "out.csv")
    _write(stations, out, driver="CSV")
    lines = open(out).read().splitlines()
    assert lines[0] == "name,marker-col,marker-sym,line,riders,elev,geometry"
    assert len(lines) == N_STATIONS + 1
    back = (
        spark.read.format("gdal")
        .option("geom_possible_names", "geometry")
        .load(out)
    )
    assert back.count() == N_STATIONS
    assert _wkb_multiset(back) == _wkb_multiset(stations)


def test_gpkg_roundtrip(spark, stations, tmp_path):
    out = str(tmp_path / "out.gpkg")
    _write(stations, out, driver="GPKG", layer="stations")
    con = sqlite3.connect(out)
    assert con.execute("SELECT count(*) FROM stations").fetchone()[0] == N_STATIONS
    assert con.execute(
        "SELECT table_name FROM gpkg_geometry_columns"
    ).fetchone()[0] == "stations"
    back = spark.read.format("gdal").load(out)
    assert back.count() == N_STATIONS
    assert _wkb_multiset(back) == _wkb_multiset(stations)


def test_ndjson_roundtrip(spark, stations, tmp_path):
    out = str(tmp_path / "out.ndjson")
    _write(stations, out, driver="GeoJSONSeq")
    lines = [json.loads(l) for l in open(out) if l.strip()]
    assert len(lines) == N_STATIONS and lines[0]["type"] == "Feature"
    back = spark.read.format("gdal").load(out)
    assert back.count() == N_STATIONS


def test_partitioned_escape_hatch(spark, stations, tmp_path):
    out = str(tmp_path / "parts_out")
    _write(stations, out, driver="GeoJSONSeq", partitioned="true")
    parts = os.listdir(out)
    assert len(parts) >= 1 and all(p.endswith(".ndjson") for p in parts)
    back = spark.read.format("gdal").load(out)
    assert back.count() == N_STATIONS


def test_wkt_geometry_input(spark, stations, tmp_path):
    import pyspark.sql.functions as F

    from polars_gdal_spark.functions.geo import wkb_to_wkt_col

    out = str(tmp_path / "wkt_in.geojson")
    wkt_df = stations.withColumn("geometry", wkb_to_wkt_col("geometry"))
    _write(wkt_df, out, driver="GeoJSON", geometryFormat="wkt")
    back = spark.read.format("gdal").load(out)
    assert _wkb_multiset(back) == _wkb_multiset(stations)


def test_empty_dataframe_rejected(spark, stations, tmp_path):
    # reference src/lib.rs:509-511 / error.rs:48-50
    out = str(tmp_path / "empty.geojson")
    with pytest.raises(Exception) as exc_info:
        _write(stations.where("line = 'nope'"), out)
    assert "EmptyDataframe" in str(exc_info.value) or "empty" in str(
        exc_info.value
    )
    assert not os.path.exists(out)


def test_missing_geometry_column_rejected(spark, stations, tmp_path):
    # reference src/lib.rs:523-525 / error.rs:52-54
    out = str(tmp_path / "nogeom.geojson")
    with pytest.raises(Exception) as exc_info:
        _write(stations.drop("geometry"), out)
    assert "geometry" in str(exc_info.value)


def test_wrong_geometry_dtype_rejected(spark, stations, tmp_path):
    # reference error GeometryColumnWrongType (src/error.rs:40-42)
    import pyspark.sql.functions as F

    out = str(tmp_path / "wrongtype.geojson")
    bad = stations.withColumn("geometry", F.lit(1.5))
    with pytest.raises(Exception) as exc_info:
        _write(bad, out)
    assert "geometry" in str(exc_info.value)


def test_kml_roundtrip(spark, stations, tmp_path):
    out = str(tmp_path / "out.kml")
    _write(stations, out, driver="KML")
    back = spark.read.format("gdal").load(out)
    assert back.count() == N_STATIONS
    assert _wkb_multiset(back) == _wkb_multiset(stations)
    # non-name/description attributes round-trip through ExtendedData
    src = {r["name"]: r["line"] for r in stations.collect()}
    got = {r["name"]: r["line"] for r in back.collect()}
    assert got == src


def test_gpx_roundtrip(spark, stations, tmp_path):
    out = str(tmp_path / "out.gpx")
    _write(stations.selectExpr("name", "geometry"), out, driver="GPX")
    back = spark.read.format("gdal").load(out)  # default layer: waypoints
    assert back.count() == N_STATIONS
    assert _wkb_multiset(back) == _wkb_multiset(stations)
    src = sorted(r["name"] for r in stations.collect())
    assert sorted(r["name"] for r in back.collect()) == src


def test_mif_roundtrip(spark, stations, tmp_path):
    out = str(tmp_path / "out.mif")
    _write(stations, out, driver="MapInfo File")
    assert os.path.exists(out) and os.path.exists(str(tmp_path / "out.mid"))
    back = spark.read.format("gdal").load(out)
    assert back.count() == N_STATIONS
    assert _wkb_multiset(back) == _wkb_multiset(stations)
    names = {r["name"] for r in back.select("name").collect()}
    assert names == {r["name"] for r in stations.select("name").collect()}


def test_mif_region_with_hole_roundtrip(spark, tmp_path):
    from polars_gdal_spark.geometry import geojson_to_geom, geom_to_wkb

    poly = {
        "type": "Polygon",
        "coordinates": [
            [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
            [[2, 2], [4, 2], [4, 4], [2, 4], [2, 2]],
        ],
    }
    df = spark.createDataFrame(
        [("a", bytearray(geom_to_wkb(geojson_to_geom(poly))))],
        "name string, geometry binary",
    )
    out = str(tmp_path / "hole.mif")
    _write(df, out, driver="MIF")
    back = spark.read.format("gdal").load(out)
    [row] = back.collect()
    from polars_gdal_spark.geometry import wkb_to_geom

    t, rings = wkb_to_geom(bytes(row["geometry"]))
    assert t == "Polygon" and len(rings) == 2  # hole survives


def test_dxf_roundtrip(spark, tmp_path):
    from polars_gdal_spark.geometry import geojson_to_geom, geom_to_wkb

    def wkb(gj):
        return bytearray(geom_to_wkb(geojson_to_geom(gj)))

    rows = [
        ("sites", None, wkb({"type": "Point", "coordinates": [1.5, 2.5]})),
        ("roads", None, wkb({"type": "LineString", "coordinates": [[0, 0], [3, 4], [5, 0]]})),
        ("parcels", None, wkb({"type": "Polygon", "coordinates": [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]]})),
        ("labels", "hello", wkb({"type": "Point", "coordinates": [9.0, 9.0]})),
    ]
    df = spark.createDataFrame(rows, "Layer string, Text string, geometry binary")
    out = str(tmp_path / "plan.dxf")
    _write(df, out)  # driver sniffed from .dxf extension
    back = spark.read.format("gdal").load(out)
    got = {r["Layer"]: r for r in back.collect()}
    assert set(got) == {"sites", "roads", "parcels", "labels"}
    assert got["labels"]["Text"] == "hello"
    from polars_gdal_spark.geometry import wkb_to_geom

    t, c = wkb_to_geom(bytes(got["sites"]["geometry"]))
    assert t == "Point" and c == (1.5, 2.5)
    t, c = wkb_to_geom(bytes(got["roads"]["geometry"]))
    assert t == "LineString" and c == [(0, 0), (3, 4), (5, 0)]
    t, rings = wkb_to_geom(bytes(got["parcels"]["geometry"]))
    assert t == "Polygon"
    assert rings[0] == [(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]


def test_arrow_ipc_roundtrip_with_geo_metadata(spark, stations, tmp_path):
    """Arrow IPC write mirrors the reference's own write fixture shape
    (test_data/cities.arrow, src/test.rs:123-158): WKB geometry column +
    GeoParquet-style 'geo' schema metadata with encoding/CRS/bbox."""
    import json as _json

    import pyarrow as pa

    out = str(tmp_path / "out.arrow")
    _write(stations, out, driver="Arrow", crs="EPSG:4326")
    with pa.OSFile(out, "rb") as f:
        tbl = pa.ipc.open_file(f).read_all()
    assert tbl.num_rows == N_STATIONS
    geo = _json.loads(tbl.schema.metadata[b"geo"])
    assert geo["primary_column"] == "geometry"
    col = geo["columns"]["geometry"]
    assert col["encoding"] == "WKB"
    assert col["geometry_types"] == ["Point"]
    assert len(col["bbox"]) == 4 and col["bbox"][0] <= col["bbox"][2]
    back = spark.read.format("gdal").load(out)
    assert back.count() == N_STATIONS
    assert _wkb_multiset(back) == _wkb_multiset(stations)
    names = {r["name"] for r in back.select("name").collect()}
    assert names == {r["name"] for r in stations.select("name").collect()}


def test_arrow_ipc_sniffed_and_typed(spark, tmp_path):
    import datetime

    import pyarrow as pa

    from polars_gdal_spark.geometry import geojson_to_geom, geom_to_wkb

    df = spark.createDataFrame(
        [
            (1, 2.5, True, datetime.date(2020, 5, 17),
             bytearray(geom_to_wkb(geojson_to_geom(
                 {"type": "Point", "coordinates": [3.0, 4.0]})))),
            (2, -1.25, False, None, None),
        ],
        "n bigint, x double, ok boolean, d date, geometry binary",
    )
    out = str(tmp_path / "typed.feather")
    _write(df, out)  # driver sniffed from extension
    with pa.OSFile(out, "rb") as f:
        tbl = pa.ipc.open_file(f).read_all()
    assert tbl.schema.field("n").type == pa.int64()
    assert tbl.schema.field("x").type == pa.float64()
    assert tbl.schema.field("ok").type == pa.bool_()
    assert tbl.schema.field("d").type == pa.date32()
    back = spark.read.format("gdal").load(out)
    rows = {r["n"]: r for r in back.collect()}
    assert rows[1]["d"] == datetime.date(2020, 5, 17)
    assert rows[2]["geometry"] is None and rows[2]["d"] is None
