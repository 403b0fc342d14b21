"""Read-path parity tests against the reference's own fixtures
(read-only at /root/reference/test_data — the same corpus
``src/test.rs:4-41`` exercises), with the golden assertions the
reference left commented out (SURVEY §5)."""

from __future__ import annotations

import pytest

from polars_gdal_spark.geometry import wkb_to_geom
from tests.conftest import DATA_DIR, REF_DATA

US_STATES = f"{REF_DATA}/us_states.feature_collection.implicit_4326.json"
LAKES = f"{REF_DATA}/global_large_lakes.feature_collection.implicit_4326.json"
STATIONS = f"{REF_DATA}/stations.shp"
CSV = f"{REF_DATA}/lat_lon_countries.csv"
SPATIALITE = f"{REF_DATA}/test_spatialite.sqlite"


def _read(spark, path, **options):
    r = spark.read.format("gdal")
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path)


# -- reference test_df_from_resource (src/test.rs:4-41) ---------------------


def test_us_states_geojson(spark):
    df = _read(spark, US_STATES)
    assert df.count() == 51
    # 40 properties + geometry; all-null columns KEPT (divergence §4.3.5)
    assert len(df.columns) == 41
    assert df.columns[-1] == "geometry"
    for col in ("name_local", "note", "region_cod", "big_code"):
        assert col in df.columns
    rows = df.select("name", "geometry").orderBy("name").collect()
    assert rows[0]["name"] == "Alabama"
    t, _ = wkb_to_geom(bytes(rows[0]["geometry"]))
    assert t in ("Polygon", "MultiPolygon")


def test_us_states_all_null_dropped_by_option(spark):
    df = _read(spark, US_STATES, dropAllNullColumns="true")
    assert "name_local" not in df.columns
    assert len(df.columns) == 41 - 4


def test_lakes_geojson(spark):
    df = _read(spark, LAKES)
    assert df.count() == 398
    classes = {r[0] for r in df.select("featureclass").distinct().collect()}
    assert "Lake" in classes


def test_stations_shapefile(spark):
    df = _read(spark, STATIONS)
    assert df.count() == 86
    assert df.columns == ["name", "marker-col", "marker-sym", "line", "geometry"]
    blue = df.where("line = 'blue'").select("name").collect()
    assert len(blue) == 25
    first = df.where("`marker-sym` = 'rail-metro'").first()
    assert first["marker-col"].startswith("#")
    t, coords = wkb_to_geom(bytes(df.first()["geometry"]))
    assert t == "Point" and -180 < coords[0] < 0


def test_csv_latlon_with_open_options(spark):
    # GDAL CSV open options parity (reference README.md:46-54)
    df = _read(
        spark, CSV, x_possible_names="Lon*", y_possible_names="Lat*"
    )
    assert df.count() == 240
    assert df.columns == ["ISO 3166 Country Code", "Country", "geometry"]
    ad = df.where("`ISO 3166 Country Code` = 'AD'").first()
    t, coords = wkb_to_geom(bytes(ad["geometry"]))
    assert t == "Point"
    assert coords == (1.5, 42.5)  # (lon, lat) from the fixture's AD row


def test_csv_without_options_all_strings(spark):
    df = _read(spark, CSV)
    assert [f.dataType.simpleString() for f in df.schema.fields[:-1]] == [
        "string"
    ] * 4


def test_spatialite(spark):
    df = _read(spark, SPATIALITE)
    assert df.count() == 13
    assert df.columns == ["code", "name", "geometry"]
    arezzo = df.where("name = 'Arezzo'").first()
    assert arezzo["code"] == 51002
    t, _ = wkb_to_geom(bytes(arezzo["geometry"]))
    assert t in ("Polygon", "MultiPolygon")


# -- reader options (ReadParams parity, src/lib.rs:29-88) --------------------


def test_fid_column(spark):
    df = _read(spark, STATIONS, fidColumn="fid")
    assert df.columns[0] == "fid"
    fids = sorted(r["fid"] for r in df.select("fid").collect())
    assert fids == list(range(86))


def test_offset_limit_semantics(spark):
    # Engine semantics: limit counts rows RETURNED after offset
    # (documented divergence from the reference quirk, SURVEY §4.3.3
    # where offset=10,limit=5 yields 0 rows).
    df = _read(spark, STATIONS, offset=10, limit=5)
    assert df.count() == 5


def test_truncating_limit(spark):
    assert _read(spark, STATIONS, limit=7).count() == 7


def test_erroring_limit_maxrows(spark):
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as exc_info:
        _read(spark, STATIONS, maxRows=10).count()
    assert "FeatureLimitReached" in str(exc_info.value)


def test_geometry_format_wkt(spark):
    df = _read(spark, STATIONS, geometryFormat="wkt")
    assert df.schema["geometry"].dataType.simpleString() == "string"
    assert df.first()["geometry"].startswith("POINT (")


def test_geometry_format_geojson(spark):
    import json

    df = _read(spark, STATIONS, geometryFormat="geojson")
    gj = json.loads(df.first()["geometry"])
    assert gj["type"] == "Point"


def test_geometry_column_rename(spark):
    df = _read(spark, STATIONS, geometryColumn="geom")
    assert df.columns[-1] == "geom"


def test_conflict_rename(spark):
    # attribute colliding with geometry column → {name}_original
    # (reference src/lib.rs:453-463)
    df = _read(spark, STATIONS, geometryColumn="name")
    assert "name_original" in df.columns
    assert df.columns[-1] == "name"
    vals = {r["name_original"] for r in df.limit(5).collect()}
    assert any(v for v in vals)


def test_drivers_allowlist(spark):
    from polars_gdal_spark.errors import UnsupportedFormatError

    ok = _read(spark, STATIONS, drivers="ESRI Shapefile")
    assert ok.count() == 86
    with pytest.raises(Exception) as exc_info:
        _read(spark, STATIONS, drivers="GeoJSON").count()
    assert "no registered driver" in str(exc_info.value)


def test_pushdown_optin_single_use(spark):
    df = _read(spark, STATIONS, pushdown="true")
    assert df.where("line = 'blue'").count() == 25


def test_layer_selection_sqlite(spark):
    df = _read(spark, SPATIALITE, layer="comuni")
    assert df.count() == 13
    with pytest.raises(Exception):
        _read(spark, SPATIALITE, layer="nope").count()


def test_layer_index(spark):
    df = _read(spark, SPATIALITE, layerIndex=0)
    assert df.count() == 13


def test_crs_metadata_carried(spark):
    # strictly more than the reference: CRS survives the read as geometry
    # column metadata (reference drops it, SURVEY §1.2). Batch-only
    # opt-in (read_gdal wrapper) — streaming schemas must be metadata-free.
    from polars_gdal_spark import read_gdal

    shp = read_gdal(spark, STATIONS)
    assert "WGS_1984" in shp.schema["geometry"].metadata["crs"]
    sl = read_gdal(spark, SPATIALITE)
    assert sl.schema["geometry"].metadata["crs"] == "EPSG:23032"
    gj = read_gdal(spark, US_STATES)
    assert gj.schema["geometry"].metadata["crs"] == "EPSG:4326"
    assert gj.schema["geometry"].metadata["encoding"] == "wkb"
    # default (streaming-compatible) path carries no metadata
    assert _read(spark, STATIONS).schema["geometry"].metadata == {}


def test_bbox_spatial_filter(spark):
    """Reader `bbox` option = OGR SetSpatialFilter analogue: envelope
    intersection against the filter rectangle, null geometries excluded.
    Checked value-for-value against the client-side equivalent."""
    from polars_gdal_spark.geometry import geom_bounds

    full = _read(spark, STATIONS).select("name", "geometry").collect()
    bbox = (-77.05, 38.88, -77.00, 38.92)

    def hits(rows):
        out = set()
        for r in rows:
            mnx, mny, mxx, mxy = geom_bounds(wkb_to_geom(bytes(r["geometry"])))
            if not (mxx < bbox[0] or mnx > bbox[2]
                    or mxy < bbox[1] or mny > bbox[3]):
                out.add(r["name"])
        return out

    expected = hits(full)
    assert 0 < len(expected) < len(full)  # the box is a real subset
    got = {
        r["name"]
        for r in _read(
            spark, STATIONS, bbox=",".join(str(v) for v in bbox)
        ).select("name").collect()
    }
    assert got == expected


def test_sql_ddl_view_over_gdal(spark):
    """SQL-first surface: CREATE TEMPORARY VIEW ... USING gdal gives the
    reference's SQL-driven workflow (OGR SQL there, real Spark SQL here)
    without touching the DataFrame API."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW cities_sql USING gdal "
        f"OPTIONS (path '{DATA_DIR}/cities.geojson')"
    )
    assert spark.sql("SELECT count(*) AS n FROM cities_sql").collect()[0]["n"] == 120
    top = spark.sql(
        "SELECT name, population FROM cities_sql WHERE population > 0 "
        "ORDER BY population DESC, name LIMIT 3"
    ).collect()
    assert len(top) == 3
    # reader options pass through DDL too
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW cities_lim USING gdal "
        f"OPTIONS (path '{DATA_DIR}/cities.geojson', `limit` '5')"
    )
    assert spark.sql("SELECT count(*) AS n FROM cities_lim").collect()[0]["n"] == 5
