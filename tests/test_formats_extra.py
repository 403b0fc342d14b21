"""Zip, Arrow IPC, KML, GPX driver tests — over look-alikes of the
reference's zipped-shapefile and cities.arrow fixtures (src/test.rs:49-51,
123-158), built from the stations and cities fixtures."""

from __future__ import annotations

import os
import zipfile

import pytest

from polars_gdal_spark.geometry import wkb_to_geom
from tests.conftest import DATA_DIR, N_CITIES, N_STATIONS, STATIONS_SHP

CITIES_ARROW = f"{DATA_DIR}/cities.arrow"

KML_DOC = """<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
 <Placemark><name>alpha</name>
  <ExtendedData><Data name="kind"><value>tower</value></Data></ExtendedData>
  <Point><coordinates>10.5,45.25,120</coordinates></Point></Placemark>
 <Placemark><name>beta</name>
  <LineString><coordinates>0,0 1,1 2,0</coordinates></LineString></Placemark>
 <Placemark><name>gamma</name>
  <Polygon><outerBoundaryIs><LinearRing>
   <coordinates>0,0 4,0 4,4 0,0</coordinates>
  </LinearRing></outerBoundaryIs></Polygon></Placemark>
</Document></kml>"""

GPX_DOC = """<?xml version="1.0"?>
<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">
 <wpt lat="47.5" lon="8.5"><name>w1</name><ele>400.5</ele></wpt>
 <wpt lat="47.6" lon="8.6"><name>w2</name></wpt>
 <trk><name>t1</name><trkseg>
   <trkpt lat="47.0" lon="8.0"/><trkpt lat="47.1" lon="8.1"/>
 </trkseg></trk>
</gpx>"""


def _zipped_stations(tmp_path) -> str:
    """``stations_shapefile.shp.zip`` holding the stations fixture's files."""
    path = str(tmp_path / "stations_shapefile.shp.zip")
    base = os.path.splitext(STATIONS_SHP)[0]
    with zipfile.ZipFile(path, "w") as z:
        for ext in (".shp", ".shx", ".dbf", ".prj", ".cpg"):
            z.write(base + ext, "stations" + ext)
    return path


def test_zipped_shapefile(spark, tmp_path):
    # reference test_df_from_bytes zipped variant (src/test.rs:49-51)
    df = spark.read.format("gdal").load(_zipped_stations(tmp_path))
    assert df.count() == N_STATIONS
    assert "name" in df.columns and df.columns[-1] == "geometry"


def test_cities_arrow(spark):
    # look-alike of the reference write-path fixture: name + WKB geometry
    df = spark.read.format("gdal").load(CITIES_ARROW)
    assert df.count() == N_CITIES
    assert df.columns == ["name", "geometry"]
    t, coords = wkb_to_geom(bytes(df.first()["geometry"]))
    assert t == "Point"


def test_arrow_roundtrip_through_gpkg(spark, tmp_path):
    src = spark.read.format("gdal").load(CITIES_ARROW)
    out = str(tmp_path / "cities.gpkg")
    src.write.format("gdal").mode("overwrite").option("driver", "GPKG").save(out)
    back = spark.read.format("gdal").load(out)
    a = sorted(bytes(r["geometry"]) for r in src.collect())
    b = sorted(bytes(r["geometry"]) for r in back.select("geometry").collect())
    assert a == b


def test_kml(spark, tmp_path):
    p = tmp_path / "doc.kml"
    p.write_text(KML_DOC)
    df = spark.read.format("gdal").load(str(p))
    rows = {r["name"]: r for r in df.collect()}
    assert set(rows) == {"alpha", "beta", "gamma"}
    assert rows["alpha"]["kind"] == "tower"
    t, c = wkb_to_geom(bytes(rows["alpha"]["geometry"]))
    assert t == "Point" and c == (10.5, 45.25, 120.0)
    assert wkb_to_geom(bytes(rows["beta"]["geometry"]))[0] == "LineString"
    assert wkb_to_geom(bytes(rows["gamma"]["geometry"]))[0] == "Polygon"


def test_gpx_waypoints_and_tracks(spark, tmp_path):
    p = tmp_path / "route.gpx"
    p.write_text(GPX_DOC)
    wpts = spark.read.format("gdal").load(str(p))  # default layer: waypoints
    assert wpts.count() == 2
    w1 = wpts.where("name = 'w1'").first()
    assert w1["ele"] == 400.5
    assert wkb_to_geom(bytes(w1["geometry"]))[1] == (8.5, 47.5)

    trks = spark.read.format("gdal").option("layer", "tracks").load(str(p))
    assert trks.count() == 1
    assert wkb_to_geom(bytes(trks.first()["geometry"]))[0] == "LineString"


def test_ogr_sql_recipe(spark):
    from polars_gdal_spark.plans import ogr_sql

    df = ogr_sql(
        spark,
        STATIONS_SHP,
        "SELECT name, line FROM layer WHERE line = 'blue' ORDER BY name LIMIT 5",
    )
    assert df.count() == 5
    assert df.columns == ["name", "line"]


def test_ogr_sql_special_fields(spark):
    """OGR SQL special fields (public GDAL dialect docs): FID,
    OGR_GEOMETRY, OGR_GEOM_WKT, OGR_GEOM_AREA resolve on the view."""
    from polars_gdal_spark.plans import ogr_sql

    rows = ogr_sql(
        spark,
        STATIONS_SHP,
        "SELECT FID, name, OGR_GEOMETRY, OGR_GEOM_WKT, OGR_GEOM_AREA "
        "FROM layer ORDER BY FID LIMIT 3",
    ).collect()
    assert [r["FID"] for r in rows] == [0, 1, 2]
    assert all(r["OGR_GEOMETRY"] == "Point" for r in rows)
    assert all(r["OGR_GEOM_WKT"].startswith("POINT") for r in rows)
    assert all(r["OGR_GEOM_AREA"] == 0.0 for r in rows)  # points: no area


def test_geoparquet_roundtrip(spark, tmp_path):
    from polars_gdal_spark import read_gdal
    from polars_gdal_spark.sources.geoparquet import (
        read_geoparquet,
        write_geoparquet,
    )

    src = read_gdal(spark, STATIONS_SHP)
    out = str(tmp_path / "stations_gpq")
    write_geoparquet(src, out)
    back = read_geoparquet(spark, out)
    assert back.count() == N_STATIONS
    meta = back.schema["geometry"].metadata
    assert meta["encoding"] == "wkb"
    assert "WGS_1984" in meta["crs"]
    a = sorted(bytes(r["geometry"]) for r in src.select("geometry").collect())
    b = sorted(bytes(r["geometry"]) for r in back.select("geometry").collect())
    assert a == b


GML2_DOC = """<?xml version="1.0"?>
<ogr:FeatureCollection xmlns:ogr="http://ogr.maptools.org/"
    xmlns:gml="http://www.opengis.net/gml">
  <gml:featureMember>
    <ogr:cities fid="cities.0">
      <ogr:name>alpha</ogr:name>
      <ogr:pop>120</ogr:pop>
      <ogr:geometryProperty>
        <gml:Point><gml:coordinates>1.5,2.5</gml:coordinates></gml:Point>
      </ogr:geometryProperty>
    </ogr:cities>
  </gml:featureMember>
  <gml:featureMember>
    <ogr:cities fid="cities.1">
      <ogr:name>beta</ogr:name>
      <ogr:pop>88</ogr:pop>
      <ogr:geometryProperty>
        <gml:Polygon>
          <gml:outerBoundaryIs><gml:LinearRing>
            <gml:coordinates>0,0 4,0 4,4 0,4 0,0</gml:coordinates>
          </gml:LinearRing></gml:outerBoundaryIs>
          <gml:innerBoundaryIs><gml:LinearRing>
            <gml:coordinates>1,1 2,1 2,2 1,2 1,1</gml:coordinates>
          </gml:LinearRing></gml:innerBoundaryIs>
        </gml:Polygon>
      </ogr:geometryProperty>
    </ogr:cities>
  </gml:featureMember>
</ogr:FeatureCollection>
"""

GML3_DOC = """<?xml version="1.0"?>
<wfs:FeatureCollection xmlns:wfs="http://www.opengis.net/wfs/2.0"
    xmlns:app="http://example.com/app"
    xmlns:gml="http://www.opengis.net/gml/3.2">
  <wfs:member>
    <app:roads gml:id="r1">
      <app:label>main</app:label>
      <app:geom>
        <gml:LineString>
          <gml:posList>0 0 3 4 3 16</gml:posList>
        </gml:LineString>
      </app:geom>
    </app:roads>
  </wfs:member>
  <wfs:member>
    <app:roads gml:id="r2">
      <app:label>ring</app:label>
      <app:geom>
        <gml:Polygon>
          <gml:exterior><gml:LinearRing>
            <gml:posList>0 0 2 0 2 2 0 2 0 0</gml:posList>
          </gml:LinearRing></gml:exterior>
        </gml:Polygon>
      </app:geom>
    </app:roads>
  </wfs:member>
</wfs:FeatureCollection>
"""


def test_gml2_read(spark, tmp_path):
    p = tmp_path / "cities.gml"
    p.write_text(GML2_DOC)
    df = spark.read.format("gdal").load(str(p))
    rows = {r["name"]: r for r in df.collect()}
    assert set(rows) == {"alpha", "beta"}
    assert rows["alpha"]["pop"] == "120"
    assert wkb_to_geom(bytes(rows["alpha"]["geometry"])) == ("Point", (1.5, 2.5))
    t, rings = wkb_to_geom(bytes(rows["beta"]["geometry"]))
    assert t == "Polygon" and len(rings) == 2
    assert rings[0][0] == (0.0, 0.0) and rings[1][0] == (1.0, 1.0)


def test_gml3_read(spark, tmp_path):
    p = tmp_path / "roads.gml"
    p.write_text(GML3_DOC)
    df = spark.read.format("gdal").load(str(p))
    assert df.count() == 2
    rows = {r["label"]: r for r in df.collect()}
    assert wkb_to_geom(bytes(rows["main"]["geometry"])) == (
        "LineString", [(0.0, 0.0), (3.0, 4.0), (3.0, 16.0)]
    )
    assert wkb_to_geom(bytes(rows["ring"]["geometry"]))[0] == "Polygon"


def test_gml_write_roundtrip(spark, tmp_path):
    """Write GML through the sink, read back through GmlDriver: WKB
    byte-equality on geometry, string values preserved."""
    import pyspark.sql.functions as F

    from polars_gdal_spark.functions import geo

    df = spark.createDataFrame(
        [("a", 1, "POINT (1.5 2.5)"),
         ("b", 2, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"),
         ("c", 3, "MULTIPOINT ((1 2), (3 4))")],
        "name string, n bigint, wkt string",
    ).select("name", "n", geo.wkt_to_wkb_col(F.col("wkt")).alias("geometry"))
    out = str(tmp_path / "rt.gml")
    (
        df.coalesce(1).write.format("gdal")
        .option("driver", "GML")
        .mode("overwrite")
        .save(out)
    )
    back = spark.read.format("gdal").load(out)
    src = {r["name"]: r for r in df.collect()}
    got = {r["name"]: r for r in back.collect()}
    assert set(got) == set(src)
    for k in src:
        assert bytes(got[k]["geometry"]) == bytes(src[k]["geometry"])
        assert got[k]["n"] == str(src[k]["n"])  # GML attrs are strings


def test_esrijson_read(spark, tmp_path):
    """ESRIJSON FeatureSet: declared field types, OID fid, point and
    ESRI-winding polygon geometries."""
    import json as _json

    from polars_gdal_spark.geometry.wkb import wkb_to_geom

    doc = {
        "objectIdFieldName": "OID",
        "geometryType": "esriGeometryPolygon",
        "spatialReference": {"wkid": 4326},
        "fields": [
            {"name": "OID", "type": "esriFieldTypeOID"},
            {"name": "label", "type": "esriFieldTypeString"},
            {"name": "score", "type": "esriFieldTypeDouble"},
        ],
        "features": [
            {
                "attributes": {"OID": 7, "label": "a", "score": 1.5},
                # outer CW ring + CCW hole (ESRI winding)
                "geometry": {
                    "rings": [
                        [[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]],
                        [[2, 2], [4, 2], [4, 4], [2, 4], [2, 2]],
                    ]
                },
            },
            {
                "attributes": {"OID": 8, "label": "b", "score": None},
                "geometry": {
                    "rings": [[[20, 0], [20, 1], [21, 1], [20, 0]]]
                },
            },
        ],
    }
    p = tmp_path / "fs.json"
    p.write_text(_json.dumps(doc))
    df = spark.read.format("gdal").option("fidColumn", "fid").load(str(p))
    rows = {r["OID"]: r for r in df.collect()}
    assert set(rows) == {7, 8}
    assert rows[7]["fid"] == 7  # objectIdFieldName drives the FID
    assert rows[7]["label"] == "a" and rows[8]["score"] is None
    t, c = wkb_to_geom(bytes(rows[7]["geometry"]))
    assert t == "Polygon" and len(c) == 2  # hole grouped into the outer
    # ESRI point + sniffed schema (no fields array)
    doc2 = {
        "features": [
            {"attributes": {"name": "p1", "n": 3},
             "geometry": {"x": 1.5, "y": 2.5}},
            {"attributes": {"name": "p2", "n": None},
             "geometry": {"x": None}},
        ]
    }
    p2 = tmp_path / "pts.json"
    p2.write_text(_json.dumps(doc2))
    df2 = spark.read.format("gdal").load(str(p2))
    got = {r["name"]: r for r in df2.collect()}
    assert wkb_to_geom(bytes(got["p1"]["geometry"])) == ("Point", (1.5, 2.5))
    assert got["p2"]["geometry"] is None  # ArcGIS empty point
    assert got["p1"]["n"] == 3


def test_geojson_rs_sequence_read(spark, tmp_path):
    """RFC 8142 GeoJSON text sequences (RS-prefixed, possibly
    pretty-printed records) read as one layer."""
    import json as _json

    feats = [
        {"type": "Feature", "properties": {"i": i},
         "geometry": {"type": "Point", "coordinates": [float(i), 0.0]}}
        for i in range(4)
    ]
    p = tmp_path / "seq.geojson"
    with open(p, "wb") as f:
        for i, ft in enumerate(feats):
            # mix compact and pretty-printed records
            txt = _json.dumps(ft, indent=2 if i % 2 else None)
            f.write(b"\x1e" + txt.encode() + b"\n")
    df = spark.read.format("gdal").load(str(p))
    assert df.count() == 4
    assert sorted(r["i"] for r in df.collect()) == [0, 1, 2, 3]


def test_gzip_transparent_read(spark, tmp_path):
    """GDAL /vsigzip/ parity: .gz-wrapped members read identically to
    the plain file, across formats, with driver dispatch on the inner
    extension."""
    import gzip
    import shutil

    src = f"{DATA_DIR}/cities.geojson"
    plain = spark.read.format("gdal").load(src)
    gz = tmp_path / "cities.geojson.gz"
    with open(src, "rb") as f, gzip.open(gz, "wb") as out:
        shutil.copyfileobj(f, out)
    wrapped = spark.read.format("gdal").load(str(gz))
    assert wrapped.schema == plain.schema
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, wrapped.collect()))
    assert a == b

    # csv with coordinate synthesis through the same path
    csv = tmp_path / "pts.csv"
    csv.write_text("name,lon,lat\np1,1.5,2.5\np2,-3.0,4.0\n")
    gzcsv = tmp_path / "pts.csv.gz"
    with open(csv, "rb") as f, gzip.open(gzcsv, "wb") as out:
        shutil.copyfileobj(f, out)
    opts = {"x_possible_names": "lon", "y_possible_names": "lat"}
    pc = spark.read.format("gdal").options(**opts).load(str(csv))
    gc = spark.read.format("gdal").options(**opts).load(str(gzcsv))
    assert sorted(map(tuple, pc.collect())) == sorted(map(tuple, gc.collect()))


def test_gzip_write_roundtrip(spark, tmp_path):
    """Write-side .gz: df.write → file.geojson.gz, read back through the
    transparent reader, equal content. CSV too. Sidecar formats refuse."""
    src = spark.read.format("gdal").load(f"{DATA_DIR}/cities.geojson")
    out = tmp_path / "cities.geojson.gz"
    src.write.format("gdal").mode("overwrite").save(str(out))
    import gzip
    with gzip.open(out, "rb") as f:
        assert f.read(1) == b"{"  # real gzip member, inner JSON object
    back = spark.read.format("gdal").load(str(out))
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )

    csv_out = tmp_path / "cities.csv.gz"
    src.write.format("gdal").mode("overwrite").option("driver", "CSV").save(
        str(csv_out)
    )
    back_csv = spark.read.format("gdal").load(str(csv_out))
    assert back_csv.count() == src.count()

    import pytest as _pytest
    with _pytest.raises(Exception, match="sidecar"):
        src.write.format("gdal").mode("overwrite").option(
            "driver", "ESRI Shapefile"
        ).save(str(tmp_path / "x.shp.gz"))
