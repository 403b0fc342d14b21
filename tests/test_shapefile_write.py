"""Shapefile writer + bytes-out tests (reference write path parity:
gdal_resource_from_df src/lib.rs:629-642, gdal_bytes_from_df 586-611)."""

from __future__ import annotations

import os

import pytest

from polars_gdal_spark.geometry import wkb_to_geom
from polars_gdal_spark.sinks.bytes_out import write_gdal_bytes
from polars_gdal_spark.sources import read_gdal_bytes
from tests.conftest import N_BLUE, N_STATIONS, STATIONS_SHP

STATIONS = STATIONS_SHP


def test_shapefile_roundtrip(spark, tmp_path):
    src = spark.read.format("gdal").load(STATIONS)
    out = str(tmp_path / "out.shp")
    src.write.format("gdal").mode("overwrite").option(
        "driver", "ESRI Shapefile"
    ).save(out)
    for ext in (".shp", ".shx", ".dbf", ".prj"):
        assert os.path.exists(str(tmp_path / f"out{ext}"))
    back = spark.read.format("gdal").load(out)
    assert back.count() == N_STATIONS
    assert back.columns == src.columns
    a = sorted(bytes(r["geometry"]) for r in src.select("geometry").collect())
    b = sorted(bytes(r["geometry"]) for r in back.select("geometry").collect())
    assert a == b
    names_a = sorted(r["name"] for r in src.select("name").collect())
    names_b = sorted(r["name"] for r in back.select("name").collect())
    assert names_a == names_b


def test_shapefile_polygon_roundtrip(spark, tmp_path):
    rows = [
        ("solid", bytes.fromhex("")),
    ]
    import pyspark.sql.functions as F

    from polars_gdal_spark.geometry import geom_to_wkb

    poly = geom_to_wkb(
        (
            "Polygon",
            [
                [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)],
                [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0), (1.0, 1.0)],
            ],
        )
    )
    mpoly = geom_to_wkb(
        (
            "MultiPolygon",
            [
                [[(10.0, 10.0), (12.0, 10.0), (12.0, 12.0), (10.0, 10.0)]],
                [[(20.0, 20.0), (22.0, 20.0), (22.0, 22.0), (20.0, 20.0)]],
            ],
        )
    )
    df = spark.createDataFrame(
        [("with_hole", poly), ("multi", mpoly)], "name string, geometry binary"
    )
    out = str(tmp_path / "polys.shp")
    df.write.format("gdal").mode("overwrite").option(
        "driver", "ESRI Shapefile"
    ).save(out)
    back = {r["name"]: wkb_to_geom(bytes(r["geometry"]))
            for r in spark.read.format("gdal").load(out).collect()}
    t, rings = back["with_hole"]
    assert t == "Polygon" and len(rings) == 2
    t2, polys = back["multi"]
    assert t2 == "MultiPolygon" and len(polys) == 2


def test_bytes_out_geojson(spark):
    src = spark.read.format("gdal").load(STATIONS).limit(0)
    import json

    full = spark.read.format("gdal").load(STATIONS)
    data = write_gdal_bytes(full.where("line = 'blue'"), "GeoJSON")
    doc = json.loads(data)
    assert doc["type"] == "FeatureCollection" and len(doc["features"]) == N_BLUE
    # full loop: bytes out -> bytes in (df_from_bytes ∘ gdal_bytes_from_df)
    back = read_gdal_bytes(spark, data, "loop.geojson")
    assert back.count() == N_BLUE


def test_bytes_out_shapefile_multifile(spark):
    full = spark.read.format("gdal").load(STATIONS)
    parts = write_gdal_bytes(full, "ESRI Shapefile")
    assert set(parts) >= {".shp", ".shx", ".dbf"}
    import struct

    assert struct.unpack(">i", parts[".shp"][:4])[0] == 9994


def test_bytes_out_empty_rejected(spark):
    full = spark.read.format("gdal").load(STATIONS)
    with pytest.raises(Exception) as exc_info:
        write_gdal_bytes(full.where("name = 'nope'"), "GeoJSON")
    assert "empty" in str(exc_info.value).lower()


def test_crs_roundtrips_to_prj(spark, tmp_path):
    from polars_gdal_spark import read_gdal

    src = read_gdal(spark, STATIONS)
    out = str(tmp_path / "crs_out.shp")
    src.write.format("gdal").mode("overwrite").option(
        "driver", "ESRI Shapefile"
    ).save(out)
    prj = open(str(tmp_path / "crs_out.prj")).read()
    assert "WGS_1984" in prj
    back = read_gdal(spark, out)
    assert "WGS_1984" in back.schema["geometry"].metadata["crs"]


def test_shapefile_z_roundtrip(tmp_path):
    """Z-variant shapes (PointZ/PolyLineZ/PolygonZ/MultiPointZ) survive a
    write→read cycle with z preserved (write side was the known gap;
    read side already handled codes 11/13/15/18)."""
    from polars_gdal_spark.sinks.shapefile_writer import write_shapefile
    from polars_gdal_spark.sources.formats.shapefile import ShapefileDriver

    cases = [
        ("pt", ("Point", (1.0, 2.0, 3.5))),
        ("ln", ("LineString", [(0.0, 0.0, 1.0), (1.0, 1.0, 2.0)])),
        (
            "pg",
            ("Polygon", [[(0.0, 0.0, 1.0), (4.0, 0.0, 1.5), (4.0, 4.0, 2.0),
                          (0.0, 0.0, 1.0)]]),
        ),
        ("mp", ("MultiPoint", [(1.0, 2.0, 9.0), (3.0, 4.0, 8.0)])),
    ]
    d = ShapefileDriver()
    for name, geom in cases:
        p = str(tmp_path / f"{name}.shp")
        write_shapefile(p, [("name", "string")], [(geom, {"name": name})])
        feats = list(d.iter_features(p, "layer", {}))
        assert len(feats) == 1
        got = feats[0].geom
        assert got[0] == geom[0]

        def flatten(g):
            t, c = g
            if t == "Point":
                return [c]
            if t in ("LineString", "MultiPoint"):
                return list(c)
            return [pt for ring in c for pt in ring]

        src, back = flatten(geom), flatten(got)
        assert len(src) == len(back)
        for s, b in zip(sorted(src), sorted(back)):
            assert b == s  # includes z


def test_non_latin1_text_roundtrips_via_cpg(spark, tmp_path):
    """Non-Latin-1 DBF text flips the writer to UTF-8 and a .cpg sidecar
    declares it; the reader honors the declaration. Latin-1-only data
    keeps the classic encoding (also declared)."""
    import os

    df = spark.createDataFrame(
        [(1, "Ā köttbullar 北京"), (2, "plain")],
        "id bigint, label string",
    ).selectExpr(
        "id", "label",
        "unhex('0101000000000000000000F03F0000000000000040') AS geometry",
    )
    out = str(tmp_path / "uni.shp")
    df.write.format("gdal").mode("overwrite").option(
        "driver", "ESRI Shapefile"
    ).save(out)
    cpg = str(tmp_path / "uni.cpg")
    assert os.path.exists(cpg) and open(cpg).read() == "UTF-8"
    back = spark.read.format("gdal").load(out)
    assert {r["label"] for r in back.collect()} == {"Ā köttbullar 北京", "plain"}

    out2 = str(tmp_path / "plain.shp")
    df.where("id = 2").write.format("gdal").mode("overwrite").option(
        "driver", "ESRI Shapefile"
    ).save(out2)
    assert open(str(tmp_path / "plain.cpg")).read() == "ISO-8859-1"
