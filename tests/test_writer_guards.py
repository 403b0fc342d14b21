"""Writer-side guard rails (ADVICE round 1).

- mode('append') / default mode against an existing resource must error
  instead of silently replacing it (two-phase assemble() would clobber).
- A shapefile holds exactly one shape type; mixed-geometry input errors
  like GDAL instead of emitting a spec-invalid file.
- Z-variant shapefiles carry the real Z range in the .shp/.shx headers.
- A ``.gz`` destination refuses every format that writes sidecar files,
  and an unknown driver fails before any write task runs; neither
  leaves a file behind.
"""

from __future__ import annotations

import os
import struct

import pytest
from pyspark.sql import functions as F

from polars_gdal_spark.errors import UpdateNotSupportedError
from polars_gdal_spark.sinks.shapefile_writer import write_shapefile


def test_append_to_existing_errors(spark, tmp_path):
    out = str(tmp_path / "cities.geojson")
    df = spark.createDataFrame(
        [("a", bytes.fromhex("0101000000000000000000f03f0000000000000040"))],
        "name string, geometry binary",
    )
    df.write.format("gdal").mode("overwrite").save(out)
    with pytest.raises(Exception) as ei:
        df.write.format("gdal").mode("append").save(out)
    assert "append" in str(ei.value).lower()


def test_overwrite_existing_still_works(spark, tmp_path):
    out = str(tmp_path / "cities.geojson")
    df = spark.createDataFrame(
        [("a", bytes.fromhex("0101000000000000000000f03f0000000000000040"))],
        "name string, geometry binary",
    )
    df.write.format("gdal").mode("overwrite").save(out)
    df.write.format("gdal").mode("overwrite").save(out)
    assert spark.read.format("gdal").load(out).count() == 1


def test_mixed_shape_types_rejected(tmp_path):
    feats = [
        (("Point", (1.0, 2.0)), {"name": "p"}),
        (("LineString", [(0.0, 0.0), (1.0, 1.0)]), {"name": "l"}),
    ]
    with pytest.raises(ValueError, match="single geometry type"):
        write_shapefile(
            str(tmp_path / "mixed.shp"), [("name", "string")], feats
        )


def test_null_shapes_allowed_among_points(tmp_path):
    feats = [
        (("Point", (1.0, 2.0)), {"name": "p"}),
        (None, {"name": "void"}),
        (("Point", (3.0, 4.0)), {"name": "q"}),
    ]
    write_shapefile(str(tmp_path / "nulls.shp"), [("name", "string")], feats)
    with open(tmp_path / "nulls.shp", "rb") as f:
        head = f.read(100)
    assert struct.unpack("<i", head[32:36])[0] == 1  # Point


def test_z_range_written_to_header(tmp_path):
    feats = [
        (("Point", (1.0, 2.0, -5.0)), {"name": "low"}),
        (("Point", (3.0, 4.0, 12.5)), {"name": "high"}),
    ]
    write_shapefile(str(tmp_path / "z.shp"), [("name", "string")], feats)
    for ext in (".shp", ".shx"):
        with open(str(tmp_path / "z") + ext, "rb") as f:
            head = f.read(100)
        code = struct.unpack("<i", head[32:36])[0]
        zmin, zmax = struct.unpack("<2d", head[68:84])
        assert code == 11  # PointZ
        assert (zmin, zmax) == (-5.0, 12.5)


def test_gpkg_append_adds_layer(spark, tmp_path):
    """GPKG is a container: mode('append') adds a NEW layer, leaves the
    existing ones untouched, and refuses a layer-name collision."""
    out = str(tmp_path / "multi.gpkg")
    pt = bytes.fromhex("0101000000000000000000f03f0000000000000040")
    cities = spark.createDataFrame(
        [("berlin", pt)], "name string, geometry binary"
    )
    roads = spark.createDataFrame(
        [("a1", pt), ("a2", pt)], "road string, geometry binary"
    )
    cities.write.format("gdal").mode("overwrite").option(
        "layer", "cities"
    ).save(out)
    roads.write.format("gdal").mode("append").option("layer", "roads").save(
        out
    )
    back_c = spark.read.format("gdal").option("layer", "cities").load(out)
    back_r = spark.read.format("gdal").option("layer", "roads").load(out)
    assert [r["name"] for r in back_c.collect()] == ["berlin"]
    assert sorted(r["road"] for r in back_r.collect()) == ["a1", "a2"]
    with pytest.raises(Exception) as ei:
        cities.write.format("gdal").mode("append").option(
            "layer", "cities"
        ).save(out)
    assert "already exists" in str(ei.value)


def test_gpkg_append_to_non_geopackage_clear_error(spark, tmp_path):
    """Appending to an empty file (or any non-GeoPackage sqlite db) must
    raise a clear 'not a GeoPackage' error, not a raw sqlite
    OperationalError, and must not leak the connection."""
    out = str(tmp_path / "bogus.gpkg")
    open(out, "wb").close()  # empty file: sqlite opens it, no gpkg tables
    pt = bytes.fromhex("0101000000000000000000f03f0000000000000040")
    df = spark.createDataFrame([("x", pt)], "name string, geometry binary")
    with pytest.raises(Exception) as ei:
        df.write.format("gdal").mode("append").option("layer", "l").save(out)
    assert "not a GeoPackage" in str(ei.value)


PT = bytes.fromhex("0101000000000000000000f03f0000000000000040")


@pytest.mark.parametrize(
    "driver,name",
    [
        ("ESRI Shapefile", "x.shp.gz"),
        ("Shapefile", "x.shp.gz"),
        ("shp", "x.shp.gz"),
        ("MapInfo File", "x.mif.gz"),
        ("MapInfo File", "x.tab.gz"),
        ("MIF", "y.mif.gz"),
        ("MIF/MID", "y.mif.gz"),
        ("MapInfo TAB", "x.tab.gz"),
        ("TAB", "x.tab.gz"),
    ],
)
def test_gz_destination_refuses_sidecar_formats(spark, tmp_path, driver, name):
    df = spark.createDataFrame([("a", PT)], "name string, geometry binary")
    with pytest.raises(Exception, match="sidecar"):
        df.write.format("gdal").option("driver", driver).mode("overwrite").save(
            str(tmp_path / name)
        )
    assert os.listdir(tmp_path) == []


def test_unknown_driver_fails_before_any_task(spark, tmp_path):
    marker = str(tmp_path / "task-ran")

    @F.udf("binary")
    def point(_):
        open(marker, "w").close()
        return PT

    df = spark.range(4).select(F.col("id").alias("name"), point("id").alias("geometry"))
    with pytest.raises(Exception) as ei:
        df.write.format("gdal").option("driver", "Bogus").mode("overwrite").save(
            str(tmp_path / "o.geojson")
        )
    assert "unsupported write driver 'Bogus'" in str(ei.value)
    assert os.listdir(tmp_path) == [], "no write task ran, no .parts.tmp"
