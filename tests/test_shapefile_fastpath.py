"""Shapefile WKB fast path: the memcpy encoder must produce byte-for-byte
what the tuple path (parse → geom_to_wkb) produces, for every shape type,
and the end-to-end read must be unchanged."""

from __future__ import annotations

import struct

from polars_gdal_spark.geometry.wkb import geom_to_wkb, wkb_to_geom
from polars_gdal_spark.sources.formats.shapefile import (
    _parse_shape,
    _shape_to_wkb,
)
from tests.conftest import N_STATIONS, STATIONS_SHP

GEOMS = [
    ("Point", (2.0, 3.5)),
    ("MultiPoint", [(0.0, 1.0), (2.0, 3.0), (4.5, -1.5)]),
    ("LineString", [(0.0, 0.0), (1.0, 1.0), (2.0, 0.5)]),
    (
        "MultiLineString",
        [[(0.0, 0.0), (1.0, 1.0)], [(5.0, 5.0), (6.0, 7.0), (8.0, 8.0)]],
    ),
    (
        "Polygon",
        [
            [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0)],
            [(2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0)],
        ],
    ),
    (
        "MultiPolygon",
        [
            [[(0.0, 0.0), (0.0, 2.0), (2.0, 2.0), (2.0, 0.0), (0.0, 0.0)]],
            [[(5.0, 5.0), (5.0, 7.0), (7.0, 7.0), (7.0, 5.0), (5.0, 5.0)]],
        ],
    ),
]


def _shp_records(path: str):
    """Yield raw shape-record contents from a .shp file sequentially."""
    with open(path, "rb") as f:
        f.seek(100)
        while True:
            hdr = f.read(8)
            if len(hdr) < 8:
                break
            _, len_words = struct.unpack(">2i", hdr)
            yield f.read(len_words * 2)


def _write_shp(spark, tmp_path, name, wkbs):
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(wkbs)], "id bigint, geometry binary"
    )
    out = str(tmp_path / name)
    (
        df.write.format("gdal")
        .mode("overwrite")
        .option("driver", "ESRI Shapefile")
        .save(out)
    )
    return out


def test_fastpath_byte_equality_all_types(spark, tmp_path):
    # one file per type (shapefiles are single-geometry-type)
    for gtype, coords in GEOMS:
        wkb = geom_to_wkb((gtype, coords))
        out = _write_shp(spark, tmp_path, f"{gtype.lower()}.shp", [wkb])
        for content in _shp_records(out):
            slow = geom_to_wkb(_parse_shape(content))
            fast = _shape_to_wkb(content)
            assert fast == slow, gtype
            # shapefile write normalizes type (e.g. Polygon→its rings);
            # value equality with the source geometry still holds
            assert wkb_to_geom(fast)[0] in (gtype, f"Multi{gtype}".replace(
                "MultiMulti", "Multi"))


def test_fastpath_on_stations_fixture(spark):
    n = 0
    for content in _shp_records(STATIONS_SHP):
        fast = _shape_to_wkb(content)
        slow = geom_to_wkb(_parse_shape(content))
        assert fast == slow
        n += 1
    assert n == N_STATIONS


def test_z_variant_falls_back(spark, tmp_path):
    wkb = geom_to_wkb(("Point", (1.0, 2.0, 3.0)))
    out = _write_shp(spark, tmp_path, "ptz.shp", [wkb])
    contents = list(_shp_records(out))
    assert len(contents) == 1
    assert _shape_to_wkb(contents[0]) is None  # Z → tuple path
    back = spark.read.format("gdal").load(out)
    assert bytes(back.collect()[0]["geometry"]) == wkb


def test_end_to_end_read_unchanged(spark):
    src = spark.read.format("gdal").load(STATIONS_SHP)
    rows = src.select("name", "geometry").collect()
    assert len(rows) == N_STATIONS
    # spot value: every geometry decodes as a 2D point
    for r in rows:
        t, c = wkb_to_geom(bytes(r["geometry"]))
        assert t == "Point" and len(c) == 2


def test_gpkg_fast_wkb_slice_matches_parse(spark, tmp_path):
    """GPKG read fast path: the sliced embedded WKB equals the
    decode→re-encode result for every feature of a written file."""
    from polars_gdal_spark.geometry.wkb import geom_to_wkb
    from polars_gdal_spark.sources.formats.sqlite_vec import GeoPackageDriver

    wkbs = [geom_to_wkb(g) for g in GEOMS]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(wkbs)], "id bigint, geometry binary"
    )
    out = str(tmp_path / "mix.gpkg")
    # GPKG accepts mixed geometry types in one layer
    df.write.format("gdal").mode("overwrite").option("driver", "GPKG").save(out)

    drv = GeoPackageDriver()
    feats = list(drv.iter_features(out, drv.list_layers(out, {})[0], {}))
    assert len(feats) == len(GEOMS)
    got = sorted(f.wkb for f in feats)
    assert all(f.geom is None for f in feats)  # fast path fired
    assert got == sorted(wkbs)
    # and equals the decode→re-encode of every stored blob byte-for-byte
    import sqlite3

    layer = drv.list_layers(out, {})[0]
    with sqlite3.connect(out) as con:
        blobs = [
            r[0]
            for r in con.execute(
                f'SELECT "{drv._geom_col(out, layer)}" FROM "{layer}"'
            )
        ]
    slow = sorted(geom_to_wkb(drv._parse_geom(b)) for b in blobs)
    assert got == slow


def test_fgb_fast_wkb_matches_tuple_path(spark, tmp_path):
    """FlatGeobuf fast path: sliced WKB equals decode→re-encode for every
    2D type; Z geometries fall back to the tuple path."""
    from polars_gdal_spark.geometry.wkb import geom_to_wkb
    from polars_gdal_spark.sources.formats.flatgeobuf import (
        FlatGeobufDriver,
        write_fgb,
    )

    feats = [(g, {"id": i}) for i, g in enumerate(GEOMS)]
    feats.append((("Point", (1.0, 2.0, 3.0)), {"id": 99}))  # Z: tuple path
    p = str(tmp_path / "fp.fgb")
    write_fgb(p, [("id", "bigint")], iter(feats))

    d = FlatGeobufDriver()
    out = list(d.iter_features(p, "layer", {}))
    assert len(out) == len(feats)
    for f, (g, _props) in zip(out, feats):
        want = geom_to_wkb(g)
        if len(g[1]) == 3 and g[0] == "Point" and isinstance(g[1], tuple):
            # the Z point: fast path declined, tuple path produced geom
            assert f.wkb is None and geom_to_wkb(f.geom) == want
        else:
            assert f.wkb == want and f.geom is None
