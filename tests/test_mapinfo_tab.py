"""MapInfo TAB binary family (.tab/.dat/.map/.id) tests.

Reference reads/writes MapInfo native tables via GDAL's "MapInfo File"
driver (README.md:9); ours is a from-spec implementation (public MITAB
format description — see sources/formats/mapinfo_tab.py docstring).

Covers: write→read round-trip of every geometry type, binary .dat
attribute decoding (Integer/Smallint/Float/Logical/Date/Char incl.
UTF-8), a hand-built raw-bytes fixture (reader tested independently of
our own writer), multi-block coordinate spanning, .map-less
attribute-only reads, and range splits.
"""

from __future__ import annotations

import datetime
import os
import struct

import pytest

from polars_gdal_spark.geometry import geojson_to_geom, geom_to_wkb, wkb_to_geom


def _wkb(gj):
    return bytearray(geom_to_wkb(geojson_to_geom(gj)))


@pytest.fixture()
def geoms_df(spark):
    rows = [
        ("pt", _wkb({"type": "Point", "coordinates": [10.5, 20.25]})),
        ("seg", _wkb({"type": "LineString", "coordinates": [[5.0, 5.0], [7.0, 7.0]]})),
        ("pline", _wkb({"type": "LineString", "coordinates": [[0.0, 0.0], [1.5, 1.0], [2.0, 0.0]]})),
        ("mpt", _wkb({"type": "MultiPoint", "coordinates": [[1.0, 2.0], [3.0, 4.0]]})),
        ("poly", _wkb({"type": "Polygon", "coordinates": [
            [[0, 0], [8, 0], [8, 8], [0, 8], [0, 0]],
            [[2, 2], [6, 2], [6, 6], [2, 6], [2, 2]],
        ]})),
        ("mline", _wkb({"type": "MultiLineString", "coordinates": [
            [[0, 0], [1, 1]], [[2, 2], [3, 3], [4, 2]],
        ]})),
        ("none", None),
    ]
    return spark.createDataFrame(rows, "name string, geometry binary")


def test_tab_geometry_roundtrip(spark, geoms_df, tmp_path):
    out = str(tmp_path / "shapes.tab")
    geoms_df.write.format("gdal").mode("overwrite").option(
        "driver", "MapInfo File"
    ).save(out)
    for ext in (".tab", ".dat", ".map", ".id"):
        assert os.path.exists(str(tmp_path / f"shapes{ext}"))
    back = spark.read.format("gdal").load(out)
    got = {r["name"]: r["geometry"] for r in back.collect()}
    want = {r["name"]: r["geometry"] for r in geoms_df.collect()}
    assert set(got) == set(want)
    assert got["none"] is None
    # coords in the fixture have <=2 decimals -> exact through the
    # 10^7 integer coordinate space
    for k in ("pt", "seg", "pline", "mpt", "poly", "mline"):
        assert bytes(got[k]) == bytes(want[k]), k


def test_tab_attribute_types_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("café☃", 1234567, 3.5, True, datetime.date(2021, 7, 4),
             _wkb({"type": "Point", "coordinates": [1.0, 1.0]})),
            ("plain", -42, -0.25, False, datetime.date(1999, 12, 31),
             _wkb({"type": "Point", "coordinates": [2.0, 2.0]})),
        ],
        "name string, n bigint, x double, ok boolean, d date, "
        "geometry binary",
    )
    out = str(tmp_path / "attrs.tab")
    df.write.format("gdal").mode("overwrite").save(out)  # sniffed by ext
    back = spark.read.format("gdal").load(out)
    assert [f.name for f in back.schema.fields] == [
        "name", "n", "x", "ok", "d", "geometry"
    ]
    rows = {r["name"]: r for r in back.collect()}
    assert rows["café☃"]["n"] == 1234567
    assert rows["café☃"]["x"] == 3.5
    assert rows["café☃"]["ok"] is True
    assert rows["café☃"]["d"] == datetime.date(2021, 7, 4)
    assert rows["plain"]["n"] == -42
    assert rows["plain"]["ok"] is False
    assert rows["plain"]["d"] == datetime.date(1999, 12, 31)
    # UTF-8 charset declared because of 'café'
    assert "utf-8" in open(out, encoding="latin-1").read().lower()


def test_tab_stations_roundtrip(spark, tmp_path):
    from tests.conftest import N_STATIONS, STATIONS_SHP

    stations = spark.read.format("gdal").load(STATIONS_SHP)
    out = str(tmp_path / "stations.tab")
    stations.write.format("gdal").mode("overwrite").save(out)
    back = spark.read.format("gdal").load(out)
    assert back.count() == N_STATIONS
    assert sorted(r["name"] for r in back.collect()) == sorted(
        r["name"] for r in stations.collect()
    )
    # coordinates quantize through the integer space: approx, not exact
    src = {r["name"]: wkb_to_geom(bytes(r["geometry"]))
           for r in stations.collect()}
    for r in back.collect():
        t, c = wkb_to_geom(bytes(r["geometry"]))
        st, sc = src[r["name"]]
        assert t == st == "Point"
        assert c[0] == pytest.approx(sc[0], abs=1e-6)
        assert c[1] == pytest.approx(sc[1], abs=1e-6)


def test_tab_multiblock_coord_spanning(spark, tmp_path):
    """A polyline with >63 vertices overflows one 504-byte coord block;
    the reader must follow the next-block pointer."""
    n = 300
    coords = [[float(i), float(i % 7)] for i in range(n)]
    df = spark.createDataFrame(
        [("long", _wkb({"type": "LineString", "coordinates": coords}))],
        "name string, geometry binary",
    )
    out = str(tmp_path / "long.tab")
    df.write.format("gdal").mode("overwrite").save(out)
    assert os.path.getsize(str(tmp_path / "long.map")) > 512 * 5
    back = spark.read.format("gdal").load(out)
    [row] = back.collect()
    t, pts = wkb_to_geom(bytes(row["geometry"]))
    assert t == "LineString" and len(pts) == n
    assert list(pts[137]) == [137.0, 137 % 7 * 1.0]


def test_tab_without_map_is_attribute_only(spark, geoms_df, tmp_path):
    out = str(tmp_path / "nomap.tab")
    geoms_df.write.format("gdal").mode("overwrite").save(out)
    os.remove(str(tmp_path / "nomap.map"))
    back = spark.read.format("gdal").load(out)
    assert back.count() == 7
    assert all(r["geometry"] is None for r in back.collect())


def test_tab_sibling_files_allowlist(spark, geoms_df, tmp_path):
    out = str(tmp_path / "sib.tab")
    geoms_df.write.format("gdal").mode("overwrite").save(out)
    back = (
        spark.read.format("gdal")
        .option("sibling_files", "sib.tab,sib.dat")  # excludes .map/.id
        .load(out)
    )
    assert all(r["geometry"] is None for r in back.collect())


def test_tab_split_ranges(spark, geoms_df, tmp_path):
    """Ranges partition the record space exactly once, and each range
    reads independently with an O(1) seek (the shapefile contract)."""
    from polars_gdal_spark.sources.formats.mapinfo_tab import MapInfoTabDriver

    out = str(tmp_path / "split.tab")
    geoms_df.write.format("gdal").mode("overwrite").save(out)
    d = MapInfoTabDriver()
    ranges = d.split_ranges(out, "split", {}, 3)
    assert ranges is not None
    assert ranges[0][0] == 0 and ranges[-1][1] == 7
    seen = []
    for s, e in ranges:
        seen += [f.fid for f in d.iter_features(out, "split", {}, s, e)]
    assert seen == list(range(7))
    full = list(d.iter_features(out, "split", {}))
    assert [f.props["name"] for f in full] == [
        "pt", "seg", "pline", "mpt", "poly", "mline", "none"
    ]


def _raw_fixture(tmp_path):
    """Hand-assembled byte-level fixture (independent of our writer):
    two records — ('alpha', 7, Point(3.5, -2.25)) and ('beta', -1, no
    geometry) — in the documented layout."""
    base = str(tmp_path / "raw")
    with open(base + ".tab", "w") as f:
        f.write(
            "!table\n!version 300\n!charset Neutral\n\n"
            "Definition Table\n"
            '  Type NATIVE Charset "Neutral"\n'
            "  Fields 2\n"
            "    name Char (5) ;\n"
            "    n Integer ;\n"
        )
    # .dat: header(32) + 2 descriptors(64) + 0x0D + records
    head = bytearray(32)
    head[0] = 0x03
    struct.pack_into("<I", head, 4, 2)       # 2 records
    struct.pack_into("<H", head, 8, 32 + 64 + 1)
    struct.pack_into("<H", head, 10, 1 + 5 + 4)
    d1 = bytearray(32); d1[0:4] = b"name"; d1[11] = ord("C"); d1[16] = 5
    d2 = bytearray(32); d2[0:1] = b"n"; d2[11] = ord("C"); d2[16] = 4
    rec1 = b" " + b"alpha" + struct.pack("<i", 7)
    rec2 = b" " + b"beta " + struct.pack("<i", -1)
    with open(base + ".dat", "wb") as f:
        f.write(bytes(head) + bytes(d1) + bytes(d2) + b"\x0d" + rec1 + rec2)
    # .map: header block + one object block holding a SYMBOL at int
    # coords (scale 100, displ 0): (350, -225)
    hdr = bytearray(512)
    struct.pack_into("<i", hdr, 0x100, 42424242)
    struct.pack_into("<hh", hdr, 0x104, 300, 512)
    struct.pack_into("<dddd", hdr, 0x108, 100.0, 100.0, 0.0, 0.0)
    struct.pack_into("<i", hdr, 0x128, 1)
    struct.pack_into("<iiii", hdr, 0x12C, 350, -225, 350, -225)
    obj = bytearray(8)
    struct.pack_into("<h", obj, 0, 2)
    body = bytes([0x02]) + struct.pack("<i", 1) + struct.pack(
        "<ii", 350, -225
    ) + b"\x01"
    obj += body
    struct.pack_into("<h", obj, 2, len(obj))
    with open(base + ".map", "wb") as f:
        f.write(bytes(hdr) + bytes(obj).ljust(512, b"\x00"))
    with open(base + ".id", "wb") as f:
        f.write(struct.pack("<ii", 512 + 8, 0))
    return base + ".tab"


def test_tab_raw_bytes_fixture(spark, tmp_path):
    path = _raw_fixture(tmp_path)
    df = spark.read.format("gdal").load(path)
    assert df.columns == ["name", "n", "geometry"]
    rows = {r["name"]: r for r in df.collect()}
    assert rows["alpha"]["n"] == 7
    t, c = wkb_to_geom(bytes(rows["alpha"]["geometry"]))
    assert t == "Point" and list(c) == [3.5, -2.25]
    assert rows["beta"]["n"] == -1
    assert rows["beta"]["geometry"] is None


def test_tab_bad_magic_raises(tmp_path):
    from polars_gdal_spark.sources.formats.mapinfo_tab import MapFile

    p = str(tmp_path / "bad.map")
    with open(p, "wb") as f:
        f.write(b"\x00" * 512)
    with pytest.raises(ValueError, match="magic"):
        MapFile(p)
