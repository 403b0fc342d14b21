"""One write path: each write task encodes its own part of the output
and ``commit()`` only stitches the parts, for every ``gdal`` write driver.

The expected digests were recorded by writing the same frames through
the engine as it was before the part encoders, when ``commit()`` encoded
the layer from staged Arrow IPC parts, one feature at a time: GeoJSON,
GeoJSONSeq, CSV, FlatGeobuf, GPKG and Arrow IPC at commit ``cc2942b``;
KML, GML, GPX, MIF/MID, MapInfo TAB, DXF and PGDump at commit
``ace4e37``, every file of the output. A write with WKT geometry input
must give the file that WKB input gives. Every format must be
byte-identical to its recording, except Arrow IPC and GPKG, which must
read back identical (the IPC file's batch framing may differ). Where the
recorded commit failed on a column or a geometry, its case drops that
column or those rows: FlatGeobuf failed on a binary column, Arrow IPC on
Z and collection geometries, GPKG on a list column; GPX writes only
points and lines; MIF and DXF failed on collections and on Z beyond a
point, TAB on collections and on any Z. The ``*_now_writes_*`` tests
cover the cases the columnar formats gained.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import sqlite3
import struct

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from polars_gdal_spark.geometry import geom_to_wkb, geom_to_wkt, wkb_to_geom
from polars_gdal_spark.sinks import assemble
from polars_gdal_spark.sources.formats import find_driver

GEOMS = [
    ("Point", (1.5, 2.25)),
    ("LineString", [(0.0, 0.0), (1.0, 1.0), (2.0, 0.5)]),
    (
        "Polygon",
        [
            [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)],
            [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 1.0)],
        ],
    ),
    ("MultiPoint", [(5.0, 5.0), (-6.0, 7.5)]),
    ("MultiLineString", [[(0.0, 1.0), (1.0, 2.0)], [(3.0, 3.0), (4.0, -4.0)]]),
    ("MultiPolygon", [[[(10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 10.0)]]]),
    (
        "GeometryCollection",
        [("Point", (9.0, 9.0)), ("LineString", [(8.0, 8.0), (7.0, 6.0)])],
    ),
    ("Point", (3.0, 4.0, 5.0)),
    ("Polygon", [[(0.0, 0.0, 1.0), (1.0, 0.0, 2.0), (1.0, 1.0, 3.0), (0.0, 0.0, 1.0)]]),
    ("LineString", []),
    ("MultiPolygon", []),
    None,
]

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("val", DoubleType()),
        StructField("flag", BooleanType()),
        StructField("day", DateType()),
        StructField("ts", TimestampType()),
        StructField("blob", BinaryType()),
        StructField("tags", ArrayType(StringType())),
        StructField("geometry", BinaryType()),
    ]
)


def _rows() -> list[tuple]:
    """24 rows: every geometry twice, nulls in every column, a
    non-latin-1 string and a CSV-quoted one."""
    names = ["Zürich", "東京", None, 'a,b "q"', "plain"]
    out = []
    for i in range(24):
        g = GEOMS[i % len(GEOMS)]
        out.append(
            (
                i,
                names[i % len(names)],
                None if i % 7 == 3 else i * 0.5 + 0.1,
                None if i % 5 == 4 else bool(i % 2),
                None if i % 6 == 5 else dt.date(2020, 1, 1) + dt.timedelta(days=i),
                None
                if i % 4 == 3
                else dt.datetime(2021, 3, 4, 5, 6, 7, i * 1000, tzinfo=dt.timezone.utc),
                None if i % 3 == 2 else bytes([i, 255, 0]),
                None if i % 8 == 7 else [f"t{i}", "ü"][: 1 + i % 2],
                None if g is None else geom_to_wkb(g),
            )
        )
    return out


def _keep_all(g) -> bool:
    return True


def _located(g) -> bool:
    """A geometry with an envelope: an indexed FlatGeobuf needs one on
    every feature, or it is written unindexed."""
    return g is not None and bool(g[1])


def _flat(g) -> bool:
    """No Z and no collection."""
    return g is None or (
        g[0] != "GeometryCollection"
        and struct.unpack_from("<I", geom_to_wkb(g), 1)[0] < 1000
    )


def _point_or_line(g) -> bool:
    """What GPX writes: waypoints and tracks."""
    return g is None or g[0] in ("Point", "LineString", "MultiLineString")


def _flat_or_point(g) -> bool:
    """No collection, and Z only on a point."""
    return g is None or g[0] == "Point" or _flat(g)


#: case -> (driver, file name, options, dropped columns, row filter)
CASES = {
    "geojson": ("GeoJSON", "o.geojson", {}, (), _keep_all),
    "geojsonseq": ("GeoJSONSeq", "o.geojsonl", {}, (), _keep_all),
    "csv": ("CSV", "o.csv", {}, (), _keep_all),
    "fgb": ("FlatGeobuf", "o.fgb", {}, ("blob",), _keep_all),
    "fgb_index": ("FlatGeobuf", "o.fgb", {"spatialIndex": "true"}, ("blob",), _located),
    "arrow": ("Arrow", "o.arrow", {}, (), _flat),
    "gpkg": ("GPKG", "o.gpkg", {}, ("tags",), _keep_all),
    "kml": ("KML", "o.kml", {}, (), _keep_all),
    "gml": ("GML", "o.gml", {}, (), _keep_all),
    "gpx": ("GPX", "o.gpx", {}, (), _point_or_line),
    "mif": ("MapInfo File", "o.mif", {}, (), _flat_or_point),
    "tab": ("MapInfo TAB", "o.tab", {}, (), _flat),
    "dxf": ("DXF", "o.dxf", {}, (), _flat_or_point),
    "pgdump": ("PGDump", "o.sql", {}, (), _keep_all),
    "pgdump_insert": ("PGDump", "o.sql", {"pgUseCopy": "false"}, (), _keep_all),
}

#: the files a write leaves beside the one it is given, by its extension
SIDECARS = {".mif": (".mid",), ".tab": (".dat", ".map", ".id")}

#: case -> SHA-256 of the file (a tuple over the file and its sidecars),
#: or of ``_readback`` for Arrow IPC and GPKG, recorded for WKB input.
#: WKT input writes the same file. CSV is the exception to cc2942b: its
#: four empty geometries are now ``LINESTRING EMPTY`` /
#: ``MULTIPOLYGON EMPTY`` (``... ()`` there).
EXPECTED = {
    "geojson": "e772abfed2a62c87decd2917e758b920b8f027809db3a5b4a309b2a4f6061929",
    "geojsonseq": "bbb14ccb9b9b023ad7254541ace1ef1eacb81514016579874262d3f3bb24aa56",
    "csv": "2d5aaca756ddab97bddd7116b8a7d4c4021e210489bbab9b512fa8e42408bbc3",
    "fgb": "296b59d65ddb3934f62e7787a24f4b8dc6a9ac9698b884ede8975451e44f0de5",
    "fgb_index": "9c475f3a03415a35faa8568e03d7ee83acffb523c8897181c48428758dab50e6",
    "arrow": "9c641ceaa699c9c738e902684fe807785d9a3d3eef548392dc3f818d4e4e11bf",
    "gpkg": "fc561ee8717d2045441ff9eb2bde3a2f5a8b67d845873e58d9fb2d4ea5aa6f8d",
    # recorded at ace4e37
    "kml": "c8142ca7fe25f23f1359bf8a74b780a9039d475f24d865dcbc828407d8169f8d",
    "gml": "45612a9f8e49b717b0502a1cbe5919b0e6251f0aed8f7b64ca392a91b302f0a4",
    "gpx": "b5d20fa752905db55315b8042d8aad30955bc6ee35c59a1fef2536f9d882566a",
    "mif": (
        "0864e9aa828cd471da8628cba9677de29c97bfedd929f66026b67ee3d2e1e1ed",
        "a361d1ba6a8272a75783bfdb2f6a4a2bfdae800a429538f7f2ce39d872b13bfe",
    ),
    "tab": (
        "f8e162d3f9c9e1c49d8dcece8095a42a6a0eb791c7215bf3d2c653a5c924b743",
        "639e907414f890dd5f0e150cd67d938aae94eeecd7eee26f33827d7b0e0d89d1",
        "02cb3c658c02488c400bce0be1f524e82d50b9bfe226e1688f03da96fb3b2ea8",
        "04250d4064777a583d3614c8fee1e7d1f375e7e587f729a628500bc6560decf2",
    ),
    "dxf": "f3229ede0bc7d32b947662c23dff465f5bd0b63adadcc272493f11aa2a225861",
    "pgdump": "96090d539542ee959859e6ae9527192e6bf00bde17c3e99162445c97cc75786a",
    "pgdump_insert": "4cd167e31e4a856a7ecbc0e13c2d5b29684b59811cddf9ba62a1157ff540dc7c",
}


def _frame(spark, case: str, nparts: int, gfmt: str = "wkb"):
    """The fixture for ``case`` as ``nparts`` partitions, in row order;
    with ``gfmt="wkt"`` the geometry is WKT text."""
    _, _, _, dropped, keep = CASES[case]
    cols = [i for i, f in enumerate(SCHEMA.fields) if f.name not in dropped]
    fields = [SCHEMA.fields[i] for i in cols]
    rows = []
    for row in _rows():
        g = None if row[-1] is None else wkb_to_geom(row[-1])
        if not keep(g):
            continue
        row = [row[i] for i in cols]
        if gfmt == "wkt" and g is not None:
            row[-1] = geom_to_wkt(g)
        rows.append(tuple(row))
    if gfmt == "wkt":
        fields[-1] = StructField("geometry", StringType())
    rdd = spark.sparkContext.parallelize(rows, nparts)
    return spark.createDataFrame(rdd, StructType(fields))


def _write(df, case: str, out_dir) -> str:
    driver, name, options, _, _ = CASES[case]
    path = os.path.join(str(out_dir), name)
    df.write.format("gdal").options(driver=driver, **options).mode(
        "overwrite"
    ).save(path)
    return path


def _readback(case: str, path: str) -> str:
    """Arrow IPC: the schema, the ``geo`` metadata and every row; GPKG:
    the contents and geometry-columns rows, the stored DDL and every
    feature row."""
    if case == "arrow":
        t = pa.ipc.open_file(path).read_all()
        return json.dumps(
            [
                str(t.schema),
                t.schema.metadata[b"geo"].decode(),
                [repr(r) for r in t.to_pylist()],
            ]
        )
    con = sqlite3.connect(path)
    try:
        return json.dumps(
            [
                repr(
                    con.execute(
                        "select table_name, data_type, identifier, min_x, srs_id"
                        " from gpkg_contents"
                    ).fetchall()
                ),
                repr(con.execute("select * from gpkg_geometry_columns").fetchall()),
                [repr(r) for r in con.execute('select * from "layer"').fetchall()],
                repr(con.execute("select sql from sqlite_master").fetchall()),
            ]
        )
    finally:
        con.close()


def _files(path: str) -> list[str]:
    """The written file and its sidecars."""
    stem, ext = os.path.splitext(path)
    return [path] + [stem + s for s in SIDECARS.get(ext, ())]


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _digest(case: str, path: str):
    if case in ("arrow", "gpkg"):
        return hashlib.sha256(_readback(case, path).encode()).hexdigest()
    shas = tuple(_sha(p) for p in _files(path))
    return shas if len(shas) > 1 else shas[0]


# ------------------------------------- outputs as before the part encoders

SPARK_CASES = [(c, "wkb", n) for c in CASES for n in (1, 4)] + [
    (c, "wkt", 4) for c in CASES
]


@pytest.mark.parametrize("case,gfmt,nparts", SPARK_CASES)
def test_spark_write_matches_recorded(spark, tmp_path, case, gfmt, nparts):
    path = _write(_frame(spark, case, nparts, gfmt), case, tmp_path)
    assert _digest(case, path) == EXPECTED[case]
    assert not os.path.exists(path + ".parts.tmp")


@pytest.mark.parametrize("case", list(CASES))
def test_assemble_over_staged_parts_matches_spark_write(spark, tmp_path, case):
    """``sinks.assemble`` over IPC parts staged as four write tasks would
    gives the Spark write's output."""
    driver, name, options, _, _ = CASES[case]
    df = _frame(spark, case, 4)
    written = _write(df, case, tmp_path / "spark")
    table = df.toArrow()
    step = -(-table.num_rows // 4)
    parts = []
    for i in range(4):
        part = str(tmp_path / f"part-{i:05d}.arrow")
        with pa.OSFile(part, "wb") as sink, pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table.slice(i * step, step))
        parts.append(part)
    path = str(tmp_path / name)
    # a DataSource receives its options with lower-cased keys
    lowered = {k.lower(): v for k, v in options.items()}
    assemble(driver, parts, path, lowered, df.schema, "geometry")
    assert _digest(case, path) == _digest(case, written)
    assert sorted(os.listdir(tmp_path)) == sorted(
        [os.path.basename(p) for p in _files(path) + parts] + ["spark"]
    ), "assemble leaves no fragment behind"


# --------------------------------- row formats: four parts write as one


def _pt(x: float, y: float, *z: float) -> bytes:
    return geom_to_wkb(("Point", (x, y, *z)))


def _line(*pts) -> bytes:
    return geom_to_wkb(("LineString", list(pts)))


def _dxf_rows() -> list[tuple]:
    """20 rows: every fifth a two-point MultiPoint (two entities under
    one handle), every fifth a TEXT point, the rest lines."""
    rows = []
    for i in range(20):
        if i % 5 == 0:
            g = geom_to_wkb(("MultiPoint", [(i, 0.0), (i, 1.0)]))
        elif i % 5 == 1:
            g = _pt(i, 2.0)
        else:
            g = _line((i, 0.0), (i + 1.0, 1.0))
        rows.append((f"L{i % 3}", f"t{i}" if i % 5 == 1 else None, g))
    return rows


#: case -> (driver, file name, DDL, rows); at four partitions each part
#: holds a quarter of the rows, in order
CROSS = {
    # waypoints and tracks in every part
    "gpx": (
        "GPX", "o.gpx", "name string, geometry binary",
        [
            (f"r{i}", _pt(i, i + 0.5) if i % 2 == 0 else _line((i, 0.0), (i, 1.0)))
            for i in range(8)
        ],
    ),
    # only the last part needs UTF-8; another one holds latin-1 text
    "mif": (
        "MapInfo File", "o.mif", "name string, geometry binary",
        [
            ({2: "Zürich", 7: "東京"}.get(i, f"r{i}"), _pt(i, -i))
            for i in range(8)
        ],
    ),
    # handles run 1..20 across the parts
    "dxf": ("DXF", "o.dxf", "Layer string, Text string, geometry binary", _dxf_rows()),
    # parts of points, of lines, of Z points
    "pgdump": (
        "PGDump", "o.sql", "id bigint, geometry binary",
        [(i, _pt(i, i)) for i in range(4)]
        + [(i, _line((i, 0.0), (0.0, i))) for i in (4, 5)]
        + [(i, _pt(i, i, 1.0)) for i in (6, 7)],
    ),
    # the last part's large coordinate sets the coordinate scale
    "tab": (
        "MapInfo TAB", "o.tab", "name string, geometry binary",
        [(f"r{i}", _pt(i + 0.1234567, -i)) for i in range(7)]
        + [("far", _pt(1.0e5, 2.5))],
    ),
}


def _write_cross(spark, case: str, nparts: int, out_dir) -> str:
    driver, name, ddl, rows = CROSS[case]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, nparts), ddl)
    assert df.rdd.getNumPartitions() == nparts
    os.makedirs(out_dir)
    path = os.path.join(str(out_dir), name)
    df.write.format("gdal").option("driver", driver).mode("overwrite").save(path)
    return path


def _dxf_handles(text: str) -> list[int]:
    lines = text.splitlines()
    return [int(v, 16) for c, v in zip(lines[::2], lines[1::2]) if c == "5"]


@pytest.mark.parametrize("case", list(CROSS))
def test_four_part_write_equals_one_part_write(spark, tmp_path, case):
    one = _write_cross(spark, case, 1, tmp_path / "one")
    four = _write_cross(spark, case, 4, tmp_path / "four")
    for a, b in zip(_files(one), _files(four)):
        with open(a, "rb") as fa, open(b, "rb") as fb:
            assert fa.read() == fb.read(), os.path.basename(a)
    files = _files(four)
    if case == "gpx":
        text = open(four, encoding="utf-8").read()
        assert text.count("<wpt ") == text.count("<trk>") == 4
        assert text.rindex("<wpt ") < text.index("<trk>")
    elif case == "mif":
        assert 'Charset "UTF-8"' in open(four, encoding="utf-8").read()
        mid = open(files[1], encoding="utf-8").read()
        assert "Zürich" in mid and "東京" in mid
    elif case == "dxf":
        want = [i + 1 for i in range(20) for _ in range(2 if i % 5 == 0 else 1)]
        assert _dxf_handles(open(four, encoding="ascii").read()) == want
    elif case == "pgdump":
        sql = open(four, encoding="utf-8").read()
        assert "'wkb_geometry',4326,'GEOMETRY',3);" in sql
    else:
        with open(files[2], "rb") as f:  # the .map header's x/y scale
            f.seek(0x108)
            assert struct.unpack("<dd", f.read(16)) == (1.0e4, 1.0e4)
        back = {
            r["name"]: wkb_to_geom(bytes(r["geometry"]))[1]
            for r in spark.read.format("gdal").load(four).collect()
        }
        assert back["far"] == (1.0e5, 2.5)
        assert back["r3"] == pytest.approx((3.1234567, -3.0), abs=1e-4)


@pytest.mark.parametrize("driver,name", [("MapInfo File", "o.mif"), ("MapInfo TAB", "o.tab")])
def test_non_latin1_text_in_a_list_column_is_written_as_utf8(
    spark, tmp_path, driver, name
):
    """The charset follows the text written, not only string columns."""
    df = spark.createDataFrame(
        [(["東京"], _pt(1.0, 2.0)), (["x"], _pt(3.0, 4.0))],
        "tags array<string>, geometry binary",
    )
    path = str(tmp_path / name)
    df.write.format("gdal").option("driver", driver).mode("overwrite").save(path)
    assert "UTF-8" in open(path, encoding="utf-8").read()
    with open(_files(path)[1], "rb") as f:  # the .mid or .dat
        assert "東京".encode() in f.read()


# ---------------------------------------------- partitioned=true is NDJSON


def _ndjson_lines(out_dir) -> list[str]:
    names = sorted(n for n in os.listdir(out_dir) if n.endswith(".ndjson"))
    lines = []
    for n in names:
        with open(os.path.join(out_dir, n), encoding="utf-8") as f:
            lines += f.read().splitlines()
    return lines


def test_partitioned_parts_are_the_geojsonseq_lines(spark, tmp_path):
    df = _frame(spark, "geojsonseq", 4)
    seq = _write(df, "geojsonseq", tmp_path / "seq")
    out = tmp_path / "parts"
    df.write.format("gdal").option("partitioned", "true").mode("overwrite").save(
        str(out)
    )
    assert len(_ndjson_lines(out)) == 24
    with open(seq, encoding="utf-8") as f:
        assert _ndjson_lines(out) == f.read().splitlines()


def test_partitioned_writes_bytes_in_a_list_as_hex(spark, tmp_path):
    """Under the shared encoder, bytes nested in a list are hex, as at
    top level (the row-wise NDJSON wrote their Python repr)."""
    schema = StructType(
        [
            StructField("b", BinaryType()),
            StructField("bs", ArrayType(BinaryType())),
            StructField("geometry", BinaryType()),
        ]
    )
    row = (b"\x01\xff", [b"\x00\x02", None], geom_to_wkb(("Point", (1.0, 2.0))))
    out = tmp_path / "parts"
    spark.createDataFrame([row], schema).write.format("gdal").option(
        "partitioned", "true"
    ).mode("overwrite").save(str(out))
    (line,) = _ndjson_lines(out)
    assert json.loads(line)["properties"] == {"b": "01ff", "bs": ["0002", None]}


# ------------------------------------- cases the row encoders could not write


def test_fgb_now_writes_a_binary_column(spark, tmp_path):
    df = _frame(spark, "geojson", 4).select("id", "blob", "geometry")
    path = str(tmp_path / "o.fgb")
    df.write.format("gdal").option("driver", "FlatGeobuf").mode("overwrite").save(path)
    back = spark.read.format("gdal").load(path).orderBy("id").collect()
    assert [r["blob"] for r in back] == [r[6] for r in _rows()]


def test_arrow_now_writes_z_and_collections(spark, tmp_path):
    path = _write(_frame(spark, "geojson", 4), "arrow", tmp_path)
    t = pa.ipc.open_file(path).read_all()
    geo = json.loads(t.schema.metadata[b"geo"])["columns"]["geometry"]
    assert geo["bbox"] == [-6.0, -4.0, 11.0, 11.0]
    assert geo["geometry_types"] == sorted(
        [
            "GeometryCollection", "LineString", "MultiLineString", "MultiPoint",
            "MultiPolygon", "Point", "Point Z", "Polygon", "Polygon Z",
        ]
    )
    assert t.column("geometry").to_pylist() == [r[-1] for r in _rows()]
    assert t.column("tags").to_pylist() == [
        None if r[7] is None else str(r[7]) for r in _rows()
    ]


def test_gpkg_now_writes_a_list_column_as_json(spark, tmp_path):
    path = _write(_frame(spark, "geojson", 4), "gpkg", tmp_path)
    con = sqlite3.connect(path)
    tags = [r[0] for r in con.execute('select tags from "layer" order by fid')]
    con.close()
    assert tags == [None if r[7] is None else json.dumps(r[7]) for r in _rows()]


# ------------------------------------------------------ Arrow IPC reads


def _ipc_file(path: str, wkbs: list) -> str:
    table = pa.table(
        {"rid": pa.array(range(len(wkbs)), pa.int64()), "geometry": pa.array(wkbs, pa.binary())}
    )
    with pa.OSFile(path, "wb") as sink, pa.ipc.new_file(sink, table.schema) as w:
        w.write_table(table)
    return path


def _big_endian_point(x: float, y: float) -> bytes:
    return b"\x00" + struct.pack(">I", 1) + struct.pack(">2d", x, y)


def test_arrow_ipc_hands_over_canonical_wkb(tmp_path):
    wkbs = [geom_to_wkb(g) if g else None for g in GEOMS]
    wkbs.append(_big_endian_point(1.0, 2.0))
    path = _ipc_file(str(tmp_path / "g.arrow"), wkbs)
    feats = list(find_driver(path).iter_features(path, "g", {}))
    for f, w in zip(feats[:-1], wkbs):
        assert f.geom is None and f.wkb == w
    assert feats[-1].wkb is None and feats[-1].geom == ("Point", (1.0, 2.0))


@pytest.mark.parametrize("gfmt", ["wkb", "wkt", "geojson"])
def test_arrow_ipc_reads_every_geometry_format(spark, tmp_path, gfmt):
    from polars_gdal_spark.geometry import geom_to_geojson

    geoms = [g for g in GEOMS if g is None or g[1]]
    wkbs = [geom_to_wkb(g) if g else None for g in geoms]
    wkbs.append(_big_endian_point(1.0, 2.0))
    geoms.append(("Point", (1.0, 2.0)))
    path = _ipc_file(str(tmp_path / "g.arrow"), wkbs)
    rows = (
        spark.read.format("gdal").option("geometryFormat", gfmt).load(path)
        .orderBy("rid").collect()
    )
    encode = {
        "wkb": geom_to_wkb,
        "wkt": geom_to_wkt,
        "geojson": lambda g: json.dumps(geom_to_geojson(g)),
    }[gfmt]
    got = [r["geometry"] for r in rows]
    assert [bytes(g) if isinstance(g, bytearray) else g for g in got] == [
        None if g is None else encode(g) for g in geoms
    ]


# ------------------------------------------------- pushed filters on NaN


@pytest.mark.parametrize("value", [5.0, float("nan")])
@pytest.mark.parametrize("op", [">", ">=", "<", "<=", "="])
def test_pushed_filter_orders_nan_as_spark(spark, tmp_path, op, value):
    path = str(tmp_path / "nan.arrow")
    table = pa.table(
        {
            "rid": pa.array([1, 2, 3], pa.int64()),
            "val": pa.array([1.0, math.nan, 9.0], pa.float64()),
            "geometry": pa.array(
                [geom_to_wkb(("Point", (float(i), 0.0))) for i in range(3)], pa.binary()
            ),
        }
    )
    with pa.OSFile(path, "wb") as sink, pa.ipc.new_file(sink, table.schema) as w:
        w.write_table(table)
    cond = {
        ">": F.col("val") > value,
        ">=": F.col("val") >= value,
        "<": F.col("val") < value,
        "<=": F.col("val") <= value,
        "=": F.col("val") == value,
    }[op]

    def rids(pushdown: str) -> list[int]:
        df = spark.read.format("gdal").option("pushdown", pushdown).load(path)
        return sorted(r["rid"] for r in df.filter(cond).collect())

    assert rids("true") == rids("false")
