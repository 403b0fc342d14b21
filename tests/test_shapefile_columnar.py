"""Shapefile writes: each write task encodes its own ``.shp`` records and
``.dbf`` records, and ``commit()`` only stitches them.

The single-shape-type subsets of the ``test_columnar_sinks`` fixture are
written through Spark at 1 and 4 partitions, with WKB input and (at 4)
WKT input. The expected digests were recorded at commit ``d28c6f1``,
whose ``commit()`` encoded the whole layer from staged Arrow IPC parts,
one feature at a time, with every DBF ``C`` field 254 bytes wide.
``.shp``, ``.shx``, ``.prj`` and ``.cpg`` must be byte-identical to it;
the ``.dbf`` must read back identical, with each ``C`` field as wide as
its widest encoded value.
"""

from __future__ import annotations

import hashlib
import os
import struct

import pyarrow as pa
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from polars_gdal_spark.geometry import geom_to_wkb, geom_to_wkt, wkb_to_geom
from polars_gdal_spark.sinks import assemble
from polars_gdal_spark.sinks.shapefile_writer import _shape_content
from polars_gdal_spark.sources.formats.shapefile import ShapefileDriver
from tests.test_columnar_sinks import SCHEMA, _rows

#: subset -> the shape code its geometries write as
SUBSETS = {
    "point": 1,
    "polyline": 3,
    "polygon": 5,
    "multipoint": 8,
    "pointz": 11,
    "polygonz": 15,
}

#: subset -> SHA-256 recorded at d28c6f1 of .shp, .shx, .prj, .cpg, and
#: of the .dbf read back (``_dbf_rows``); the same for every partition
#: count and geometry input
EXPECTED = {
    "point": [
        "6ed0b99fd88ff79a2445233dfa1d5d4647e8696bbad490f5c1e7091ba2e06d7b",
        "310859466864084f8a37cd9d8dbf0b472bfe222866911d3dd34bca0f9acf049e",
        "a02a27b1d1982c8516d83398e85a3c8b1aef1713c13ef4d84d7bde17430c07c4",
        "3ad3031f5503a4404af825262ee8232cc04d4ea6683d42c5dd0a2f2a27ac9824",
        "fe8ed7f0fd728496c345f7443c84da75eb3862b833e053275a38f931736a6560",
    ],
    "polyline": [
        "50200a0b52e9dd0cdee640d6b34df647e8433dd0007191d2737cb964dd2bef47",
        "b9a8e3ffdf37ac07f3a185ad2710aa30284f5ef663c8e0270340e2b3c8a45d39",
        "a02a27b1d1982c8516d83398e85a3c8b1aef1713c13ef4d84d7bde17430c07c4",
        "3ad3031f5503a4404af825262ee8232cc04d4ea6683d42c5dd0a2f2a27ac9824",
        "7a2a9cacd2f971c399f0ecac1444655ef8e8181dc32485d9cbd028066b36fdcb",
    ],
    "polygon": [
        "2d7c92ed0983fcf4f978748e1bd39c4b2599df4178d67415acd788f2347761ae",
        "3eaf3dc4d930f9fcf82de8b71ac2f71057134c4474d4a561fabb621fbc499033",
        "a02a27b1d1982c8516d83398e85a3c8b1aef1713c13ef4d84d7bde17430c07c4",
        "3ad3031f5503a4404af825262ee8232cc04d4ea6683d42c5dd0a2f2a27ac9824",
        "1a4006cf4993ad3b3b6ddc20ddae52c63b496acc5364450e28e9846ed437656c",
    ],
    "multipoint": [
        "5a2b29a7336f9cd4ae168e61409c2da06e47416b8dcb0b9f6a82b36053bcdd37",
        "ce1e6a89fa4dc11a9d5fc5c63248b004b84ed0a28e3fd80910e01faad96ac414",
        "a02a27b1d1982c8516d83398e85a3c8b1aef1713c13ef4d84d7bde17430c07c4",
        "3ad3031f5503a4404af825262ee8232cc04d4ea6683d42c5dd0a2f2a27ac9824",
        "2cf4492cb2286d5496dabe598b4e9b969f796af5ddf86036741cd46b7ecb9fc8",
    ],
    "pointz": [
        "da3ea72d03fa23361b245fd4c1166785c2e66494b62ee8a2fb6976ff6279457f",
        "2402bfc27879333dced0c89def4c7a93d126959c6dea5b5e55335c9a58beaa96",
        "a02a27b1d1982c8516d83398e85a3c8b1aef1713c13ef4d84d7bde17430c07c4",
        "3ad3031f5503a4404af825262ee8232cc04d4ea6683d42c5dd0a2f2a27ac9824",
        "159781c0e6e4cdc9f89b139dcbde790cf04b2ceae5695171e4168b2b971edf74",
    ],
    "polygonz": [
        "618bd0fa15a739e7695d7420a7334a2839a53698a45ad48d250e7c6b8e935b2c",
        "2e173dfa08fc9ddbbc22cd10ceed3d98ef433fc0d42f71a19a898c076f30423e",
        "a02a27b1d1982c8516d83398e85a3c8b1aef1713c13ef4d84d7bde17430c07c4",
        "3ad3031f5503a4404af825262ee8232cc04d4ea6683d42c5dd0a2f2a27ac9824",
        "19ac9f79bfdc07c234ae7fac82a7b11cf95a7b59ac3e9db9b70e88757d91d785",
    ],
}


def _code(g) -> int | None:
    """Shape code a fixture geometry writes as; None for a null geometry
    and -1 for what no shapefile holds (collections, empties)."""
    if g is None:
        return None
    if g[0] == "GeometryCollection" or not g[1]:
        return -1
    return struct.unpack_from("<i", _shape_content(g))[0]


def _frame(spark, subset: str, nparts: int, gfmt: str = "wkb"):
    """The fixture rows whose geometry writes as ``subset``'s shape code,
    plus the null-geometry rows, as ``nparts`` partitions in row order."""
    fields = list(SCHEMA.fields)
    rows = []
    for row in _rows():
        g = None if row[-1] is None else wkb_to_geom(row[-1])
        if _code(g) not in (None, SUBSETS[subset]):
            continue
        row = list(row)
        if gfmt == "wkt" and g is not None:
            row[-1] = geom_to_wkt(g)
        rows.append(tuple(row))
    if gfmt == "wkt":
        fields[-1] = StructField("geometry", StringType())
    rdd = spark.sparkContext.parallelize(rows, nparts)
    return spark.createDataFrame(rdd, StructType(fields))


def _write(df, path: str) -> str:
    df.write.format("gdal").option("driver", "ESRI Shapefile").mode(
        "overwrite"
    ).save(path)
    return path


def _dbf(path: str):
    return ShapefileDriver()._dbf(path)


def _dbf_rows(path: str) -> str:
    """The .dbf as a reader sees it: encoding, field names, types and
    decimals (not widths), and every record."""
    dbf = _dbf(path)
    return repr(
        [
            dbf.encoding,
            [(n, t, d) for n, t, _, d in dbf.fields],
            list(dbf.read_range(0, dbf.n_records)),
        ]
    )


def _digests(path: str) -> list[str]:
    stem = os.path.splitext(path)[0]
    out = []
    for ext in (".shp", ".shx", ".prj", ".cpg"):
        with open(stem + ext, "rb") as f:
            out.append(hashlib.sha256(f.read()).hexdigest())
    out.append(hashlib.sha256(_dbf_rows(path).encode()).hexdigest())
    return out


def _c_widths_fit(path: str) -> None:
    """Each C field is exactly as wide as its widest encoded value (at
    least 1); every other field keeps its fixed width."""
    dbf = _dbf(path)
    rows = list(dbf.read_range(0, dbf.n_records))
    fixed = {"N": (18, 24), "L": (1,), "D": (8,)}
    for name, ftype, length, _ in dbf.fields:
        if ftype != "C":
            assert length in fixed[ftype], name
            continue
        widest = max(
            (len(r[name].encode(dbf.encoding)) for r in rows if r[name]), default=1
        )
        assert length == widest, name


SPARK_CASES = [(s, "wkb", n) for s in SUBSETS for n in (1, 4)] + [
    (s, "wkt", 4) for s in SUBSETS
]


@pytest.mark.parametrize("subset,gfmt,nparts", SPARK_CASES)
def test_spark_write_matches_recorded(spark, tmp_path, subset, gfmt, nparts):
    path = _write(_frame(spark, subset, nparts, gfmt), str(tmp_path / "o.shp"))
    assert _digests(path) == EXPECTED[subset]
    _c_widths_fit(path)
    assert not os.path.exists(path + ".parts.tmp")


# ------------------------------------------------------- DBF text fields


def _text_frame(spark, labels: list, nparts: int):
    """One row per label (id, label, a 2D point), ``nparts`` partitions."""
    rows = [
        (i, s, geom_to_wkb(("Point", (float(i), 0.5))))
        for i, s in enumerate(labels)
    ]
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("label", StringType()),
            StructField("geometry", SCHEMA["geometry"].dataType),
        ]
    )
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, nparts), schema)


def _field(path: str, name: str):
    return next(f for f in _dbf(path).fields if f[0] == name)


def _read(path: str) -> list[dict]:
    dbf = _dbf(path)
    return list(dbf.read_range(0, dbf.n_records))


def _file(path: str, ext: str) -> bytes:
    with open(os.path.splitext(path)[0] + ext, "rb") as f:
        return f.read()


def test_one_utf8_part_makes_the_layer_utf8(spark, tmp_path):
    """Only the third of four parts holds a value latin-1 cannot encode:
    the layer is UTF-8, the latin-1 parts are re-encoded, and the .dbf
    is the one a single-part write gives."""
    labels = ["Zürich", "plain", "東京", "café au lait"]
    four = _write(_text_frame(spark, labels, 4), str(tmp_path / "four.shp"))
    one = _write(_text_frame(spark, labels, 1), str(tmp_path / "one.shp"))
    assert _file(four, ".cpg") == b"UTF-8"
    assert _dbf(four).encoding == "utf-8"
    assert [r["label"] for r in _read(four)] == labels
    assert _field(four, "label")[2] == len("café au lait".encode())
    for ext in (".shp", ".shx", ".dbf", ".cpg", ".prj"):
        assert _file(four, ext) == _file(one, ext), ext


def test_latin1_parts_stay_latin1(spark, tmp_path):
    labels = ["Zürich", "plain", "crème", "x"]
    path = _write(_text_frame(spark, labels, 4), str(tmp_path / "l1.shp"))
    assert _file(path, ".cpg") == b"ISO-8859-1"
    assert [r["label"] for r in _read(path)] == labels
    assert _field(path, "label")[2] == 6


def test_long_values_truncate_on_a_character_boundary(spark, tmp_path):
    """254 bytes at most: 300 'é' keep 127 (254 UTF-8 bytes), 100 '東'
    keep 84 (252 bytes), whichever part encoded them first."""
    labels = ["é" * 300, "東" * 100]
    path = _write(_text_frame(spark, labels, 2), str(tmp_path / "long.shp"))
    assert _field(path, "label")[2] == 254
    assert [r["label"] for r in _read(path)] == ["é" * 127, "東" * 84]
    alone = _write(_text_frame(spark, labels[1:], 1), str(tmp_path / "cjk.shp"))
    assert _field(alone, "label")[2] == 252


def test_all_null_text_column_is_one_byte_wide(spark, tmp_path):
    path = _write(_text_frame(spark, [None, None, None], 2), str(tmp_path / "n.shp"))
    assert _field(path, "label")[1:3] == ("C", 1)
    back = spark.read.format("gdal").load(path)
    assert back.schema["label"].dataType == StringType()
    assert [r["label"] for r in back.orderBy("id").collect()] == [None] * 3


# ------------------------------------------------------ mixed shape codes


def _mixed_frame(spark, nparts: int):
    geoms = [
        ("Point", (1.0, 2.0)),
        ("Point", (3.0, 4.0)),
        ("LineString", [(0.0, 0.0), (1.0, 1.0)]),
        ("LineString", [(2.0, 2.0), (3.0, 1.0)]),
    ]
    rows = [(i, geom_to_wkb(g)) for i, g in enumerate(geoms)]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, nparts), "id bigint, geometry binary"
    )


@pytest.mark.parametrize("nparts", [1, 2], ids=["within_a_part", "across_parts"])
def test_mixed_shape_codes_fail_naming_both(spark, tmp_path, nparts):
    path = str(tmp_path / "mixed.shp")
    with pytest.raises(Exception) as ei:
        _write(_mixed_frame(spark, nparts), path)
    msg = str(ei.value)
    assert "single geometry type" in msg
    assert "shape code 1," in msg and ("got 3" in msg or "another 3" in msg)
    assert not os.path.exists(path)
    assert not os.path.exists(path + ".parts.tmp")


# ------------------------------------------- sinks.assemble, one code path


@pytest.mark.parametrize("subset", ["point", "polygonz"])
def test_assemble_over_staged_parts_matches_spark_write(spark, tmp_path, subset):
    df = _frame(spark, subset, 4)
    written = _write(df, str(tmp_path / "spark" / "o.shp"))
    table = df.toArrow()
    step = -(-table.num_rows // 4)
    parts = []
    for i in range(4):
        part = str(tmp_path / f"part-{i:05d}.arrow")
        with pa.OSFile(part, "wb") as sink, pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table.slice(i * step, step))
        parts.append(part)
    path = str(tmp_path / "o.shp")
    assemble("ESRI Shapefile", parts, path, {}, df.schema, "geometry")
    for ext in (".shp", ".shx", ".dbf", ".prj", ".cpg"):
        assert _file(path, ext) == _file(written, ext), ext
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["spark"] + [f"o{e}" for e in (".shp", ".shx", ".dbf", ".prj", ".cpg")]
        + [os.path.basename(p) for p in parts]
    ), "assemble leaves no fragment behind"
