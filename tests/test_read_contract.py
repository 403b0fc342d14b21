"""The driver read contract: one range-aware ``iter_features`` per
driver, and the reader alone choosing the geometry encoding.

Every fixture is written with the engine's own writers into ``tmp_path``;
reads go through the drivers and the ``gdal`` reader in process.
"""

from __future__ import annotations

import json
import os
import zipfile

import pyarrow as pa
import pytest
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from polars_gdal_spark.geometry import (
    geom_bounds,
    geom_to_geojson,
    geom_to_wkb,
    geom_to_wkt,
)
from polars_gdal_spark.sinks import assemble
from polars_gdal_spark.sources.datasource import GdalDataSource
from polars_gdal_spark.sources.formats import find_driver
from tests.conftest import DATA_DIR

SCHEMA = StructType(
    [
        StructField("rid", LongType()),
        StructField("name", StringType()),
        StructField("val", DoubleType()),
        StructField("geometry", BinaryType()),
    ]
)


def _write(tmp_path, driver: str, path: str, geoms: list[tuple]) -> str:
    """Write ``geoms`` (with three attributes) through ``sinks.assemble``
    from a staged Arrow IPC part, as the writer's commit does."""
    n = len(geoms)
    table = pa.table(
        {
            "rid": pa.array(range(n), pa.int64()),
            "name": [f"f{i}" for i in range(n)],
            "val": [i * 0.25 for i in range(n)],
            "geometry": pa.array([geom_to_wkb(g) for g in geoms], pa.binary()),
        }
    )
    part = str(tmp_path / f"part-{os.path.basename(path)}.arrow")
    with pa.OSFile(part, "wb") as sink, pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    assemble(driver, [part], path, {}, SCHEMA, "geometry")
    return path


# --------------------------------------------------- ranged == whole read

#: a driver splits a layer of any size; the reader's MIN_SPLIT_FEATURES
#: floor is tested in test_split_plan.py
N_POINTS = 9000
RANGE_FORMATS = ["shp", "gpkg", "arrow", "csv", "ndjson", "tab", "vrt", "zip"]


def _range_fixture(tmp_path, fmt: str) -> tuple[str, dict]:
    pts = [("Point", (i * 0.01 - 40.0, (i % 97) * 0.5)) for i in range(N_POINTS)]
    simple = {
        "shp": ("ESRI Shapefile", "pts.shp"),
        "gpkg": ("GPKG", "pts.gpkg"),
        "arrow": ("Arrow", "pts.arrow"),
        "csv": ("CSV", "pts.csv"),
        "ndjson": ("GeoJSONSeq", "pts.geojsonl"),
        "tab": ("MapInfo File", "pts.tab"),
    }
    if fmt in simple:
        driver, name = simple[fmt]
        opts = {"geom_possible_names": "geometry"} if fmt == "csv" else {}
        return _write(tmp_path, driver, str(tmp_path / name), pts), opts
    shp = _write(tmp_path, "ESRI Shapefile", str(tmp_path / "pts.shp"), pts)
    if fmt == "vrt":
        path = str(tmp_path / "pts.vrt")
        with open(path, "w") as f:
            f.write(
                '<OGRVRTDataSource><OGRVRTLayer name="pts">'
                '<SrcDataSource relativeToVRT="1">pts.shp</SrcDataSource>'
                "</OGRVRTLayer></OGRVRTDataSource>"
            )
        return path, {}
    path = str(tmp_path / "pts.zip")
    with zipfile.ZipFile(path, "w") as z:
        for ext in (".shp", ".shx", ".dbf"):
            z.write(shp[:-4] + ext, "pts" + ext)
    return path, {}


def _key(feat) -> tuple:
    geom = feat.wkb if feat.wkb is not None else geom_to_wkb(feat.geom)
    return feat.fid, feat.props, geom


@pytest.mark.parametrize("fmt", RANGE_FORMATS)
def test_ranged_reads_concatenate_to_whole_read(tmp_path, fmt):
    path, opts = _range_fixture(tmp_path, fmt)
    drv = find_driver(path)
    layer = drv.list_layers(path, opts)[0]
    ranges = drv.split_ranges(path, layer, opts, 3)
    assert ranges is not None and len(ranges) == 3
    whole = [_key(f) for f in drv.iter_features(path, layer, opts)]
    ranged = [
        _key(f)
        for s, e in ranges
        for f in drv.iter_features(path, layer, opts, s, e)
    ]
    assert len(whole) == N_POINTS
    assert ranged == whole


# ------------------------------------- the reader picks the encoding

#: 2D shapes every one of the three formats stores as canonical WKB
POLYS = [
    ("Polygon", [[(0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0), (0.0, 0.0)]]),
    (
        "Polygon",
        [
            [(10.0, 10.0), (10.0, 20.0), (20.0, 20.0), (20.0, 10.0), (10.0, 10.0)],
            [(12.0, 12.0), (14.0, 12.0), (14.0, 14.0), (12.0, 14.0), (12.0, 12.0)],
        ],
    ),
    (
        "MultiPolygon",
        [
            [[(-5.0, -5.0), (-5.0, -3.0), (-3.0, -3.0), (-3.0, -5.0), (-5.0, -5.0)]],
            [[(30.0, 1.0), (30.0, 2.0), (31.0, 2.0), (31.0, 1.0), (30.0, 1.0)]],
        ],
    ),
    ("Polygon", [[(1.0, 30.0), (1.0, 31.0), (2.0, 31.0), (2.0, 30.0), (1.0, 30.0)]]),
]
BBOX = (-1.0, -1.0, 15.0, 15.0)


def _tuple_parse(monkeypatch, fmt: str, path: str) -> dict:
    """fid → geometry tuple from the driver's own parser, with its
    direct-to-WKB encoder switched off."""
    from polars_gdal_spark.sources.formats import flatgeobuf, shapefile
    from polars_gdal_spark.sources.formats.sqlite_vec import GeoPackageDriver

    drv = find_driver(path)
    layer = drv.list_layers(path, {})[0]
    # the encoder is on by default: every feature arrives as WKB
    assert all(f.wkb is not None for f in drv.iter_features(path, layer, {}))
    with monkeypatch.context() as m:
        if fmt == "shp":
            m.setattr(shapefile, "_shape_to_wkb", lambda content: None)
        elif fmt == "gpkg":
            m.setattr(GeoPackageDriver, "_fast_wkb", lambda self, blob: None)
        else:
            m.setattr(flatgeobuf, "_decode_geom_wkb", lambda t, gt: None)
        feats = list(drv.iter_features(path, layer, {}))
    assert all(f.wkb is None and f.geom is not None for f in feats)
    return {f.fid: f.geom for f in feats}


def _read(path: str, gfmt: str, bbox=None) -> dict:
    """fid → geometry cell of an in-process ``gdal`` read."""
    opts = {"path": path, "geometryformat": gfmt, "fidcolumn": "fid"}
    if bbox is not None:
        opts["bbox"] = ",".join(map(str, bbox))
    ds = GdalDataSource(opts)
    reader = ds.reader(ds.schema())
    out = {}
    for part in reader.partitions():
        for batch in reader.read(part):
            for row in batch.to_pylist():
                out[row["fid"]] = row["geometry"]
    return out


@pytest.mark.parametrize(
    "fmt,driver",
    [("shp", "ESRI Shapefile"), ("gpkg", "GPKG"), ("fgb", "FlatGeobuf")],
)
def test_reader_encodes_the_drivers_parse(tmp_path, monkeypatch, fmt, driver):
    path = _write(tmp_path, driver, str(tmp_path / f"polys.{fmt}"), POLYS)
    parsed = _tuple_parse(monkeypatch, fmt, path)
    assert len(parsed) == len(POLYS)
    encoders = {
        "wkb": geom_to_wkb,
        "wkt": geom_to_wkt,
        "geojson": lambda g: json.dumps(geom_to_geojson(g)),
    }
    for gfmt, enc in encoders.items():
        assert _read(path, gfmt) == {fid: enc(g) for fid, g in parsed.items()}

    def hits(g):
        mnx, mny, mxx, mxy = geom_bounds(g)
        return not (mxx < BBOX[0] or mnx > BBOX[2] or mxy < BBOX[1] or mny > BBOX[3])

    want = {fid: geom_to_wkt(g) for fid, g in parsed.items() if hits(g)}
    assert 0 < len(want) < len(parsed)
    assert _read(path, "wkt", BBOX) == want


# ------------------------------------------------------ reader satellites


def test_bbox_read_excludes_empty_geometries(tmp_path):
    """An empty geometry has no envelope: a bbox read drops it, as
    GDAL's OGRLayer::FilterGeometry does, instead of failing."""
    path = str(tmp_path / "empty.geojson")
    doc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"n": 0},
                "geometry": {"type": "MultiPoint", "coordinates": []},
            },
            {
                "type": "Feature",
                "properties": {"n": 1},
                "geometry": {"type": "Point", "coordinates": [1.0, 1.0]},
            },
        ],
    }
    with open(path, "w") as f:
        json.dump(doc, f)
    assert _read(path, "wkt", (0, 0, 2, 2)) == {1: "POINT (1 1)"}


@pytest.mark.parametrize("index", ["-1", "3", "first"])
def test_layer_index_out_of_range_names_the_option(index):
    ds = GdalDataSource(
        {"path": os.path.join(DATA_DIR, "cities.geojson"), "layerindex": index}
    )
    with pytest.raises(ValueError, match=r"layerIndex .*features") as exc:
        ds.schema()
    assert repr(index) in str(exc.value)
