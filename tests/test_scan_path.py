"""The ``gdal`` reader's one scan path: every partition becomes Arrow
batches through one loop, whichever source built them.

* A value the NDJSON columnar decoder cannot carry leaves the whole file
  to the feature loop, wherever in the file it is; CSV has no columnar
  decoder, so a bad cell anywhere reads as the feature loop reads it.
* Pushed filters are evaluated on the typed columns, so a pushed filter
  keeps the rows Spark's own filter keeps.
* Date and datetime fields cross into Spark as Arrow date32 and
  timestamp[us] columns.
* ``perfbench/probes.read_in_process`` drives the reader's
  ``_columnar_batches`` and ``_arrow_schema``; a rename of either would
  fail every benchmark run's write check.

Fixtures are written into ``tmp_path``; reads run in process unless a
test takes the ``spark`` fixture.
"""

from __future__ import annotations

import csv
import datetime
import json
import os
import sys

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, IsNotNull

from polars_gdal_spark.geometry import (
    geojson_to_geom,
    geom_bounds,
    geom_to_geojson,
    geom_to_wkb,
    geom_to_wkt,
    wkb_to_geom,
)
from polars_gdal_spark.sources.datasource import GdalDataSource
from polars_gdal_spark.sources.formats import find_driver
from polars_gdal_spark.sources.formats.geojson import GeoJsonDriver
from tests.conftest import REPO_ROOT

#: rows of the large fixtures: each file is over 1 MiB
BIG = 50_000


def _reader(path: str, **options):
    opts = {"path": path, **{k.lower(): str(v) for k, v in options.items()}}
    ds = GdalDataSource(opts)
    return ds.reader(ds.schema()), opts


def _read(reader) -> list[dict]:
    """Rows of an in-process read of every partition; asserts that
    ``read()`` yields only Arrow record batches."""
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            assert isinstance(batch, pa.RecordBatch)
            rows.extend(batch.to_pylist())
    return rows


def _feature_rows(reader, opts: dict) -> list[dict]:
    """What the feature loop makes of ``iter_features``: each attribute
    coerced to its column type, the geometry as WKB."""
    path = opts["path"]
    drv = find_driver(path)
    layer = drv.list_layers(path, opts)[0]
    rows = []
    attrs = [(fd.name, fd.dataType.simpleString()) for fd in reader.schema
             if fd.name not in ("geometry", reader.fid_col)]
    for f in drv.iter_features(path, layer, opts):
        row = {reader.fid_col: f.fid} if reader.fid_col else {}
        row.update((name, reader._coerce(f.props.get(name), ddl))
                   for name, ddl in attrs)
        wkb = f.wkb if f.wkb is not None or f.geom is None else geom_to_wkb(f.geom)
        row["geometry"] = wkb
        rows.append(row)
    return rows


# ------------------------------------- a late bad value: same rows, no error


def _write_csv(path: str, bad_row: dict) -> str:
    """``BIG`` lon/lat rows; the row 10 from the end takes ``bad_row``."""
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["name", "lon", "lat", "qty"])
        for i in range(BIG):
            row = {"name": f"place{i}", "lon": (i % 3600) / 10 - 180.0,
                   "lat": (i % 1700) / 10 - 85.0, "qty": i}
            if i == BIG - 10:
                row.update(bad_row)
            w.writerow([row["name"], row["lon"], row["lat"], row["qty"]])
    assert os.path.getsize(path) > 1 << 20
    return path


@pytest.mark.parametrize(
    "bad_row,options",
    [
        ({"lon": "abc"}, {}),
        ({"qty": "1_000"}, {"autodetect_type": "YES"}),
        ({"lat": ""}, {}),
    ],
    ids=["lon-abc", "autodetect-1_000", "empty-lat"],
)
def test_csv_late_bad_cell_reads_like_the_feature_loop(tmp_path, bad_row, options):
    path = _write_csv(str(tmp_path / "pts.csv"), bad_row)
    reader, opts = _reader(
        path, x_possible_names="lon", y_possible_names="lat",
        targetPartitions=1, **options,
    )
    got = _read(reader)
    assert len(got) == BIG
    assert got == _feature_rows(reader, opts)
    bad = got[BIG - 10]
    if "lon" in bad_row or "lat" in bad_row:
        assert bad["geometry"] is None  # no coordinate, no point
    else:
        assert bad["qty"] == 1000


def _ndjson_feature(i: int) -> dict:
    return {
        "type": "Feature",
        "id": i,
        "geometry": {"type": "Point", "coordinates": [i * 0.001, -i * 0.002]},
        "properties": {"name": f"n{i}", "v": i},
    }


def _write_ndjson(path: str, late: dict) -> str:
    """``BIG // 4`` point features; ``late`` is the one 10 from the end."""
    n = BIG // 4
    with open(path, "w") as f:
        for i in range(n):
            feat = late if i == n - 10 else _ndjson_feature(i)
            f.write(json.dumps(feat) + "\n")
    assert os.path.getsize(path) > 1 << 20
    return path


#: a 3D point, whose WKB the 2D-Point decoder cannot build
POINT_3D = {"type": "Feature", "id": 12490, "properties": {"name": "z", "v": 1},
            "geometry": {"type": "Point", "coordinates": [1.0, 2.0, 7.0]}}


@pytest.mark.parametrize("partitions", [1, 32])
def test_ndjson_late_3d_point_reads_like_the_feature_loop(tmp_path, partitions):
    path = _write_ndjson(str(tmp_path / "pts.geojsonl"), POINT_3D)
    reader, opts = _reader(path, fidColumn="fid", targetPartitions=partitions)
    got = sorted(_read(reader), key=lambda r: r["fid"])
    assert got == _feature_rows(reader, opts)
    assert wkb_to_geom(got[-10]["geometry"]) == ("Point", (1.0, 2.0, 7.0))


@pytest.mark.parametrize(
    "late",
    [
        POINT_3D,
        {"type": "Feature", "properties": {"name": "x", "v": 1},
         "geometry": {"type": "LineString", "coordinates": [[0, 0], [1, 1]]}},
        {"type": "Feature", "id": "abc", "properties": {"name": "x", "v": 1},
         "geometry": {"type": "Point", "coordinates": [0, 0]}},
        {"type": "Feature", "properties": {"name": "x", "v": 1, "tags": ["a"]},
         "geometry": {"type": "Point", "coordinates": [0, 0]}},
    ],
    ids=["3d-point", "linestring", "string-id", "list-property"],
)
def test_ndjson_decoder_declines_a_late_value(tmp_path, late):
    """The decoder parses the whole file before it answers, so a value
    it cannot carry near the end still leaves the file to the feature
    loop."""
    path = _write_ndjson(str(tmp_path / "pts.geojsonl"), late)
    drv = GeoJsonDriver()
    cols = [(f.name, f.name, f.dtype)
            for f in drv.layer_fields(path, "features", {})]
    assert drv.iter_arrow_batches(path, "features", {}, cols, "fid", "geometry") is None


@pytest.mark.parametrize("gfmt", ["wkt", "geojson"])
def test_text_output_encodes_the_drivers_parse(tmp_path, gfmt):
    """Text output encodes the tuple the driver parsed, not a WKB round
    trip of it: integer coordinates, a fourth ordinate and an empty
    point stay as they were read. The bbox read keeps only the point."""
    geoms = [
        {"type": "Point", "coordinates": [1, 2]},
        {"type": "LineString", "coordinates": [[10, 20, 3, 4], [50, 60, 7, 8]]},
        {"type": "Point", "coordinates": []},
    ]
    path = str(tmp_path / "text.geojson")
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"n": i}, "geometry": g}
            for i, g in enumerate(geoms)]}, f)
    encode = (geom_to_wkt if gfmt == "wkt"
              else lambda g: json.dumps(geom_to_geojson(g)))
    want = {i: encode(geojson_to_geom(g)) for i, g in enumerate(geoms)}
    reader, _ = _reader(path, geometryFormat=gfmt)
    assert {r["n"]: r["geometry"] for r in _read(reader)} == want
    reader, _ = _reader(path, geometryFormat=gfmt, bbox="0,0,5,5")
    assert {r["n"]: r["geometry"] for r in _read(reader)} == {0: want[0]}


# ------------------------------------------ pushed filters on typed columns


def _write_codes(path: str) -> str:
    feats = [
        {"type": "Feature", "properties": {"code": c, "tags": [str(i)]},
         "geometry": {"type": "Point", "coordinates": [float(i), 0.0]}}
        for i, c in enumerate([5, "x", "5", 7])
    ]
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)
    return path


def test_pushed_filter_compares_the_widened_column(spark, tmp_path):
    """``code`` holds 5, "x", "5" and 7, so it is a string column; the
    pushed ``code = "5"`` keeps both "5" cells, as Spark's filter does."""
    path = _write_codes(str(tmp_path / "codes.geojson"))
    reader, _ = _reader(path, pushdown="true")
    assert list(reader.pushFilters([EqualTo(("code",), "5")])) == []
    got = sorted(r["code"] for r in _read(reader))
    assert got == ["5", "5"]

    def codes(pushdown: str) -> list:
        df = (spark.read.format("gdal").option("pushdown", pushdown).load(path)
              .filter(F.col("code") == "5"))
        return sorted((r["code"], wkb_to_geom(r["geometry"])[1])
                      for r in df.collect())

    assert codes("true") == codes("false")
    assert codes("false") == [("5", (0.0, 0.0)), ("5", (2.0, 0.0))]


def test_filter_pyarrow_cannot_evaluate_goes_back_to_spark(tmp_path):
    path = _write_codes(str(tmp_path / "codes.geojson"))
    reader, _ = _reader(path, pushdown="true")
    on_array = EqualTo(("tags",), ["1"])
    kept = list(reader.pushFilters([on_array, IsNotNull(("tags",))]))
    assert kept == [on_array]
    assert len(_read(reader)) == 4


# --------------------------------------------- date and datetime fields


def _dated_frame(spark):
    return spark.createDataFrame(
        [
            ("a", datetime.date(2021, 7, 4),
             bytearray(geom_to_wkb(("Point", (1.0, 1.0))))),
            ("b", None, bytearray(geom_to_wkb(("Point", (2.0, 2.0))))),
            ("c", datetime.date(1999, 12, 31),
             bytearray(geom_to_wkb(("Point", (3.0, 3.0))))),
        ],
        "name string, d date, geometry binary",
    )


WANT_DATES = {"a": datetime.date(2021, 7, 4), "b": None,
              "c": datetime.date(1999, 12, 31)}

MIF = """Version 300
Charset "WindowsLatin1"
Delimiter ","
CoordSys Earth Projection 1, 104
Columns 2
  name Char(10)
  d Date
Data

Point 1 1
Point 2 2
Point 3 3
"""
MID = '"a",20210704\n"b",\n"c",19991231\n'


@pytest.mark.parametrize("fmt", ["tab", "mif", "shp"])
def test_date_fields_cross_as_arrow(spark, tmp_path, fmt):
    path = str(tmp_path / f"dated.{fmt}")
    if fmt == "mif":
        (tmp_path / "dated.mif").write_text(MIF)
        (tmp_path / "dated.mid").write_text(MID)
    else:
        driver = "MapInfo File" if fmt == "tab" else "ESRI Shapefile"
        (_dated_frame(spark).coalesce(1).write.format("gdal")
         .option("driver", driver).mode("overwrite").save(path))
    df = spark.read.format("gdal").load(path)
    assert df.schema["d"].dataType.simpleString() == "date"
    assert {r["name"]: r["d"] for r in df.collect()} == WANT_DATES
    reader, _ = _reader(path)
    assert {r["name"]: r["d"] for r in _read(reader)} == WANT_DATES


def test_vrt_datetime_field_crosses_as_arrow(spark, tmp_path):
    stamps = [datetime.datetime(2020, 1, 2, 3, 4, 5, 678000),
              None, datetime.datetime(1970, 1, 1)]
    table = pa.table({
        "n": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(stamps, pa.timestamp("us")),
        "geometry": pa.array(
            [geom_to_wkb(("Point", (float(i), 0.0))) for i in range(3)],
            pa.binary()),
    })
    with pa.OSFile(str(tmp_path / "ev.arrow"), "wb") as sink, \
            pa.ipc.new_file(sink, table.schema) as w:
        w.write_table(table)
    vrt = tmp_path / "ev.vrt"
    vrt.write_text(
        '<OGRVRTDataSource><OGRVRTLayer name="ev">'
        '<SrcDataSource relativeToVRT="1">ev.arrow</SrcDataSource>'
        '<Field name="n" src="n" type="Integer64"/>'
        '<Field name="when" src="ts" type="DateTime"/>'
        "</OGRVRTLayer></OGRVRTDataSource>"
    )
    df = spark.read.format("gdal").load(str(vrt))
    assert df.schema["when"].dataType.simpleString() == "timestamp_ntz"
    want = dict(zip([1, 2, 3], stamps))
    assert {r["n"]: r["when"] for r in df.collect()} == want
    reader, _ = _reader(str(vrt))
    assert {r["n"]: r["when"] for r in _read(reader)} == want


# ---------------------------------- the benchmark's in-process reader probe


@pytest.fixture(scope="module")
def bench_files(tmp_path_factory):
    """(probes, vector_data, root): small copies of the benchmark's
    vector files, one directory per gdal format."""
    sys.path.insert(0, os.path.join(REPO_ROOT, "perfbench"))
    import probes
    import vector_data as V

    root = tmp_path_factory.mktemp("vector")
    layers = V.make_layers(1, 0.02)
    for fmt in V.FORMAT_KEYS:
        if V.DRIVER[fmt] is None:
            continue
        for layer in V.LAYERS:
            path = V.file_path(str(root), layer, fmt)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            V.write_layer(None, layers[layer]["table"], path, fmt,
                          str(root / "parts"))
    return probes, V, root


def _probe_key(row: dict):
    return json.dumps(
        {k: (v.hex() if isinstance(v, bytes) else v) for k, v in row.items()},
        sort_keys=True, default=str,
    )


@pytest.mark.parametrize("kind", ["full", "bbox", "filter"])
@pytest.mark.parametrize(
    "fmt", ["geojson", "geojsonseq", "csv", "shp", "fgb", "gpkg", "arrow"]
)
def test_benchmark_probe_reads_what_the_feature_loop_reads(bench_files, fmt, kind):
    probes, V, root = bench_files
    path = os.path.join(str(root), fmt)
    table, stats = probes.read_in_process(fmt, path, kind)

    reader, _ = _reader(path, **V.READ_OPTIONS.get(fmt, {}))
    want = []
    for layer in V.LAYERS:
        opts = {k.lower(): v for k, v in V.READ_OPTIONS.get(fmt, {}).items()}
        opts["path"] = V.file_path(str(root), layer, fmt)
        for row in _feature_rows(reader, opts):
            if kind == "bbox":
                b = row["geometry"] and geom_bounds(wkb_to_geom(row["geometry"]))
                bx0, by0, bx1, by1 = V.BBOX
                if not b or b[2] < bx0 or b[0] > bx1 or b[3] < by0 or b[1] > by1:
                    continue
            # a filter on a string column (CSV without autodetect_type)
            # cannot be evaluated by the reader and stays with Spark
            if kind == "filter" and isinstance(row["qty"], int) \
                    and row["qty"] >= V.QTY_BELOW:
                continue
            want.append(row)
    assert len(want) > 0
    got = sorted(map(_probe_key, table.to_pylist()))
    assert got == sorted(map(_probe_key, want))
    # every row comes through _columnar_batches, which always answers
    assert stats["fast_rows"] == stats["rows"] == table.num_rows
