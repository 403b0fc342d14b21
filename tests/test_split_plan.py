"""How the ``gdal`` reader plans a scan: one minimum-split rule sizes the
intra-file splits, ``targetPartitions`` caps them, and malformed integer,
boolean and ``bbox`` options fail with an error that names them.

Fixtures are written with the engine's own writers into temporary
directories; planning and reads run in process, except the Spark-level
digest check.
"""

from __future__ import annotations

import json
import os
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from polars_gdal_spark.geometry.wkb import wkb_to_geom
from polars_gdal_spark.sinks import assemble
from polars_gdal_spark.sources.datasource import (
    MIN_SPLIT_FEATURES,
    GdalDataSource,
    GdalDataSourceWriter,
)
from polars_gdal_spark.sources.formats import find_driver
from polars_gdal_spark.sources.geoparquet import (
    GeoParquetDataSource,
    GeoParquetReader,
    GeoParquetWriter,
)
from tests.conftest import DATA_DIR
from tests.test_read_contract import _write

CITIES_GEOJSON = os.path.join(DATA_DIR, "cities.geojson")

#: format → (writer driver, file name, reader options)
FORMATS = {
    "shp": ("ESRI Shapefile", "pts.shp", {}),
    "gpkg": ("GPKG", "pts.gpkg", {}),
    "arrow": ("Arrow", "pts.arrow", {}),
    "csv": ("CSV", "pts.csv", {"geom_possible_names": "geometry"}),
    "ndjson": ("GeoJSONSeq", "pts.geojsonl", {}),
    "tab": ("MapInfo File", "pts.tab", {}),
}
PLAN_FORMATS = ["shp", "gpkg", "arrow", "csv", "ndjson"]
SMALL = 4000
LARGE = 3 * MIN_SPLIT_FEATURES


def _points(n: int) -> list[tuple]:
    return [("Point", (i * 0.001 - 40.0, (i % 97) * 0.5)) for i in range(n)]


@pytest.fixture(scope="module")
def files(tmp_path_factory):
    """{(fmt, n): (path, reader options)}, written once per module."""
    out = {}
    for n in (SMALL, LARGE):
        pts = _points(n)
        for fmt, (driver, name, opts) in FORMATS.items():
            d = tmp_path_factory.mktemp(f"{fmt}{n}")
            out[fmt, n] = (_write(d, driver, str(d / name), pts), opts)
    return out


def _reader(path: str, opts: dict, **extra):
    options = {"path": path, **{k.lower(): str(v) for k, v in opts.items()}}
    options.update({k.lower(): str(v) for k, v in extra.items()})
    ds = GdalDataSource(options)
    return ds.reader(ds.schema())


def _read_all(reader, parts) -> pa.Table:
    batches = [b for p in parts for b in reader.read(p)]
    return pa.Table.from_batches(batches, schema=reader._arrow_schema())


# --------------------------------------------------------------- planning


@pytest.mark.parametrize("fmt", PLAN_FORMATS)
def test_small_file_plans_one_whole_file_partition(files, fmt):
    path, opts = files[fmt, SMALL]
    parts = _reader(path, opts).partitions()
    assert [(p.start, p.end) for p in parts] == [(None, None)]


def test_small_files_plan_one_partition_each(tmp_path):
    (tmp_path / "d").mkdir()
    for i in range(3):
        _write(tmp_path, "ESRI Shapefile", str(tmp_path / "d" / f"p{i}.shp"), _points(SMALL))
    parts = _reader(str(tmp_path / "d"), {}).partitions()
    assert len(parts) == 3
    assert all(p.start is None and p.end is None for p in parts)


@pytest.mark.parametrize("fmt", PLAN_FORMATS)
def test_large_file_splits_hold_the_floor(files, fmt):
    path, opts = files[fmt, LARGE]
    reader = _reader(path, opts)
    parts = reader.partitions()
    assert len(parts) >= 3
    assert all(p.end - p.start >= MIN_SPLIT_FEATURES for p in parts[:-1])
    assert all(a.end == b.start for a, b in zip(parts, parts[1:]))
    split = _read_all(reader, parts)
    whole_reader = _reader(path, opts, targetPartitions=1)
    whole_parts = whole_reader.partitions()
    assert [(p.start, p.end) for p in whole_parts] == [(None, None)]
    whole = _read_all(whole_reader, whole_parts)
    assert whole.num_rows == LARGE
    assert split.equals(whole)


@pytest.mark.parametrize("fmt", PLAN_FORMATS)
def test_target_partitions_caps_the_splits(files, fmt):
    path, opts = files[fmt, LARGE]
    parts = _reader(path, opts, targetPartitions=2).partitions()
    assert len(parts) == 2


@pytest.mark.parametrize("fmt", list(FORMATS))
def test_one_split_and_many_splits_digest_equal(spark, files, fmt):
    path, opts = files[fmt, LARGE]

    def digest(**extra):
        rd = spark.read.format("gdal")
        for k, v in {**opts, **extra}.items():
            rd = rd.option(k, v)
        df = rd.load(path)
        h = F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
        row = df.agg(F.count(F.lit(1)), h).first()
        return row[0], row[1], df.rdd.getNumPartitions()

    n1, h1, p1 = digest(targetPartitions=1)
    n, h, p = digest()
    assert p1 == 1 and p >= 3
    assert (n, h) == (n1, h1) and n == LARGE


# ------------------------------------------------------ option validation


@pytest.mark.parametrize(
    "name,value",
    [
        ("targetPartitions", "x"),
        ("targetPartitions", "0"),
        ("offset", "-1"),
        ("offset", "1.5"),
        ("limit", "-1"),
        ("limit", "ten"),
        ("maxRows", "-1"),
    ],
)
def test_malformed_reader_option_is_named(files, name, value):
    path, opts = files["shp", SMALL]
    with pytest.raises(ValueError, match=f"{name} .*'{value}'"):
        _reader(path, opts, **{name: value})


@pytest.mark.parametrize("value", ["0", "-2", "all"])
def test_malformed_schema_sample_files_is_named(files, value):
    path, _ = files["shp", SMALL]
    ds = GdalDataSource({"path": path, "schemasamplefiles": value})
    with pytest.raises(ValueError, match=f"schemaSampleFiles .*'{value}'"):
        ds.schema()


BAD_BBOXES = ["a,b,c,d", "10,0,-10,5", "0,10,5,-10", "nan,0,1,1", "0,0,inf,1", "1,2,3"]


@pytest.mark.parametrize("value", BAD_BBOXES)
def test_malformed_bbox_is_named(files, value):
    path, opts = files["shp", SMALL]
    with pytest.raises(ValueError, match=f"bbox .*'{value}'"):
        _reader(path, opts, bbox=value)


def _parquet(tmp_path) -> str:
    path = str(tmp_path / "g.parquet")
    pq.write_table(pa.table({"geometry": pa.array([b""], pa.binary())}), path)
    return path


def test_malformed_bbox_is_named_by_geoparquet(tmp_path):
    path = _parquet(tmp_path)
    for value in BAD_BBOXES:
        with pytest.raises(ValueError, match=f"bbox .*'{value}'"):
            GeoParquetReader(StructType(), {"path": path, "bbox": value})


def test_point_bbox_is_valid(files):
    path, opts = files["shp", SMALL]
    reader = _reader(path, opts, bbox="-40,0,-40,0")
    assert _read_all(reader, reader.partitions()).num_rows == 1


def _topojson(tmp_path) -> str:
    path = tmp_path / "t.topojson"
    geom = {"type": "Point", "coordinates": [1, 2], "properties": {"a": None}}
    obj = {"type": "GeometryCollection", "geometries": [geom]}
    path.write_text(
        json.dumps({"type": "Topology", "objects": {"l": obj}, "arcs": []})
    )
    return str(path)


def _bool_sites(files, tmp_path) -> dict:
    """option name → a call that reads that boolean option from a dict."""
    shp, _ = files["shp", SMALL]
    gpq = _parquet(tmp_path)
    schema = StructType([StructField("geometry", BinaryType())])
    topo = _topojson(tmp_path)
    geojson = find_driver(CITIES_GEOJSON)
    return {
        "pushdown": lambda v: GdalDataSource({"path": shp, "pushdown": v}).reader(
            schema
        ),
        "crsMetadata": lambda v: GdalDataSource(
            {"path": shp, "crsmetadata": v}
        ).schema(),
        "partitioned": lambda v: GdalDataSourceWriter(
            schema, {"path": str(tmp_path / "o.geojson"), "partitioned": v}, True
        ),
        "spatialIndex": lambda v: assemble(
            "FlatGeobuf", [], str(tmp_path / "o.fgb"), {"spatialindex": v}, schema,
            "geometry",
        ),
        "pgUseCopy": lambda v: assemble(
            "PGDump", [], str(tmp_path / "o.sql"), {"pgusecopy": v}, schema, "geometry"
        ),
        "covering": lambda v: GeoParquetWriter(
            schema, {"path": str(tmp_path / "o.parquet"), "covering": v}, True
        ),
        "geoparquet pushdown": lambda v: GeoParquetDataSource(
            {"path": gpq, "pushdown": v}
        ).reader(schema),
        "geojson dropAllNullColumns": lambda v: geojson.layer_fields(
            CITIES_GEOJSON, "cities", {"dropallnullcolumns": v}
        ),
        "topojson dropAllNullColumns": lambda v: find_driver(topo).layer_fields(
            topo, "l", {"dropallnullcolumns": v}
        ),
    }


BOOL_SITES = [
    "pushdown",
    "crsMetadata",
    "partitioned",
    "spatialIndex",
    "pgUseCopy",
    "covering",
    "geoparquet pushdown",
    "geojson dropAllNullColumns",
    "topojson dropAllNullColumns",
]


@pytest.mark.parametrize("site", BOOL_SITES)
def test_malformed_boolean_option_is_named(files, tmp_path, site):
    call = _bool_sites(files, tmp_path)[site]
    name = site.split()[-1]
    for value in ("yes", "1", ""):
        with pytest.raises(ValueError, match=f"{name} .*'{value}'"):
            call(value)
    call("TRUE")
    call("False")


def test_zero_limit_and_max_rows_are_valid(files):
    path, opts = files["shp", SMALL]
    reader = _reader(path, opts, limit=0)
    assert _read_all(reader, reader.partitions()).num_rows == 0
    reader = _reader(path, opts, maxRows=0, offset=SMALL)
    assert _read_all(reader, reader.partitions()).num_rows == 0


# ------------------------------------- driver counts without a full read


def test_shx_count_drops_a_trailing_partial_record(files, tmp_path):
    src, _ = files["shp", SMALL]
    stem = str(tmp_path / "pts")
    for ext in (".shp", ".shx", ".dbf"):
        with open(src[:-4] + ext, "rb") as f, open(stem + ext, "wb") as g:
            g.write(f.read())
    with open(stem + ".shx", "ab") as f:
        f.write(b"\x00\x00\x00")
    drv = find_driver(stem + ".shp")
    assert drv.feature_count(stem + ".shp", "pts", {}) == SMALL
    got = list(drv.iter_features(stem + ".shp", "pts", {}, 3990, SMALL + 5))
    assert [f.fid for f in got] == list(range(3990, SMALL))


@pytest.mark.parametrize("stream", [False, True])
def test_arrow_ranges_across_record_batches(tmp_path, stream):
    n = 1000
    table = pa.table(
        {
            "name": [f"f{i}" for i in range(n)],
            "geometry": pa.array(
                [struct.pack("<BIdd", 1, 1, float(i), 0.0) for i in range(n)],
                pa.binary(),
            ),
        }
    )
    path = str(tmp_path / "batches.arrow")
    new = pa.ipc.new_stream if stream else pa.ipc.new_file
    with pa.OSFile(path, "wb") as sink, new(sink, table.schema) as w:
        for b in table.to_batches(max_chunksize=64):
            w.write_batch(b)
    drv = find_driver(path)
    assert drv.feature_count(path, "batches", {}) == n
    ranges = drv.split_ranges(path, "batches", {}, 7)
    assert len(ranges) == 7
    def row(f):  # canonical WKB arrives as is, anything else parsed
        return (f.fid, f.props, wkb_to_geom(f.wkb) if f.wkb is not None else f.geom)

    whole = [row(f) for f in drv.iter_features(path, "batches", {})]
    ranged = [
        row(f)
        for s, e in ranges
        for f in drv.iter_features(path, "batches", {}, s, e)
    ]
    assert len(whole) == n
    assert ranged == whole
    assert whole[100] == (100, {"name": "f100"}, ("Point", (100.0, 0.0)))
