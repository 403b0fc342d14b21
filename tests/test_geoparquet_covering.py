"""GeoParquet 1.1 foreign-file interop: read a file produced by another
writer (raw pyarrow here, standing in for GDAL/geopandas output) that
carries the spec's optional ``covering`` bbox struct, and use it for
row-group pruning — the GeoParquet analogue of parquet min/max pushdown.
Spec: opengeospatial/geoparquet v1.1.0, "covering" §.
"""

from __future__ import annotations

import json
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from polars_gdal_spark.sources.geoparquet import GeoParquetReader


def _wkb_point(x: float, y: float) -> bytes:
    return b"\x01\x01\x00\x00\x00" + struct.pack("<dd", x, y)


@pytest.fixture(scope="module")
def foreign_gpq(tmp_path_factory):
    """3 row groups of points clustered at x≈0, x≈100, x≈200, with a
    per-row bbox covering column and a CRS id — written by pyarrow
    directly, NOT by this package's writer."""
    path = str(tmp_path_factory.mktemp("foreign") / "cities.parquet")
    geo = {
        "version": "1.1.0",
        "primary_column": "geometry",
        "columns": {
            "geometry": {
                "encoding": "WKB",
                "geometry_types": ["Point"],
                "crs": {"id": {"authority": "EPSG", "code": 3857}},
                "covering": {
                    "bbox": {
                        "xmin": ["bbox", "xmin"],
                        "ymin": ["bbox", "ymin"],
                        "xmax": ["bbox", "xmax"],
                        "ymax": ["bbox", "ymax"],
                    }
                },
            }
        },
    }
    bbox_t = pa.struct(
        [(k, pa.float64()) for k in ("xmin", "ymin", "xmax", "ymax")]
    )
    schema = pa.schema(
        [
            ("name", pa.string()),
            ("geometry", pa.binary()),
            ("bbox", bbox_t),
        ],
        metadata={b"geo": json.dumps(geo).encode()},
    )
    with pq.ParquetWriter(path, schema) as w:
        for base in (0.0, 100.0, 200.0):
            rows = [(f"p{base:.0f}_{i}", base + i, float(i)) for i in range(10)]
            w.write_table(
                pa.table(
                    {
                        "name": [r[0] for r in rows],
                        "geometry": [_wkb_point(r[1], r[2]) for r in rows],
                        "bbox": [
                            {"xmin": r[1], "ymin": r[2], "xmax": r[1], "ymax": r[2]}
                            for r in rows
                        ],
                    },
                    schema=schema.remove_metadata(),
                )
            )
    return path


def test_foreign_read_carries_crs(spark, foreign_gpq):
    df = spark.read.format("geoparquet").load(foreign_gpq)
    assert df.count() == 30
    meta = df.schema["geometry"].metadata
    assert meta["crs"] == "EPSG:3857"
    assert meta["encoding"] == "WKB"


def test_covering_row_group_pruning_metric(foreign_gpq):
    """Planning-time proof: with a bbox over the middle cluster only, the
    reader plans 1 of 3 row-group partitions (pure metadata decision)."""
    r_all = GeoParquetReader(None, {"path": foreign_gpq})
    assert len(r_all.partitions()) == 3
    r_pruned = GeoParquetReader(
        None, {"path": foreign_gpq, "bbox": "95,-1,115,11"}
    )
    assert len(r_pruned.partitions()) == 1


def test_covering_bbox_filters_rows_exactly(spark, foreign_gpq):
    df = (
        spark.read.format("geoparquet")
        .option("bbox", "95,-1,104.5,11")
        .load(foreign_gpq)
    )
    names = sorted(r["name"] for r in df.collect())
    # middle cluster x=100..109; covering filter keeps x<=104.5
    assert names == [f"p100_{i}" for i in range(5)]


def test_bbox_without_covering_filters_exactly(spark, tmp_path):
    """A file with no covering declaration must STILL honor ``bbox`` —
    the GDAL reference applies its spatial filter unconditionally, so
    filter semantics must not depend on how the file was written. With
    no bbox stats to prune row groups, the reader decodes each row's
    WKB envelope and filters exactly (null geometries excluded)."""
    src = spark.createDataFrame(
        [(1, _wkb_point(0, 0)), (2, _wkb_point(500, 500)), (3, None)],
        "id bigint, geometry binary",
    )
    out = str(tmp_path / "plain_gpq")
    src.write.format("geoparquet").mode("overwrite").save(out)
    df = spark.read.format("geoparquet").option("bbox", "-1,-1,1,1").load(out)
    assert [r["id"] for r in df.collect()] == [1]


@pytest.mark.parametrize("covering", ["false", "true"])
def test_bbox_excludes_empty_geometries(spark, tmp_path, covering):
    """An empty geometry has no envelope: a bbox read drops it (GDAL's
    OGRLayer::FilterGeometry rule) instead of failing, whether the file
    filters by WKB envelope or by a written covering."""
    empty = b"\x01\x04\x00\x00\x00" + struct.pack("<I", 0)  # MULTIPOINT EMPTY
    src = spark.createDataFrame(
        [(1, empty), (2, _wkb_point(1, 1))], "id bigint, geometry binary"
    )
    out = str(tmp_path / "empty_gpq")
    src.write.format("geoparquet").mode("overwrite").option(
        "covering", covering
    ).save(out)
    df = spark.read.format("geoparquet").option("bbox", "0,0,2,2").load(out)
    assert [r["id"] for r in df.collect()] == [2]


def test_write_covering_roundtrip_prunes_own_output(spark, tmp_path):
    """covering=true writes the bbox struct + declaration; this
    package's own bbox read then prunes row groups of its own output."""
    rows = [(i, _wkb_point(float(x), 0.0)) for i, x in enumerate(range(0, 10))]
    rows += [(100 + i, _wkb_point(1000.0 + i, 0.0)) for i in range(10)]
    src = spark.createDataFrame(rows, "id bigint, geometry binary").repartition(2)
    out = str(tmp_path / "cov_gpq")
    src.write.format("geoparquet").mode("overwrite").option(
        "covering", "true"
    ).save(out)
    # declaration present in the footer
    from polars_gdal_spark.sources.geoparquet import read_geo_footer

    geo = read_geo_footer(out)
    cov = geo["columns"]["geometry"]["covering"]["bbox"]
    assert cov["xmin"] == ["bbox", "xmin"]
    df = (
        spark.read.format("geoparquet")
        .option("bbox", "-1,-1,50,1")
        .load(out)
    )
    got = sorted(r["id"] for r in df.collect())
    assert got == list(range(10))
    # bbox column rides along per spec; values match the geometry
    one = df.where("id = 3").collect()[0]
    assert one["bbox"]["xmin"] == 3.0 and one["bbox"]["ymax"] == 0.0


def test_write_covering_rejects_bbox_collision(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, _wkb_point(0, 0), "x")], "id bigint, geometry binary, bbox string"
    )
    with pytest.raises(Exception, match="bbox"):
        src.write.format("geoparquet").mode("overwrite").option(
            "covering", "true"
        ).save(str(tmp_path / "clash"))


def test_pushdown_prunes_row_groups_and_filters_exactly(spark, tmp_path):
    """Opt-in filter pushdown: comparison predicates reach the parquet
    row-group statistics (planning-time pruning) and are applied exactly
    by the pyarrow scan."""
    from polars_gdal_spark.sources.geoparquet import GeoParquetPushdownReader
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    rows = [(i, float(i), _wkb_point(float(i), 0.0)) for i in range(30)]
    src = spark.createDataFrame(rows, "id bigint, v double, geometry binary")
    out = str(tmp_path / "pd_gpq")
    # 3 sorted parts -> disjoint id ranges per part file
    src.repartitionByRange(3, "id").sortWithinPartitions("id").write.format(
        "geoparquet"
    ).mode("overwrite").save(out)

    df = (
        spark.read.format("geoparquet")
        .option("pushdown", "true")
        .load(out)
        .where("id >= 10 and id < 20")
    )
    got = sorted(r["id"] for r in df.collect())
    assert got == list(range(10, 20))

    # planning-time metric: the pushed range plans 1 of 3 row groups
    r = GeoParquetPushdownReader(df.schema, {"path": out, "pushdown": "true"})
    residual = list(
        r.pushFilters([GreaterThanOrEqual(("id",), 10), LessThan(("id",), 20)])
    )
    assert residual == []  # both fully consumed
    assert len(r.partitions()) == 1


def test_pushdown_returns_unsupported_filters(spark, tmp_path):
    from polars_gdal_spark.sources.geoparquet import GeoParquetPushdownReader
    from pyspark.sql.datasource import EqualTo, StringStartsWith

    rows = [(i, f"n{i}", _wkb_point(float(i), 0.0)) for i in range(4)]
    src = spark.createDataFrame(rows, "id bigint, name string, geometry binary")
    out = str(tmp_path / "pd2_gpq")
    src.coalesce(1).write.format("geoparquet").mode("overwrite").save(out)

    r = GeoParquetPushdownReader(src.schema, {"path": out})
    residual = list(
        r.pushFilters([EqualTo(("id",), 2), StringStartsWith(("name",), "n")])
    )
    assert len(residual) == 1 and isinstance(residual[0], StringStartsWith)
    # end-to-end with a mixed predicate stays correct
    df = (
        spark.read.format("geoparquet")
        .option("pushdown", "true")
        .load(out)
        .where("id = 2 and name like 'n%'")
    )
    assert [r2["id"] for r2 in df.collect()] == [2]


def test_pushdown_composes_with_covering_bbox(spark, tmp_path):
    rows = [(i, _wkb_point(float(10 * i), 1.0)) for i in range(12)]
    src = spark.createDataFrame(rows, "id bigint, geometry binary")
    out = str(tmp_path / "pd3_gpq")
    src.repartitionByRange(3, "id").sortWithinPartitions("id").write.format(
        "geoparquet"
    ).mode("overwrite").option("covering", "true").save(out)
    df = (
        spark.read.format("geoparquet")
        .option("pushdown", "true")
        .option("bbox", "0,0,75,2")   # keeps ids 0..7
        .load(out)
        .where("id >= 2")             # pushed comparison
    )
    assert sorted(r["id"] for r in df.collect()) == [2, 3, 4, 5, 6, 7]
