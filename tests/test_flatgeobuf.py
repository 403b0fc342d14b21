"""FlatGeobuf driver tests: unit-level writer/reader round-trip plus the
Spark DataSource path (read + write, WKB byte-equality vs the shapefile
source — same contract as the other sink round-trips)."""

from __future__ import annotations

import struct

from polars_gdal_spark.sources.formats.flatgeobuf import (
    FlatGeobufDriver,
    _packed_rtree_size,
    write_fgb,
)
from tests.conftest import N_STATIONS
from tests.conftest import STATIONS_SHP as STATIONS


def test_fgb_unit_roundtrip(tmp_path):
    feats = [
        (("Point", (1.5, 2.5)), {"name": "a", "n": 1, "x": 1.25, "ok": True}),
        (("Polygon", [[(0, 0), (4, 0), (4, 4), (0, 0)], [(1, 1), (2, 1), (1, 1)]]),
         {"name": None, "n": 3, "x": 2.5, "ok": False}),
        (("MultiPolygon", [[[(0, 0), (1, 0), (1, 1), (0, 0)]]]),
         {"name": "d", "n": None, "x": None, "ok": None}),
        (None, {"name": "h", "n": 8, "x": 8.5, "ok": False}),
    ]
    fields = [("name", "string"), ("n", "bigint"), ("x", "double"), ("ok", "boolean")]
    p = str(tmp_path / "t.fgb")
    write_fgb(p, fields, iter(feats), srs_code=4326)

    d = FlatGeobufDriver()
    assert [f.name for f in d.layer_fields(p, "layer", {})] == [
        "name", "n", "x", "ok",
    ]
    assert d.layer_crs(p, "layer", {}) == "EPSG:4326"
    assert d.feature_count(p, "layer", {}) == 4
    out = list(d.iter_features(p, "layer", {}))

    def norm(f):
        # default read emits the WKB fast path (geom=None, wkb set)
        from polars_gdal_spark.geometry.wkb import wkb_to_geom

        return wkb_to_geom(f.wkb) if f.wkb is not None else f.geom

    assert [norm(f) for f in out] == [
        ("Point", (1.5, 2.5)),
        ("Polygon", [[(0, 0), (4, 0), (4, 4), (0, 0)], [(1, 1), (2, 1), (1, 1)]]),
        ("MultiPolygon", [[[(0, 0), (1, 0), (1, 1), (0, 0)]]]),
        None,
    ]
    assert out[0].props == {"name": "a", "n": 1, "x": 1.25, "ok": True}
    assert out[2].props == {"name": "d", "n": None, "x": None, "ok": None}


def test_fgb_magic_and_record_alignment(tmp_path):
    p = str(tmp_path / "t.fgb")
    write_fgb(p, [("a", "double")], [(("Point", (1.0, 2.0)), {"a": 3.5})])
    data = open(p, "rb").read()
    assert data[:3] == b"fgb"
    # header starts 8-aligned; every size-prefixed record length is a
    # multiple of 8 so doubles stay naturally aligned in a mapped stream
    pos = 8
    while pos + 4 <= len(data):
        (sz,) = struct.unpack_from("<I", data, pos)
        assert (sz + 4) % 8 == 0
        pos += 4 + sz
    assert pos == len(data)


def test_packed_rtree_size_matches_spec():
    # flatgeobuf packedrtree: 2 items, node 16 → 2 leaves + 1 root = 120 B
    assert _packed_rtree_size(2, 16) == 120
    assert _packed_rtree_size(17, 16) == (17 + 2 + 1) * 40


def test_fgb_spark_roundtrip(spark, tmp_path):
    stations = spark.read.format("gdal").load(STATIONS)
    out = str(tmp_path / "stations.fgb")
    (
        stations.write.format("gdal").mode("overwrite")
        .option("driver", "FlatGeobuf").save(out)
    )
    back = spark.read.format("gdal").load(out)
    assert back.count() == N_STATIONS
    wkb = lambda df: sorted(  # noqa: E731
        bytes(r["geometry"]) for r in df.select("geometry").collect()
    )
    assert wkb(back) == wkb(stations)
    src = {r["name"]: r["line"] for r in stations.collect()}
    assert {r["name"]: r["line"] for r in back.collect()} == src


def test_fgb_spatial_index_roundtrip(tmp_path):
    """Indexed write: Hilbert-sorted body + packed R-tree. Full scan
    returns every feature; an indexed bbox read returns exactly the
    brute-force subset while visiting fewer leaves."""
    from polars_gdal_spark.sources.formats.flatgeobuf import (
        _level_bounds,
        _search_rtree,
    )

    feats = [
        (("Point", (float(i % 10), float(i // 10))), {"n": i})
        for i in range(100)
    ]
    p = str(tmp_path / "grid.fgb")
    write_fgb(p, [("n", "bigint")], iter(feats), index_node_size=4)

    d = FlatGeobufDriver()
    assert d.feature_count(p, "layer", {}) == 100
    full = list(d.iter_features(p, "layer", {}))
    assert {f.props["n"] for f in full} == set(range(100))

    bbox = "2.0,3.0,4.5,6.5"  # x in [2,4.5], y in [3,6.5] → 3×4 points
    hits = list(d.iter_features(p, "layer", {"bbox": bbox}))
    want = {n for n in range(100) if 2 <= n % 10 <= 4.5 and 3 <= n // 10 <= 6.5}
    assert {f.props["n"] for f in hits} == want

    # the traversal visited only the matching leaves, not all 100
    with open(p, "rb") as fh:
        data = fh.read()
    from polars_gdal_spark.sources.formats.flatgeobuf import _read_header
    *_head, node_size, idx_start = _read_header(data)
    assert node_size == 4
    found = _search_rtree(
        data, idx_start, 100, node_size, (2.0, 3.0, 4.5, 6.5)
    )
    assert len(found) == len(want) < 100
    num_nodes, bounds = _level_bounds(100, 4)
    assert _packed_rtree_size(100, 4) == num_nodes * 40


def test_fgb_indexed_bbox_via_datasource(spark, tmp_path):
    """End-to-end: write indexed FGB through the Spark sink, read back
    with the bbox reader option — index-pruned scan, exact results."""
    import pyspark.sql.functions as F

    from polars_gdal_spark.functions import geo

    df = spark.range(50).select(
        F.col("id").cast("bigint").alias("n"),
        geo.wkt_to_wkb_col(
            F.format_string(
                "POINT (%d %d)", F.col("id") % 10, F.floor(F.col("id") / 10)
            )
        ).alias("geometry"),
    )
    out = str(tmp_path / "pts.fgb")
    (
        df.coalesce(1).write.format("gdal")
        .option("driver", "FlatGeobuf")
        .option("spatialIndex", "true")
        .mode("overwrite")
        .save(out)
    )
    back = (
        spark.read.format("gdal")
        .option("bbox", "1.0,1.0,3.0,2.0")
        .load(out)
    )
    got = {r["n"] for r in back.collect()}
    want = {n for n in range(50) if 1 <= n % 10 <= 3 and 1 <= n // 10 <= 2}
    assert got == want


def test_fgb_rtree_search_equals_bruteforce(tmp_path):
    """Property: for random query boxes, index traversal returns exactly
    the brute-force envelope-intersection set (on a deterministic
    pseudo-random point cloud)."""
    from polars_gdal_spark.sources.formats.flatgeobuf import (
        _read_header,
        _search_rtree,
    )

    pts = [
        (((i * 37) % 101) / 7.0, ((i * 61) % 89) / 5.0) for i in range(257)
    ]
    feats = [(("Point", (x, y)), {"n": i}) for i, (x, y) in enumerate(pts)]
    p = str(tmp_path / "cloud.fgb")
    write_fgb(p, [("n", "bigint")], iter(feats), index_node_size=7)
    with open(p, "rb") as fh:
        data = fh.read()
    *_h, node_size, idx_start = _read_header(data)

    d = FlatGeobufDriver()
    order = [f.props["n"] for f in d.iter_features(p, "layer", {})]

    boxes = [
        (2.0, 3.0, 9.0, 8.0),
        (0.0, 0.0, 15.0, 18.0),   # everything
        (14.3, 17.7, 14.4, 17.8),  # likely empty sliver
        (5.0, 5.0, 5.0, 5.0),      # degenerate point box
    ]
    for bb in boxes:
        got = {
            f.props["n"]
            for f in d.iter_features(p, "layer", {"bbox": ",".join(map(str, bb))})
        }
        want = {
            i for i, (x, y) in enumerate(pts)
            if bb[0] <= x <= bb[2] and bb[1] <= y <= bb[3]
        }
        assert got == want
        # leaf ordinals reported by the raw search agree with file order
        for off, ordinal in _search_rtree(data, idx_start, 257, node_size, bb):
            assert order[ordinal] in want
