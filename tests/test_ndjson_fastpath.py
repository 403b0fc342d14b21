"""NDJSON pyarrow columnar fast path: byte-identical to the row path
(fid/id semantics, null geometry, missing/ragged properties, range
slices), and clean fallback for shapes the explicit schema can't carry
(non-Point geometries, string ids, list-typed properties)."""

from __future__ import annotations

import json

import pytest

from polars_gdal_spark.geometry import wkb_to_geom
from polars_gdal_spark.sources.formats.geojson import GeoJsonDriver

COLS = [("name", "name", "string"), ("v", "v", "bigint")]


def _write(tmp_path, feats, fname="pts.ndjson"):
    p = tmp_path / fname
    p.write_text("\n".join(json.dumps(f) for f in feats) + "\n")
    return str(p)


def _feats(n=10):
    out = []
    for i in range(n):
        f = {
            "type": "Feature",
            "geometry": (
                None
                if i == 3
                else {"type": "Point", "coordinates": [i * 1.5, -float(i)]}
            ),
            "properties": (
                {"name": f"n{i}", "v": i} if i != 5 else {"name": None}
            ),
        }
        if i % 2 == 0:
            f["id"] = 100 + i
        out.append(f)
    return out


def _table(batches):
    import pyarrow as pa

    return pa.Table.from_batches(list(batches))


def test_fast_path_matches_row_path(tmp_path):
    d = GeoJsonDriver()
    p = _write(tmp_path, _feats())
    batches = d.iter_arrow_batches(p, "features", {}, COLS, "fid", "geometry")
    assert batches is not None
    t = _table(batches)
    rows = list(d.iter_features(p, "features", {}))
    assert t.column("fid").to_pylist() == [r.fid for r in rows]
    assert t.column("name").to_pylist() == [
        r.props.get("name") for r in rows
    ]
    got_geoms = [
        None if b is None else wkb_to_geom(b)
        for b in t.column("geometry").to_pylist()
    ]
    want = [
        None if r.geom is None else (r.geom[0], tuple(r.geom[1]))
        for r in rows
    ]
    assert got_geoms == want


def test_fast_path_range_slice(tmp_path):
    d = GeoJsonDriver()
    p = _write(tmp_path, _feats())
    t = _table(
        d.iter_arrow_batches(
            p, "features", {}, COLS, "fid", "geometry", start=4, end=8
        )
    )
    assert t.column("fid").to_pylist() == [104, 5, 106, 7]
    assert t.column("name").to_pylist() == ["n4", None, "n6", "n7"]


@pytest.mark.parametrize(
    "geom",
    [
        {"type": "LineString", "coordinates": [[0, 0], [1, 1]]},
        {"type": "Point", "coordinates": [1.0, 2.0, 3.0]},
    ],
)
def test_fallback_non_point(tmp_path, geom):
    d = GeoJsonDriver()
    feats = _feats(3)
    feats[1]["geometry"] = geom
    p = _write(tmp_path, feats)
    assert (
        d.iter_arrow_batches(p, "features", {}, COLS, None, "geometry")
        is None
    )


def test_fallback_string_id(tmp_path):
    d = GeoJsonDriver()
    feats = _feats(3)
    feats[0]["id"] = "abc"
    p = _write(tmp_path, feats)
    assert (
        d.iter_arrow_batches(p, "features", {}, COLS, "fid", "geometry")
        is None
    )


def test_fallback_list_property(tmp_path):
    d = GeoJsonDriver()
    p = _write(tmp_path, _feats(3))
    cols = COLS + [("tags", "tags", "array<string>")]
    assert (
        d.iter_arrow_batches(p, "features", {}, cols, None, "geometry")
        is None
    )


def test_spark_read_uses_identical_values(spark, tmp_path):
    """End-to-end through the datasource: Spark output equals the row
    path regardless of which path executed."""
    p = _write(tmp_path, _feats(20))
    df = spark.read.format("gdal").option("fidColumn", "fid").load(p)
    got = {r["fid"]: (r["name"], r["v"]) for r in df.collect()}
    d = GeoJsonDriver()
    want = {
        r.fid: (r.props.get("name"), r.props.get("v"))
        for r in d.iter_features(p, "features", {})
    }
    assert got == want
