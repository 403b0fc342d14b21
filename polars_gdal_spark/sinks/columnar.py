"""Columnar write formats: one part encoder and one stitch step each.

GeoJSON, GeoJSONSeq, CSV, FlatGeobuf, GPKG, Arrow IPC and ESRI
Shapefile are written in two halves (reference write path
``src/lib.rs:499-573``, done as per-partition writes plus a driver-side
merge):

* ``encode_part`` runs in each write task: it encodes the task's Arrow
  batches into a *fragment* file and returns a small *summary* (row
  count, envelopes, geometry types) for the driver;
* ``stitch`` runs once in ``commit()``: it only concatenates the
  fragments in partition order and writes or patches the headers.

A shapefile's summary also carries, per DBF ``C`` field, the widest
value in latin-1 and in UTF-8: the stitch picks the charset and the
field widths across parts, re-pads each part's fixed-width records to
them, and numbers the ``.shp`` records globally (``shapefile_writer``).

Attribute values keep the assembler's value semantics (``_jsonish``):
bytes become hex, dates and other non-JSON scalars their ``str``.
Geometry arrives as WKB, WKT or GeoJSON text (``gfmt``) and is decoded
per row inside the encoder; a canonical little-endian WKB is reused as
is wherever the format stores WKB.
"""

from __future__ import annotations

import csv
import io
import json
import os
import pickle
import shutil
import sqlite3
import struct

from polars_gdal_spark.geometry import (
    geojson_to_geom,
    geom_bounds,
    geom_to_geojson,
    geom_to_wkb,
    geom_to_wkt,
    wkb_to_geom,
    wkt_to_geom,
)
from polars_gdal_spark.geometry.wkb import CODE_TYPES, wkb_is_canonical_le

#: write driver name (lower case) → columnar format key
FORMATS = {
    "geojson": "geojson",
    "geojsonseq": "geojsonseq",
    "ndjson": "geojsonseq",
    "csv": "csv",
    "flatgeobuf": "fgb",
    "fgb": "fgb",
    "gpkg": "gpkg",
    "arrow": "arrow",
    "feather": "arrow",
    "arrow ipc": "arrow",
    "ipc": "arrow",
    "esri shapefile": "shp",
    "shapefile": "shp",
    "shp": "shp",
}


def columnar_format(driver: str) -> str | None:
    """The format key of a driver written by part encoders, else None."""
    return FORMATS.get(driver.lower())


def fragment_suffix(fmt: str) -> str:
    """File suffix of a fragment: GeoJSONSeq fragments are the NDJSON
    files that ``partitioned=true`` leaves as its output."""
    return ".ndjson" if fmt == "geojsonseq" else f".{fmt}.part"


def _jsonish(v):
    """Match the value semantics of the old JSON round-trip: bytes→hex,
    non-JSON-native scalars (date/datetime/Decimal)→str, containers
    recursed. Keeps assembler output byte-identical to the NDJSON era."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return [_jsonish(x) for x in v]
    if isinstance(v, dict):
        return {k: _jsonish(x) for k, x in v.items()}
    return str(v)


def _values(batch, name: str, keep_binary: bool = False) -> list:
    """Python values of one column under ``_jsonish`` semantics (binary
    kept as bytes with ``keep_binary``); all None for a column the batch
    lacks."""
    import pyarrow as pa

    i = batch.schema.get_field_index(name)
    if i < 0:
        return [None] * batch.num_rows
    col = batch.column(i)
    t = col.type
    vals = col.to_pylist()
    native = (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or (keep_binary and pa.types.is_binary(t))
    )
    return vals if native else [_jsonish(v) for v in vals]


def decode_geom(v, gfmt: str):
    """Internal geometry tuple of one geometry cell, or None."""
    if v is None:
        return None
    if gfmt == "wkb":
        return wkb_to_geom(bytes(v))
    if gfmt == "wkt":
        return wkt_to_geom(v)
    return geojson_to_geom(json.loads(v))


def _geoms(batch, geom_col: str, gfmt: str) -> list:
    return [decode_geom(v, gfmt) for v in batch.column(geom_col).to_pylist()]


def _canonical_wkb(batch, geom_col: str, gfmt: str) -> list:
    """Canonical little-endian WKB per row (None for a null geometry):
    WKB input that already is canonical is reused without a decode."""
    out = []
    for v in batch.column(geom_col).to_pylist():
        if v is not None and not (gfmt == "wkb" and wkb_is_canonical_le(v)):
            v = geom_to_wkb(decode_geom(v, gfmt))
        out.append(v)
    return out


def _props(batch, geom_col: str) -> list[dict]:
    """Per-row property dicts over every non-geometry column, in batch
    column order."""
    names = [n for n in batch.schema.names if n != geom_col]
    cols = [_values(batch, n) for n in names]
    return [dict(zip(names, row)) for row in zip(*cols)] if names else [
        {} for _ in range(batch.num_rows)
    ]


class _Spec:
    """What the encoder and the stitch of one write share."""

    def __init__(self, options, schema, geom_col, gfmt):
        self.options = options
        self.schema = schema
        self.geom_col = geom_col
        self.gfmt = gfmt
        self.attrs = [f for f in schema.fields if f.name != geom_col]


# ------------------------------------------------------------ GeoJSON(Seq)


def _feature_lines(batch, spec: _Spec) -> list[str]:
    return [
        json.dumps(
            {
                "type": "Feature",
                "geometry": None if g is None else geom_to_geojson(g),
                "properties": p,
            }
        )
        for g, p in zip(_geoms(batch, spec.geom_col, spec.gfmt), _props(batch, spec.geom_col))
    ]


def _encode_geojson(batches, f, spec: _Spec):
    n = 0
    for batch in batches:
        lines = _feature_lines(batch, spec)
        if lines:
            f.write(((",\n" if n else "") + ",\n".join(lines)).encode())
            n += len(lines)
    return n, None


def _stitch_geojson(frags, summaries, path, spec: _Spec, append):
    with open(path, "wb") as out:
        out.write(b'{"type": "FeatureCollection", "features": [\n')
        for i, frag in enumerate(frags):
            if i:
                out.write(b",\n")
            _copy(frag, out)
        out.write(b"\n]}\n")


def _encode_geojsonseq(batches, f, spec: _Spec):
    n = 0
    for batch in batches:
        lines = _feature_lines(batch, spec)
        f.write("".join(line + "\n" for line in lines).encode())
        n += len(lines)
    return n, None


def _stitch_concat(frags, summaries, path, spec: _Spec, append):
    with open(path, "wb") as out:
        for frag in frags:
            _copy(frag, out)


def _copy(frag: str, out) -> None:
    with open(frag, "rb") as src:
        shutil.copyfileobj(src, out, 1 << 20)


# ------------------------------------------------------------------- CSV


def _encode_csv(batches, f, spec: _Spec):
    names = [a.name for a in spec.attrs]
    n = 0
    for batch in batches:
        buf = io.StringIO(newline="")
        cols = [_values(batch, c) for c in names]
        wkt = [
            "" if g is None else geom_to_wkt(g)
            for g in _geoms(batch, spec.geom_col, spec.gfmt)
        ]
        csv.writer(buf).writerows(zip(*cols, wkt))
        f.write(buf.getvalue().encode("utf-8"))
        n += batch.num_rows
    return n, None


def _stitch_csv(frags, summaries, path, spec: _Spec, append):
    buf = io.StringIO(newline="")
    csv.writer(buf).writerow([a.name for a in spec.attrs] + [spec.geom_col])
    with open(path, "wb") as out:
        out.write(buf.getvalue().encode("utf-8"))
        for frag in frags:
            _copy(frag, out)


def _srid(options: dict) -> int:
    """The EPSG code of the ``srs`` option (``EPSG:3857``, ``3857``)."""
    try:
        return int(str(options.get("srs", "4326")).split(":")[-1])
    except ValueError:  # WKT CRS (e.g. from a .prj) — store under 4326 slot
        return 4326


# ------------------------------------------------------------ FlatGeobuf


def _fgb_columns(spec: _Spec):
    from polars_gdal_spark.sources.formats.flatgeobuf import fgb_columns

    return fgb_columns([(a.name, a.dataType.simpleString()) for a in spec.attrs])


def _encode_fgb(batches, f, spec: _Spec):
    """Fragment: the size-prefixed feature records; summary: each
    record's length and envelope (None without one)."""
    from polars_gdal_spark.sources.formats.flatgeobuf import encode_feature

    cols = _fgb_columns(spec)
    lengths, bounds = [], []
    for batch in batches:
        vals = [_values(batch, c, keep_binary=True) for c, _ in cols]
        geoms = _geoms(batch, spec.geom_col, spec.gfmt)
        for i, g in enumerate(geoms):
            rec = encode_feature(g, {c: v[i] for (c, _), v in zip(cols, vals)}, cols)
            f.write(rec)
            lengths.append(len(rec))
            bounds.append(geom_bounds(g) if g is not None else None)
    return len(lengths), {"lengths": lengths, "bounds": bounds}


def _stitch_fgb(frags, summaries, path, spec: _Spec, append):
    from polars_gdal_spark.sources.datasource import _bool_opt
    from polars_gdal_spark.sources.formats.flatgeobuf import write_fgb_records

    opts = spec.options
    with_index = _bool_opt(opts, "spatialIndex")
    node_size = (
        int(opts.get("indexnodesize", opts.get("indexNodeSize", 16)))
        if with_index
        else 0
    )
    records, bounds = [], []
    for frag, s in zip(frags, summaries):
        with open(frag, "rb") as src:
            data = memoryview(src.read())
        pos = 0
        for ln in s["lengths"]:
            records.append(data[pos : pos + ln])
            pos += ln
        bounds.extend(s["bounds"])
    write_fgb_records(
        path,
        _fgb_columns(spec),
        records,
        bounds,
        layer_name=opts.get("layer", "layer"),
        srs_code=_srid(opts),
        index_node_size=node_size,
    )


# ------------------------------------------------------------------ GPKG

_GPKG_SQL_TYPES = {
    "bigint": "INTEGER", "int": "INTEGER", "smallint": "INTEGER",
    "double": "REAL", "float": "REAL",
    "string": "TEXT", "boolean": "INTEGER",
    "date": "TEXT", "timestamp": "TEXT", "timestamp_ntz": "TEXT",
    "binary": "BLOB",
}


def _gpkg_header(srid: int) -> bytes:
    """Standard GeoPackage geometry blob header (no envelope); the WKB
    follows it."""
    return b"GP" + bytes([0x00, 0b00000001]) + struct.pack("<i", srid)


def _sql_value(v):
    """sqlite binds no list or dict: those go in as JSON text."""
    return json.dumps(v) if isinstance(v, (list, dict)) else v


def _encode_gpkg(batches, f, spec: _Spec):
    """Fragment: the pickled insert rows (attribute values, then the
    GP-header + WKB blob); summary: the first geometry's type name."""
    header = _gpkg_header(_srid(spec.options))
    rows, first = [], None
    for batch in batches:
        cols = [[_sql_value(v) for v in _values(batch, a.name)] for a in spec.attrs]
        wkbs = _canonical_wkb(batch, spec.geom_col, spec.gfmt)
        if first is None:
            w = next((w for w in wkbs if w is not None), None)
            if w is not None:
                first = CODE_TYPES[struct.unpack_from("<I", w, 1)[0] % 1000].upper()
        blobs = [None if w is None else header + w for w in wkbs]
        rows.extend(zip(*cols, blobs))
    pickle.dump(rows, f, protocol=pickle.HIGHEST_PROTOCOL)
    return len(rows), {"geom_type": first}


#: the DDL keeps the indentation that earlier files store
_GPKG_SCHEMA = """
            PRAGMA application_id = 0x47504B47;
            PRAGMA user_version = 10300;
            CREATE TABLE gpkg_spatial_ref_sys (
              srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
              organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
              definition TEXT NOT NULL, description TEXT);
            INSERT INTO gpkg_spatial_ref_sys VALUES
              ('Undefined cartesian SRS', -1, 'NONE', -1, 'undefined', NULL),
              ('Undefined geographic SRS', 0, 'NONE', 0, 'undefined', NULL),
              ('WGS 84', 4326, 'EPSG', 4326,
               'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]]]',
               NULL);
            CREATE TABLE gpkg_contents (
              table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL,
              identifier TEXT UNIQUE, description TEXT DEFAULT '',
              last_change DATETIME DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ','now')),
              min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE,
              srs_id INTEGER);
            CREATE TABLE gpkg_geometry_columns (
              table_name TEXT NOT NULL, column_name TEXT NOT NULL,
              geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
              z TINYINT NOT NULL, m TINYINT NOT NULL,
              CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name));
"""


def _stitch_gpkg(frags, summaries, path, spec: _Spec, append):
    """``append=True`` adds a NEW layer (feature table) to an existing
    GeoPackage — the container keeps its other layers untouched; a layer
    name collision raises instead of replacing (GDAL's create-only layer
    semantics, reference src/lib.rs:519-528)."""
    layer = spec.options.get("layer", "layer")
    if append:
        if not os.path.exists(path):
            raise ValueError(f"cannot append: {path!r} does not exist")
    elif os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        if append:
            try:
                exists = con.execute(
                    "SELECT 1 FROM gpkg_contents WHERE table_name = ?",
                    (layer,),
                ).fetchone()
            except sqlite3.OperationalError as e:
                # empty file / foreign sqlite db: no gpkg_contents table
                raise ValueError(
                    f"cannot append: {path!r} is not a GeoPackage ({e})"
                ) from e
            if exists:
                raise ValueError(
                    f"layer {layer!r} already exists in {path!r}; "
                    "pick a new layer name"
                )
        else:
            con.executescript(_GPKG_SCHEMA)
        _gpkg_insert_layer(con, frags, summaries, layer, spec)
        con.commit()
    finally:
        con.close()


def _gpkg_insert_layer(con, frags, summaries, layer, spec: _Spec) -> None:
    """Create one feature table + its contents/geometry-columns rows."""
    srid = _srid(spec.options)
    geom_col = spec.geom_col
    attr_cols = [
        (a.name, _GPKG_SQL_TYPES.get(a.dataType.simpleString(), "TEXT"))
        for a in spec.attrs
    ]
    cols_sql = ", ".join(f'"{c}" {t}' for c, t in attr_cols)
    con.execute(
        f'CREATE TABLE "{layer}" (fid INTEGER PRIMARY KEY AUTOINCREMENT'
        + (f", {cols_sql}" if cols_sql else "")
        + f', "{geom_col}" BLOB)'
    )
    placeholders = ", ".join(["?"] * (len(attr_cols) + 1))
    names = ", ".join([f'"{c}"' for c, _ in attr_cols] + [f'"{geom_col}"'])
    insert = f'INSERT INTO "{layer}" ({names}) VALUES ({placeholders})'
    for frag in frags:
        with open(frag, "rb") as src:
            con.executemany(insert, pickle.load(src))
    geom_type = next(
        (s["geom_type"] for s in summaries if s["geom_type"]), "GEOMETRY"
    )
    con.execute(
        "INSERT INTO gpkg_contents (table_name, data_type, identifier, srs_id)"
        " VALUES (?, 'features', ?, ?)",
        (layer, layer, srid),
    )
    con.execute(
        "INSERT INTO gpkg_geometry_columns VALUES (?, ?, ?, ?, 0, 0)",
        (layer, geom_col, geom_type, srid),
    )


# ------------------------------------------------------------- Arrow IPC

_ARROW_TYPES = {
    "string": "string",
    "bigint": "int64",
    "int": "int64",
    "smallint": "int64",
    "double": "float64",
    "float": "float64",
    "boolean": "bool_",
    "date": "date32",
    "timestamp": "timestamp_us",
    "timestamp_ntz": "timestamp_us",
    "binary": "binary",
}


def _arrow_schema(spec: _Spec):
    """The IPC file's schema: each attribute typed by ``_ARROW_TYPES``
    (``string`` for any other type), then the WKB geometry."""
    import pyarrow as pa

    fields = []
    for a in spec.attrs:
        tname = _ARROW_TYPES.get(a.dataType.simpleString(), "string")
        typ = pa.timestamp("us") if tname == "timestamp_us" else getattr(pa, tname)()
        fields.append(pa.field(a.name, typ))
    fields.append(pa.field(spec.geom_col, pa.binary()))
    return pa.schema(fields)


def _arrow_column(batch, name: str, typ):
    """One attribute cast to its IPC type. A column that maps to
    ``string`` from another type holds ``str`` of each ``_jsonish``
    value (a list as its Python repr); a timestamp keeps its UTC
    instant."""
    import pyarrow as pa

    i = batch.schema.get_field_index(name)
    if i < 0:
        return pa.nulls(batch.num_rows, typ)
    col = batch.column(i)
    if typ == pa.string() and not pa.types.is_string(col.type):
        return pa.array(
            [None if v is None else str(v) for v in _values(batch, name)], typ
        )
    return col.cast(typ)


def _envelope(wkbs: list):
    """(bbox, geometry types) of canonical WKB values: the x/y extent
    over every coordinate (None without any) and the GeoParquet type
    names."""
    import numpy as np

    from polars_gdal_spark.sources.geoparquet import _type_name

    vals = [w for w in wkbs if w is not None]
    codes = {struct.unpack_from("<I", w, 1)[0] for w in vals}
    types = {_type_name(c) for c in codes}
    if codes == {1} and vals:  # 2D points: x, y at fixed offsets
        raw = np.frombuffer(b"".join(vals), dtype=np.uint8).reshape(-1, 21)
        xy = raw[:, 5:21].copy().view("<f8")
        lo, hi = xy.min(axis=0), xy.max(axis=0)
        return [float(lo[0]), float(lo[1]), float(hi[0]), float(hi[1])], types
    boxes = [b for b in (geom_bounds(wkb_to_geom(w)) for w in vals) if b]
    if not boxes:
        return None, types
    return _merge_bbox(boxes), types


def _merge_bbox(boxes):
    return [
        min(b[0] for b in boxes),
        min(b[1] for b in boxes),
        max(b[2] for b in boxes),
        max(b[3] for b in boxes),
    ]


def _encode_arrow(batches, f, spec: _Spec):
    """Fragment: an IPC stream of the batches cast to the file schema;
    summary: the part's bbox and geometry types."""
    import pyarrow as pa

    schema = _arrow_schema(spec)
    n, boxes, types = 0, [], set()
    with pa.ipc.new_stream(f, schema) as w:
        for batch in batches:
            wkbs = _canonical_wkb(batch, spec.geom_col, spec.gfmt)
            bbox, t = _envelope(wkbs)
            if bbox:
                boxes.append(bbox)
            types |= t
            arrays = [
                _arrow_column(batch, fld.name, fld.type) for fld in list(schema)[:-1]
            ]
            arrays.append(pa.array(wkbs, pa.binary()))
            w.write_batch(pa.RecordBatch.from_arrays(arrays, schema=schema))
            n += batch.num_rows
    return n, {"bbox": _merge_bbox(boxes) if boxes else None, "types": types}


def _stitch_arrow(frags, summaries, path, spec: _Spec, append):
    """Arrow IPC (Feather v2) file: WKB binary geometry column plus a
    GeoParquet-style ``geo`` schema-metadata entry — byte-compatible
    with the reference's own write fixture (``test_data/cities.arrow``,
    reference ``src/test.rs:123-158``: Arrow IPC, WKB geometry, ``geo``
    footer with encoding/CRS/bbox). The ``geo`` JSON is produced by the
    same helper the GeoParquet datasource uses, so the two formats can
    never drift. Read back by ``sources/formats/arrow_ipc.py``."""
    import pyarrow as pa

    from polars_gdal_spark.sources.geoparquet import _geo_meta_json

    opts = spec.options
    crs = opts.get("crs", opts.get("srs"))
    if not crs:
        gf = next((f for f in spec.schema.fields if f.name == spec.geom_col), None)
        if gf is not None and gf.metadata:
            crs = gf.metadata.get("crs")
    boxes = [s["bbox"] for s in summaries if s["bbox"]]
    types = set().union(*(s["types"] for s in summaries))
    meta = {
        b"geo": _geo_meta_json(
            spec.geom_col, crs, sorted(types), _merge_bbox(boxes) if boxes else None
        )
    }
    schema = _arrow_schema(spec).with_metadata(meta)
    with pa.OSFile(path, "wb") as sink, pa.ipc.new_file(sink, schema) as w:
        for frag in frags:
            with pa.OSFile(frag, "rb") as src:
                for batch in pa.ipc.open_stream(src):
                    w.write_batch(batch)


# ------------------------------------------------------------- Shapefile


def _shp_fields(spec: _Spec) -> list[tuple[str, str]]:
    return [(a.name, a.dataType.simpleString()) for a in spec.attrs]


def _encode_shp(batches, f, spec: _Spec):
    """Fragment and summary of ``shapefile_writer.encode_part``: the
    ``.shp`` and ``.dbf`` records, the shape code, the bbox and z-range,
    and per ``C`` field its widest value in latin-1 and UTF-8."""
    from polars_gdal_spark.sinks.shapefile_writer import encode_part as encode

    names = [a.name for a in spec.attrs]
    summary = encode(
        f,
        _shp_fields(spec),
        (
            (_geoms(b, spec.geom_col, spec.gfmt), [_values(b, c) for c in names])
            for b in batches
        ),
    )
    return summary["n"], summary


def _stitch_shp(frags, summaries, path, spec: _Spec, append):
    """The ``.prj`` holds the ``srs`` option when it is WKT, else WGS 84."""
    from polars_gdal_spark.sinks.shapefile_writer import _WGS84_WKT, stitch as stitch_shp

    srs = spec.options.get("srs")
    wkt = srs if srs and srs.upper().startswith(("GEOGCS", "PROJCS")) else _WGS84_WKT
    stitch_shp(path, _shp_fields(spec), frags, summaries, wkt)


# ------------------------------------------------------------- interface

_CODECS = {
    "geojson": (_encode_geojson, _stitch_geojson),
    "geojsonseq": (_encode_geojsonseq, _stitch_concat),
    "csv": (_encode_csv, _stitch_csv),
    "fgb": (_encode_fgb, _stitch_fgb),
    "gpkg": (_encode_gpkg, _stitch_gpkg),
    "arrow": (_encode_arrow, _stitch_arrow),
    "shp": (_encode_shp, _stitch_shp),
}


def encode_part(
    fmt: str, batches, frag: str, options: dict, schema, geom_col: str,
    gfmt: str = "wkb",
) -> tuple[int, object]:
    """Encode one write task's Arrow ``batches`` into the fragment file
    ``frag``; returns (row count, summary for ``stitch``)."""
    spec = _Spec(options, schema, geom_col, gfmt)
    with open(frag, "wb") as f:
        return _CODECS[fmt][0](batches, f, spec)


def stitch(
    fmt: str, frags: list[str], summaries: list, path: str, options: dict,
    schema, geom_col: str, append: bool = False,
) -> None:
    """Write the final resource at ``path`` from the fragments, in the
    given (partition) order."""
    spec = _Spec(options, schema, geom_col, None)
    _CODECS[fmt][1](frags, summaries, path, spec, append)
