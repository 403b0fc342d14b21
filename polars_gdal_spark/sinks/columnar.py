"""Write formats: one part encoder and one stitch step per format.

Every ``gdal`` write driver is written in two halves (reference write
path ``src/lib.rs:499-573``, done as per-partition writes plus a
driver-side merge):

* ``encode_part`` runs in each write task: it encodes the task's Arrow
  batches into a *fragment* file and returns a small *summary* (row
  count, envelopes, geometry types, charset needs) for the driver;
* ``stitch`` runs once in ``commit()``: it concatenates the fragments in
  partition order and writes what depends on the whole layer: headers,
  field widths, charsets, numbering (a shapefile's ``C`` widths and
  records, DXF handles). GPX writes every part's waypoints before any
  track. A MapInfo TAB fragment holds the part's decoded rows, because
  the ``.map`` coordinate scale and block layout depend on every row.

``resolve_format`` maps a driver name (and, for GDAL's "MapInfo File",
the path's extension) to its format key; an unknown driver raises.

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
import re
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

#: write driver name (lower case) → format key
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
    "kml": "kml",
    "gml": "gml",
    "gpx": "gpx",
    "mapinfo file": "mif",
    "mif": "mif",
    "mif/mid": "mif",
    "mapinfo tab": "tab",
    "tab": "tab",
    "dxf": "dxf",
    "pgdump": "pgdump",
    "pg_dump": "pgdump",
    "postgresql": "pgdump",
}

#: formats that write files beside the one at the write's path
SIDECAR_FORMATS = ("shp", "mif", "tab")


def resolve_format(driver: str, path: str = "") -> str:
    """The format key that writes ``driver`` to ``path``. GDAL's
    "MapInfo File" driver picks the form by extension: ``.tab`` writes
    the native TAB family, anything else MIF/MID."""
    fmt = FORMATS.get(driver.lower())
    if fmt is None:
        raise ValueError(
            f"unsupported write driver {driver!r} "
            "(have: GeoJSON, GeoJSONSeq, CSV, GPKG, ESRI Shapefile, KML, "
            "GPX, GML, FlatGeobuf, MapInfo File, MapInfo TAB, Arrow, DXF, "
            "PGDump)"
        )
    if fmt == "mif" and path.lower().endswith(".tab"):
        return "tab"
    return fmt


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


def _rows(batch, spec) -> zip:
    """(geometry, properties) of each row of ``batch``."""
    return zip(_geoms(batch, spec.geom_col, spec.gfmt), _props(batch, spec.geom_col))


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
        for g, p in _rows(batch, spec)
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
    _wrap(frags, path, "", "")


def _wrap(frags: list[str], path: str, head: str, tail: str) -> None:
    """``path`` holds ``head``, the fragments in order, then ``tail``."""
    with open(path, "wb") as out:
        out.write(head.encode("utf-8"))
        for frag in frags:
            _copy(frag, out)
        out.write(tail.encode("utf-8"))


def _copy(frag: str, out, start: int = 0, stop: int | None = None) -> None:
    """Copy bytes ``start:stop`` of ``frag`` (to its end by default)."""
    with open(frag, "rb") as src:
        src.seek(start)
        if stop is None:
            shutil.copyfileobj(src, out, 1 << 20)
        else:
            out.write(src.read(stop - start))


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
    _wrap(frags, path, buf.getvalue(), "")


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
        int(opts.get("indexnodesize", 16))
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


# ------------------------------------------------------------- KML, GML


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _xml_tag(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9_]", "_", name)


def _encode_lines(batches, f, spec: _Spec, line) -> tuple[int, None]:
    """Fragment: ``line(geometry, properties)`` of every row, in order."""
    n = 0
    for batch in batches:
        f.write("".join(line(g, p) for g, p in _rows(batch, spec)).encode("utf-8"))
        n += batch.num_rows
    return n, None


def _kml_coord_str(pts) -> str:
    return " ".join(",".join(str(v) for v in p) for p in pts)


def _kml_geom_xml(gj: dict) -> str:
    """GeoJSON geometry dict → KML geometry element (inverse of the
    KmlDriver reader; covers the same shape set)."""
    t = gj["type"]
    c = gj.get("coordinates")
    if t == "Point":
        return f"<Point><coordinates>{_kml_coord_str([c])}</coordinates></Point>"
    if t == "LineString":
        return (
            f"<LineString><coordinates>{_kml_coord_str(c)}"
            "</coordinates></LineString>"
        )
    if t == "Polygon":
        out = ["<Polygon>"]
        for i, ring in enumerate(c):
            tag = "outerBoundaryIs" if i == 0 else "innerBoundaryIs"
            out.append(
                f"<{tag}><LinearRing><coordinates>{_kml_coord_str(ring)}"
                f"</coordinates></LinearRing></{tag}>"
            )
        out.append("</Polygon>")
        return "".join(out)
    if t in ("MultiPoint", "MultiLineString", "MultiPolygon"):
        sub = t[5:]
        return (
            "<MultiGeometry>"
            + "".join(_kml_geom_xml({"type": sub, "coordinates": g}) for g in c)
            + "</MultiGeometry>"
        )
    if t == "GeometryCollection":
        return (
            "<MultiGeometry>"
            + "".join(_kml_geom_xml(g) for g in gj["geometries"])
            + "</MultiGeometry>"
        )
    raise ValueError(f"cannot encode geometry type {t!r} as KML")


def _encode_kml(batches, f, spec: _Spec):
    """One Placemark line per row: name/description map to KML elements,
    the other attributes go to ExtendedData (matching KmlDriver read)."""
    extra_cols = [a.name for a in spec.attrs if a.name not in ("name", "description")]

    def placemark(g, props) -> str:
        out = ["<Placemark>"]
        for tag in ("name", "description"):
            if props.get(tag) is not None:
                out.append(f"<{tag}>{_xml_escape(str(props[tag]))}</{tag}>")
        extra = [c for c in extra_cols if props.get(c) is not None]
        if extra:
            out.append("<ExtendedData>")
            out.extend(
                f'<Data name="{_xml_escape(c)}"><value>'
                f"{_xml_escape(str(props[c]))}</value></Data>"
                for c in extra
            )
            out.append("</ExtendedData>")
        if g is not None:
            out.append(_kml_geom_xml(geom_to_geojson(g)))
        out.append("</Placemark>\n")
        return "".join(out)

    return _encode_lines(batches, f, spec, placemark)


def _stitch_kml(frags, summaries, path, spec: _Spec, append):
    layer = _xml_escape(spec.options.get("layer", "layer"))
    head = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
        f"<name>{layer}</name>\n"
    )
    _wrap(frags, path, head, "</Document></kml>\n")


def _gml_coord_str(pts) -> str:
    return " ".join(f"{p[0]:.17g},{p[1]:.17g}" for p in pts)


def _gml_geom_xml(gj: dict) -> str:
    """GeoJSON geometry dict → GML2 geometry element (inverse of
    GmlDriver's coordinates-based read path)."""
    t = gj["type"]
    c = gj.get("coordinates")
    if t == "Point":
        return (
            f"<gml:Point><gml:coordinates>{_gml_coord_str([c])}"
            "</gml:coordinates></gml:Point>"
        )
    if t == "LineString":
        return (
            f"<gml:LineString><gml:coordinates>{_gml_coord_str(c)}"
            "</gml:coordinates></gml:LineString>"
        )
    if t == "Polygon":
        out = ["<gml:Polygon>"]
        for i, ring in enumerate(c):
            b = "outerBoundaryIs" if i == 0 else "innerBoundaryIs"
            out.append(
                f"<gml:{b}><gml:LinearRing><gml:coordinates>"
                f"{_gml_coord_str(ring)}"
                f"</gml:coordinates></gml:LinearRing></gml:{b}>"
            )
        out.append("</gml:Polygon>")
        return "".join(out)
    if t in ("MultiPoint", "MultiLineString", "MultiPolygon"):
        sub_t = t[5:]
        member = {
            "MultiPoint": "pointMember",
            "MultiLineString": "lineStringMember",
            "MultiPolygon": "polygonMember",
        }[t]
        inner = "".join(
            f"<gml:{member}>"
            + _gml_geom_xml({"type": sub_t, "coordinates": sc})
            + f"</gml:{member}>"
            for sc in c
        )
        return f"<gml:{t}>{inner}</gml:{t}>"
    if t == "GeometryCollection":
        inner = "".join(
            "<gml:geometryMember>" + _gml_geom_xml(g) + "</gml:geometryMember>"
            for g in gj["geometries"]
        )
        return f"<gml:MultiGeometry>{inner}</gml:MultiGeometry>"
    raise ValueError(f"unsupported geometry type {t!r}")


def _encode_gml(batches, f, spec: _Spec):
    """One GML2 featureMember line per row (round-trips through
    GmlDriver)."""
    layer = _xml_tag(spec.options.get("layer", "layer"))
    tags = [(a.name, _xml_tag(a.name)) for a in spec.attrs]

    def member(g, props) -> str:
        out = [f"<gml:featureMember><ogr:{layer}>"]
        out.extend(
            f"<ogr:{tag}>{_xml_escape(str(props[c]))}</ogr:{tag}>"
            for c, tag in tags
            if props.get(c) is not None
        )
        if g is not None:
            out.append(
                "<ogr:geometryProperty>"
                + _gml_geom_xml(geom_to_geojson(g))
                + "</ogr:geometryProperty>"
            )
        out.append(f"</ogr:{layer}></gml:featureMember>\n")
        return "".join(out)

    return _encode_lines(batches, f, spec, member)


def _stitch_gml(frags, summaries, path, spec: _Spec, append):
    head = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<ogr:FeatureCollection xmlns:ogr="http://ogr.maptools.org/" '
        'xmlns:gml="http://www.opengis.net/gml">\n'
    )
    _wrap(frags, path, head, "</ogr:FeatureCollection>\n")


# ------------------------------------------------------------------- GPX


def _encode_gpx(batches, f, spec: _Spec):
    """Points → <wpt>, LineStrings/MultiLineStrings → <trk> (matching
    GpxDriver's waypoints/tracks layers on read). Fragment: the part's
    waypoint lines, then its track lines; summary: the byte length of
    the waypoints."""
    wpts, trks, n = [], [], 0
    for batch in batches:
        n += batch.num_rows
        for g, props in _rows(batch, spec):
            if g is None:
                continue
            name = props.get("name")
            name_xml = "" if name is None else f"<name>{_xml_escape(str(name))}</name>"
            t, c = g
            if t == "Point":
                ele, time = props.get("ele"), props.get("time")
                ele_xml = "" if ele is None else f"<ele>{ele}</ele>"
                time_xml = (
                    "" if time is None else f"<time>{_xml_escape(str(time))}</time>"
                )
                wpts.append(
                    f'<wpt lat="{c[1]}" lon="{c[0]}">{ele_xml}{time_xml}{name_xml}</wpt>\n'
                )
            elif t in ("LineString", "MultiLineString"):
                seg_xml = "".join(
                    "<trkseg>"
                    + "".join(f'<trkpt lat="{p[1]}" lon="{p[0]}"/>' for p in seg)
                    + "</trkseg>"
                    for seg in ([c] if t == "LineString" else c)
                )
                trks.append(f"<trk>{name_xml}{seg_xml}</trk>\n")
            else:
                raise ValueError(f"cannot encode geometry type {t!r} as GPX")
    head = "".join(wpts).encode("utf-8")
    f.write(head)
    f.write("".join(trks).encode("utf-8"))
    return n, len(head)


def _stitch_gpx(frags, summaries, path, spec: _Spec, append):
    with open(path, "wb") as out:
        out.write(
            b'<?xml version="1.0" encoding="UTF-8"?>\n'
            b'<gpx version="1.1" creator="polars_gdal_spark"'
            b' xmlns="http://www.topografix.com/GPX/1/1">\n'
        )
        for frag, wpt_len in zip(frags, summaries):
            _copy(frag, out, 0, wpt_len)
        for frag, wpt_len in zip(frags, summaries):
            _copy(frag, out, wpt_len)
        out.write(b"</gpx>\n")


# --------------------------------------------------------------- MIF/MID

_MIF_TYPES = {
    "string": "Char(254)",
    "bigint": "Integer",
    "int": "Integer",
    "smallint": "Integer",
    "double": "Float",
    "float": "Float",
    "boolean": "Logical",
    "date": "Date",
}


def _fits_latin1(text: str) -> bool:
    try:
        text.encode("latin-1")
    except UnicodeEncodeError:
        return False
    return True


def _mif_pts(pts) -> str:
    return "".join(f"{x!r} {y!r}\n" for x, y in pts)


def _mif_geom(g) -> str:
    """The MIF object of one geometry; NONE for a null one. MultiPolygon
    rings merge into one Region (the MIF Region object has no
    multi-feature boundary; same as MapInfo)."""
    if g is None:
        return "NONE\n"
    t, c = g
    if t == "Point":
        return f"Point {c[0]!r} {c[1]!r}\n"
    if t == "MultiPoint":
        return f"Multipoint {len(c)}\n" + _mif_pts(c)
    if t == "LineString":
        return f"Pline {len(c)}\n" + _mif_pts(c)
    if t == "MultiLineString":
        return f"Pline Multiple {len(c)}\n" + "".join(
            f"  {len(seg)}\n" + _mif_pts(seg) for seg in c
        )
    if t in ("Polygon", "MultiPolygon"):
        rings = [r for poly in c for r in poly] if t == "MultiPolygon" else c
        return f"Region {len(rings)}\n" + "".join(
            f"  {len(ring)}\n" + _mif_pts(ring) for ring in rings
        )
    raise ValueError(f"MIF writer: unsupported geometry {t}")


def _mid_cell(v):
    if isinstance(v, bool):
        return "T" if v else "F"
    return "" if v is None else v


def _encode_mif(batches, f, spec: _Spec):
    """MapInfo MIF/MID (round-trips through MapInfoMifDriver). Fragment:
    the part's MIF objects, then its MID rows, in UTF-8; summary: the
    MIF length and whether the MID text needs UTF-8."""
    mid = io.StringIO(newline="")
    w = csv.writer(mid)
    n = 0
    for batch in batches:
        n += batch.num_rows
        f.write("".join(map(_mif_geom, _geoms(batch, spec.geom_col, spec.gfmt))).encode())
        cols = [[_mid_cell(v) for v in _values(batch, a.name)] for a in spec.attrs]
        w.writerows(zip(*cols) if cols else [()] * batch.num_rows)
    text = mid.getvalue()
    summary = {"mif": f.tell(), "utf8": not _fits_latin1(text)}
    f.write(text.encode("utf-8"))
    return n, summary


def _stitch_mif(frags, summaries, path, spec: _Spec, append):
    """Classic "Neutral" (latin-1) when all the text fits it, else UTF-8
    with the Charset "UTF-8" declaration the reader (and MapInfo/GDAL)
    honor. Null geometry → NONE."""
    cols = "".join(
        f"  {a.name} {_MIF_TYPES.get(a.dataType.simpleString(), 'Char(254)')}\n"
        for a in spec.attrs
    )
    utf8 = any(s["utf8"] for s in summaries) or not _fits_latin1(cols)
    head = (
        f'Version 300\nCharset "{"UTF-8" if utf8 else "Neutral"}"\n'
        f'Delimiter ","\nColumns {len(spec.attrs)}\n{cols}Data\n\n'
    )
    with open(path, "wb") as mif, open(os.path.splitext(path)[0] + ".mid", "wb") as mid:
        mif.write(head.encode("utf-8" if utf8 else "latin-1"))
        for frag, s in zip(frags, summaries):
            _copy(frag, mif, 0, s["mif"])
        for frag, s in zip(frags, summaries):
            if utf8:
                _copy(frag, mid, s["mif"])
                continue
            with open(frag, "rb") as src:
                src.seek(s["mif"])
                mid.write(src.read().decode("utf-8").encode("latin-1"))


# ------------------------------------------------------------------- DXF


def _dxf_escape(text: str) -> str:
    """AutoCAD ASCII-DXF convention: non-ASCII chars travel as \\U+XXXX
    escapes (what GDAL's DXF writer emits)."""
    return "".join(ch if ord(ch) < 128 else "\\U+%04X" % ord(ch) for ch in text)


def _dxf_pairs(*pairs) -> str:
    return "".join(f"{code}\n{val}\n" for code, val in pairs)


def _dxf_lwpolyline(pts, closed: bool) -> tuple[str, str]:
    return "LWPOLYLINE", _dxf_pairs(
        (90, len(pts)),
        (70, 1 if closed else 0),
        *((c, repr(v)) for x, y in pts for c, v in ((10, x), (20, y))),
    )


def _dxf_ring(poly) -> list:
    ring = list(poly[0])
    if len(ring) > 1 and ring[0] == ring[-1]:
        ring = ring[:-1]  # the closed flag carries the closure
    return ring


def _dxf_entities(g, text) -> list[tuple[str, str]]:
    """(entity kind, group pairs after the layer) of each entity of one
    row: a ``Text`` value makes the point a TEXT entity; a null geometry
    with a text is a TEXT at the origin, without one nothing."""
    if g is None:
        if text is None:
            return []
        g = ("Point", (0.0, 0.0))
    t, c = g
    if t == "Point":
        body = _dxf_pairs((10, repr(c[0])), (20, repr(c[1])))
        if text is None:
            return [("POINT", body)]
        return [("TEXT", body + _dxf_pairs((1, _dxf_escape(text))))]
    if t == "MultiPoint":
        return [("POINT", _dxf_pairs((10, repr(p[0])), (20, repr(p[1])))) for p in c]
    if t == "LineString":
        return [_dxf_lwpolyline(c, False)]
    if t == "MultiLineString":
        return [_dxf_lwpolyline(seg, False) for seg in c]
    if t == "Polygon":
        return [_dxf_lwpolyline(_dxf_ring(c), True)]
    if t == "MultiPolygon":
        return [_dxf_lwpolyline(_dxf_ring(poly), True) for poly in c]
    raise ValueError(f"DXF writer: unsupported geometry {t}")


def _encode_dxf(batches, f, spec: _Spec):
    """ASCII DXF entities (round-trips through DxfDriver). Attribute
    mapping mirrors the reader's GDAL-parity subset: a ``Layer`` column
    (default ``"0"``) and a ``Text`` column. Polygon interior rings are
    dropped (the DXF line-work model has no holes — same loss as GDAL's
    DXF writer); Multi* parts emit one entity each, sharing the row's
    handle.

    Fragment: the pickled entity text split at each handle, and each
    handle, the row's number within the part; summary: the row count."""
    chunks, handles, cur, n = [], [], [], 0
    for batch in batches:
        rows = zip(
            _geoms(batch, spec.geom_col, spec.gfmt),
            _values(batch, "Layer"),
            _values(batch, "Text"),
        )
        for g, layer, text in rows:
            n += 1
            for kind, body in _dxf_entities(g, text):
                cur.append(f"0\n{kind}\n5\n")
                chunks.append("".join(cur))
                handles.append(n)
                cur = [f"\n8\n{_dxf_escape(str(layer or '0'))}\n", body]
    chunks.append("".join(cur))
    pickle.dump((chunks, handles), f, protocol=pickle.HIGHEST_PROTOCOL)
    return n, n


def _stitch_dxf(frags, summaries, path, spec: _Spec, append):
    """Handles run 1..n over the layer: each part's are shifted by the
    rows of the parts before it."""
    shift = 0
    with open(path, "w", encoding="ascii") as out:
        out.write(_dxf_pairs((0, "SECTION"), (2, "ENTITIES")))
        for frag, rows in zip(frags, summaries):
            with open(frag, "rb") as src:
                chunks, handles = pickle.load(src)
            out.write(chunks[0])
            for h, chunk in zip(handles, chunks[1:]):
                out.write(format(h + shift, "X"))
                out.write(chunk)
            shift += rows
        out.write(_dxf_pairs((0, "ENDSEC"), (0, "EOF")))


# ---------------------------------------------------------------- PGDump


def _encode_pgdump(batches, f, spec: _Spec):
    """Fragment and summary of ``pgdump_writer.encode_part``: the COPY
    rows or INSERT statements, the geometry type names and whether any
    geometry has Z."""
    from polars_gdal_spark.sinks import pgdump_writer as pg

    names = [a.name for a in spec.attrs]
    parts = (
        (_canonical_wkb(b, spec.geom_col, spec.gfmt), [_values(b, c) for c in names])
        for b in batches
    )
    return pg.encode_part(f, spec.options, spec.attrs, parts)


def _stitch_pgdump(frags, summaries, path, spec: _Spec, append):
    from polars_gdal_spark.sinks import pgdump_writer as pg

    head, tail = pg.script_ends(spec.options, spec.attrs, summaries)
    _wrap(frags, path, head, tail)


# ----------------------------------------------------------- MapInfo TAB


def _encode_tab(batches, f, spec: _Spec):
    """Fragment: the pickled (geometry, properties) rows."""
    rows = []
    for batch in batches:
        rows.extend(_rows(batch, spec))
    pickle.dump(rows, f, protocol=pickle.HIGHEST_PROTOCOL)
    return len(rows), None


def _stitch_tab(frags, summaries, path, spec: _Spec, append):
    from polars_gdal_spark.sinks.mapinfo_tab_writer import write_tab

    rows = []
    for frag in frags:
        with open(frag, "rb") as src:
            rows.extend(pickle.load(src))
    write_tab(path, spec.attrs, rows)


# ------------------------------------------------------------- interface

_CODECS = {
    "geojson": (_encode_geojson, _stitch_geojson),
    "geojsonseq": (_encode_geojsonseq, _stitch_concat),
    "csv": (_encode_csv, _stitch_csv),
    "fgb": (_encode_fgb, _stitch_fgb),
    "gpkg": (_encode_gpkg, _stitch_gpkg),
    "arrow": (_encode_arrow, _stitch_arrow),
    "shp": (_encode_shp, _stitch_shp),
    "kml": (_encode_kml, _stitch_kml),
    "gml": (_encode_gml, _stitch_gml),
    "gpx": (_encode_gpx, _stitch_gpx),
    "mif": (_encode_mif, _stitch_mif),
    "dxf": (_encode_dxf, _stitch_dxf),
    "pgdump": (_encode_pgdump, _stitch_pgdump),
    "tab": (_encode_tab, _stitch_tab),
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
