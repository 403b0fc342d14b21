"""Write-side format assemblers.

``assemble`` is the driver-side half of the two-phase write
(reference write path ``src/lib.rs:499-573``): executors produced
columnar Arrow IPC part files (geometry stays WKB/WKT bytes — zero
per-row Python on the executors); this decodes each feature ONCE and
turns the stream into the final resource in the requested driver
format. Completes what the reference left ``todo!()``: Date/Datetime/
List values are written, not panicked on (SURVEY §4.3.4).

Legacy NDJSON part files (the ``partitioned=true`` escape hatch still
emits them — they ARE its output format) are also accepted.
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
from collections.abc import Iterator

from polars_gdal_spark.geometry import (
    geojson_to_geom,
    geom_to_geojson,
    geom_to_wkb,
    geom_to_wkt,
    wkb_to_geom,
    wkt_to_geom,
)


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


def _iter_rows(
    parts: list[str], geom_col: str = "geometry", gfmt: str = "wkb"
) -> Iterator[tuple]:
    """(internal geom | None, props dict) per feature, across part files
    in partition order. Arrow parts decode the geometry column per
    ``gfmt``; NDJSON parts carry GeoJSON geometry objects."""
    for p in sorted(parts):
        if p.endswith(".ndjson"):
            with open(p, encoding="utf-8") as f:
                for line in f:
                    if line.strip():
                        feat = json.loads(line)
                        gj = feat.get("geometry")
                        yield (
                            geojson_to_geom(gj) if gj else None,
                            feat.get("properties") or {},
                        )
            continue
        import pyarrow as pa

        with pa.OSFile(p, "rb") as src:
            for batch in pa.ipc.open_stream(src):
                for d in batch.to_pylist():
                    gv = d.pop(geom_col, None)
                    if gv is None:
                        geom = None
                    elif gfmt == "wkb":
                        geom = wkb_to_geom(bytes(gv))
                    elif gfmt == "wkt":
                        geom = wkt_to_geom(gv)
                    else:  # geojson strings
                        geom = geojson_to_geom(json.loads(gv))
                    yield geom, {k: _jsonish(v) for k, v in d.items()}


def _iter_features(
    parts: list[str], geom_col: str = "geometry", gfmt: str = "wkb"
) -> Iterator[dict]:
    for geom, props in _iter_rows(parts, geom_col, gfmt):
        yield {
            "type": "Feature",
            "geometry": geom_to_geojson(geom) if geom else None,
            "properties": props,
        }


def assemble(
    driver: str,
    parts: list[str],
    path: str,
    options: dict,
    schema,
    geom_col: str,
    partitioned: bool = False,
    gfmt: str = "wkb",
    append: bool = False,
) -> None:
    if partitioned:
        os.makedirs(path, exist_ok=True)
        for p in sorted(parts):
            shutil.move(p, os.path.join(path, os.path.basename(p)))
        return
    d = driver.lower()
    if append and d != "gpkg":
        raise ValueError(f"append is only supported for GPKG, not {driver!r}")
    if d == "gpkg":
        _write_gpkg(parts, path, options, schema, geom_col, gfmt, append)
        return
    if d in ("geojson",):
        _write_geojson(parts, path, geom_col, gfmt)
    elif d in ("geojsonseq", "ndjson"):
        _write_ndjson(parts, path, geom_col, gfmt)
    elif d == "csv":
        _write_csv(parts, path, schema, geom_col, gfmt)
    elif d in ("esri shapefile", "shapefile", "shp"):
        _write_shapefile(parts, path, options, schema, geom_col, gfmt)
    elif d == "kml":
        _write_kml(parts, path, options, schema, geom_col, gfmt)
    elif d == "gml":
        _write_gml(parts, path, options, schema, geom_col, gfmt)
    elif d == "gpx":
        _write_gpx(parts, path, options, schema, geom_col, gfmt)
    elif d in ("flatgeobuf", "fgb"):
        _write_fgb(parts, path, options, schema, geom_col, gfmt)
    elif d in ("arrow", "feather", "arrow ipc", "ipc"):
        _write_arrow(parts, path, options, schema, geom_col, gfmt)
    elif d in ("mapinfo file", "mif", "mif/mid", "mapinfo tab", "tab"):
        # GDAL's "MapInfo File" driver picks the form by extension:
        # .tab -> native binary family, anything else -> MIF/MID text.
        if d in ("mapinfo tab", "tab") or path.lower().endswith(".tab"):
            from polars_gdal_spark.sinks.mapinfo_tab_writer import write_tab

            write_tab(parts, path, options, schema, geom_col, gfmt)
        else:
            _write_mif(parts, path, options, schema, geom_col, gfmt)
    elif d == "dxf":
        _write_dxf(parts, path, options, schema, geom_col, gfmt)
    elif d in ("pgdump", "pg_dump", "postgresql"):
        from polars_gdal_spark.sinks.pgdump_writer import write_pgdump

        write_pgdump(parts, path, options, schema, geom_col, gfmt)
    else:
        raise ValueError(
            f"unsupported write driver {driver!r} "
            "(have: GeoJSON, GeoJSONSeq, CSV, GPKG, ESRI Shapefile, KML, "
            "GPX, GML, FlatGeobuf, MapInfo File, MapInfo TAB, Arrow, DXF, "
            "PGDump)"
        )


def _write_fgb(
    parts: list[str], path: str, options: dict, schema, geom_col: str,
    gfmt: str = "wkb",
) -> None:
    from polars_gdal_spark.sources.datasource import _bool_opt
    from polars_gdal_spark.sources.formats.flatgeobuf import write_fgb

    fields = [
        (f.name, f.dataType.simpleString())
        for f in schema.fields
        if f.name != geom_col
    ]
    srs = options.get("srs", "4326")
    try:
        srs_code = int(str(srs).split(":")[-1])
    except ValueError:
        srs_code = 4326

    def feats():
        yield from _iter_rows(parts, geom_col, gfmt)

    with_index = _bool_opt(options, "spatialIndex")
    write_fgb(
        path,
        fields,
        feats(),
        layer_name=options.get("layer", "layer"),
        srs_code=srs_code,
        index_node_size=(
            int(options.get("indexnodesize", options.get("indexNodeSize", 16)))
            if with_index
            else 0
        ),
    )


def _write_geojson(
    parts: list[str], path: str, geom_col: str = "geometry",
    gfmt: str = "wkb",
) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write('{"type": "FeatureCollection", "features": [\n')
        first = True
        for feat in _iter_features(parts, geom_col, gfmt):
            if not first:
                f.write(",\n")
            json.dump(feat, f)
            first = False
        f.write("\n]}\n")


def _write_ndjson(
    parts: list[str], path: str, geom_col: str = "geometry",
    gfmt: str = "wkb",
) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for feat in _iter_features(parts, geom_col, gfmt):
            json.dump(feat, f)
            f.write("\n")


def _write_csv(
    parts: list[str], path: str, schema, geom_col: str, gfmt: str = "wkb"
) -> None:
    import csv

    attr_cols = [f.name for f in schema.fields if f.name != geom_col]
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f)
        w.writerow(attr_cols + [geom_col])
        for geom, props in _iter_rows(parts, geom_col, gfmt):
            wkt = geom_to_wkt(geom) if geom else ""
            w.writerow([props.get(c) for c in attr_cols] + [wkt])


def _write_shapefile(
    parts: list[str], path: str, options: dict, schema, geom_col: str,
    gfmt: str = "wkb",
) -> None:
    from polars_gdal_spark.sinks.shapefile_writer import (
        _WGS84_WKT,
        write_shapefile,
    )

    fields = [
        (f.name, f.dataType.simpleString())
        for f in schema.fields
        if f.name != geom_col
    ]

    def feats():
        yield from _iter_rows(parts, geom_col, gfmt)

    srs = options.get("srs")
    srs_wkt = srs if srs and srs.upper().startswith(("GEOGCS", "PROJCS")) else _WGS84_WKT
    write_shapefile(path, fields, feats(), srs_wkt=srs_wkt)


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


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


def _write_gml(
    parts: list[str], path: str, options: dict, schema, geom_col: str,
    gfmt: str = "wkb",
) -> None:
    """GML2 FeatureCollection writer — round-trips through GmlDriver."""
    import re

    layer = re.sub(r"[^A-Za-z0-9_]", "_", options.get("layer", "layer"))
    attr_cols = [f.name for f in schema.fields if f.name != geom_col]
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write(
            '<ogr:FeatureCollection xmlns:ogr="http://ogr.maptools.org/" '
            'xmlns:gml="http://www.opengis.net/gml">\n'
        )
        for feat in _iter_features(parts, geom_col, gfmt):
            props = feat.get("properties") or {}
            f.write(f"<gml:featureMember><ogr:{layer}>")
            for c in attr_cols:
                v = props.get(c)
                if v is None:
                    continue
                tag = re.sub(r"[^A-Za-z0-9_]", "_", c)
                f.write(f"<ogr:{tag}>{_xml_escape(str(v))}</ogr:{tag}>")
            gj = feat.get("geometry")
            if gj:
                f.write(
                    "<ogr:geometryProperty>"
                    + _gml_geom_xml(gj)
                    + "</ogr:geometryProperty>"
                )
            f.write(f"</ogr:{layer}></gml:featureMember>\n")
        f.write("</ogr:FeatureCollection>\n")


def _write_kml(
    parts: list[str], path: str, options: dict, schema, geom_col: str,
    gfmt: str = "wkb",
) -> None:
    """KML Placemark writer — name/description map to KML elements,
    remaining attributes go to ExtendedData (matching KmlDriver read)."""
    layer = options.get("layer", "layer")
    attr_cols = [f.name for f in schema.fields if f.name != geom_col]
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write('<kml xmlns="http://www.opengis.net/kml/2.2"><Document>')
        f.write(f"<name>{_xml_escape(layer)}</name>\n")
        for feat in _iter_features(parts, geom_col, gfmt):
            props = feat.get("properties") or {}
            f.write("<Placemark>")
            if props.get("name") is not None:
                f.write(f"<name>{_xml_escape(str(props['name']))}</name>")
            if props.get("description") is not None:
                f.write(
                    "<description>"
                    f"{_xml_escape(str(props['description']))}</description>"
                )
            extra = [
                c for c in attr_cols
                if c not in ("name", "description") and props.get(c) is not None
            ]
            if extra:
                f.write("<ExtendedData>")
                for c in extra:
                    f.write(
                        f'<Data name="{_xml_escape(c)}"><value>'
                        f"{_xml_escape(str(props[c]))}</value></Data>"
                    )
                f.write("</ExtendedData>")
            gj = feat.get("geometry")
            if gj:
                f.write(_kml_geom_xml(gj))
            f.write("</Placemark>\n")
        f.write("</Document></kml>\n")


def _write_gpx(
    parts: list[str], path: str, options: dict, schema, geom_col: str,
    gfmt: str = "wkb",
) -> None:
    """GPX writer: Points → <wpt>, LineStrings/MultiLineStrings → <trk>
    (matching GpxDriver's waypoints/tracks layers on read)."""
    wpts: list[str] = []
    trks: list[str] = []
    for feat in _iter_features(parts, geom_col, gfmt):
        props = feat.get("properties") or {}
        gj = feat.get("geometry")
        if not gj:
            continue
        name = props.get("name")
        name_xml = (
            f"<name>{_xml_escape(str(name))}</name>" if name is not None else ""
        )
        t = gj["type"]
        if t == "Point":
            x, y = gj["coordinates"][:2]
            ele = props.get("ele")
            ele_xml = f"<ele>{ele}</ele>" if ele is not None else ""
            time = props.get("time")
            time_xml = (
                f"<time>{_xml_escape(str(time))}</time>"
                if time is not None else ""
            )
            wpts.append(
                f'<wpt lat="{y}" lon="{x}">{ele_xml}{time_xml}{name_xml}</wpt>'
            )
        elif t in ("LineString", "MultiLineString"):
            segs = [gj["coordinates"]] if t == "LineString" else gj["coordinates"]
            seg_xml = "".join(
                "<trkseg>"
                + "".join(f'<trkpt lat="{p[1]}" lon="{p[0]}"/>' for p in seg)
                + "</trkseg>"
                for seg in segs
            )
            trks.append(f"<trk>{name_xml}{seg_xml}</trk>")
        else:
            raise ValueError(f"cannot encode geometry type {t!r} as GPX")
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write(
            '<gpx version="1.1" creator="polars_gdal_spark"'
            ' xmlns="http://www.topografix.com/GPX/1/1">\n'
        )
        for w in wpts:
            f.write(w + "\n")
        for t_ in trks:
            f.write(t_ + "\n")
        f.write("</gpx>\n")


_GPKG_SQL_TYPES = {
    "bigint": "INTEGER", "int": "INTEGER", "smallint": "INTEGER",
    "double": "REAL", "float": "REAL",
    "string": "TEXT", "boolean": "INTEGER",
    "date": "TEXT", "timestamp": "TEXT", "timestamp_ntz": "TEXT",
    "binary": "BLOB",
}


def gpkg_geom_blob(geom: tuple, srid: int = 4326) -> bytes:
    """Standard GeoPackage geometry blob: GP header (no envelope) + WKB."""
    import struct

    header = b"GP" + bytes([0x00, 0b00000001]) + struct.pack("<i", srid)
    return header + geom_to_wkb(geom)


def _write_gpkg(
    parts: list[str], path: str, options: dict, schema, geom_col: str,
    gfmt: str = "wkb", append: bool = False,
) -> None:
    """``append=True`` adds a NEW layer (feature table) to an existing
    GeoPackage — the container keeps its other layers untouched; a layer
    name collision raises instead of replacing (GDAL's create-only layer
    semantics, reference src/lib.rs:519-528)."""
    layer = options.get("layer", "layer")
    srs = options.get("srs", "4326")
    try:
        srid = int(srs.split(":")[-1])
    except ValueError:  # WKT CRS (e.g. from a .prj) — store under 4326 slot
        srid = 4326
    attr_cols = [
        (f.name, _GPKG_SQL_TYPES.get(f.dataType.simpleString(), "TEXT"))
        for f in schema.fields
        if f.name != geom_col
    ]
    if append:
        if not os.path.exists(path):
            raise ValueError(f"cannot append: {path!r} does not exist")
        con = sqlite3.connect(path)
        try:
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
            _gpkg_insert_layer(
                con, parts, layer, srid, attr_cols, geom_col, gfmt
            )
            con.commit()
        finally:
            con.close()
        return
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.executescript(
            """
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
        )
        _gpkg_insert_layer(con, parts, layer, srid, attr_cols, geom_col, gfmt)
        con.commit()
    finally:
        con.close()


def _gpkg_insert_layer(
    con, parts, layer, srid, attr_cols, geom_col, gfmt
) -> None:
    """Create one feature table + its contents/geometry-columns rows."""
    cols_sql = ", ".join(f'"{c}" {t}' for c, t in attr_cols)
    con.execute(
        f'CREATE TABLE "{layer}" (fid INTEGER PRIMARY KEY AUTOINCREMENT'
        + (f", {cols_sql}" if cols_sql else "")
        + f', "{geom_col}" BLOB)'
    )
    geom_type = "GEOMETRY"
    placeholders = ", ".join(["?"] * (len(attr_cols) + 1))
    names = ", ".join([f'"{c}"' for c, _ in attr_cols] + [f'"{geom_col}"'])
    for geom, props in _iter_rows(parts, geom_col, gfmt):
        blob = None
        if geom:
            geom_type = geom[0].upper() if geom_type == "GEOMETRY" else geom_type
            blob = gpkg_geom_blob(geom, srid)
        con.execute(
            f'INSERT INTO "{layer}" ({names}) VALUES ({placeholders})',
            [props.get(c) for c, _ in attr_cols] + [blob],
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


def _unjsonish(v, ddl: str):
    """Invert the assembler's ``_jsonish`` normalization for typed
    columnar output (dates/timestamps arrive as ISO strings, binary as
    hex)."""
    import datetime as _dt

    if v is None:
        return None
    if ddl == "date" and isinstance(v, str):
        return _dt.date.fromisoformat(v)
    if ddl.startswith("timestamp") and isinstance(v, str):
        return _dt.datetime.fromisoformat(v)
    if ddl == "binary" and isinstance(v, str):
        return bytes.fromhex(v)
    return v


def _write_arrow(
    parts: list[str], path: str, options: dict, schema, geom_col: str,
    gfmt: str = "wkb",
) -> None:
    """Arrow IPC (Feather v2) writer: WKB binary geometry column plus a
    GeoParquet-style ``geo`` schema-metadata entry — byte-compatible
    with the reference's own write fixture (``test_data/cities.arrow``,
    reference ``src/test.rs:123-158``: Arrow IPC, WKB geometry, ``geo``
    footer with encoding/CRS/bbox). The ``geo`` JSON is produced by the
    same helper the GeoParquet datasource uses, so the two formats can
    never drift. Read back by ``sources/formats/arrow_ipc.py``."""
    import pyarrow as pa

    from polars_gdal_spark.geometry import geom_to_wkb
    from polars_gdal_spark.sources.geoparquet import _geo_meta_json

    attr = [f for f in schema.fields if f.name != geom_col]
    cols: dict[str, list] = {f.name: [] for f in attr}
    wkbs: list[bytes | None] = []
    gtypes: set[str] = set()
    bbox: list[float] | None = None
    for geom, props in _iter_rows(parts, geom_col, gfmt):
        for f in attr:
            cols[f.name].append(
                _unjsonish(props.get(f.name), f.dataType.simpleString())
            )
        if geom is None:
            wkbs.append(None)
            continue
        wkbs.append(geom_to_wkb(geom))
        gtypes.add(geom[0])
        from polars_gdal_spark.sinks.mapinfo_tab_writer import _flatten_coords

        for x, y in _flatten_coords(geom):
            if bbox is None:
                bbox = [x, y, x, y]
            else:
                bbox[0] = min(bbox[0], x)
                bbox[1] = min(bbox[1], y)
                bbox[2] = max(bbox[2], x)
                bbox[3] = max(bbox[3], y)

    crs = options.get("crs", options.get("srs"))
    if not crs:
        gf = next((f for f in schema.fields if f.name == geom_col), None)
        if gf is not None and gf.metadata:
            crs = gf.metadata.get("crs")
    arrays, fields = [], []
    for f in attr:
        tname = _ARROW_TYPES.get(f.dataType.simpleString(), "string")
        typ = pa.timestamp("us") if tname == "timestamp_us" else getattr(
            pa, tname
        )()
        vals = cols[f.name]
        if typ == pa.string():
            vals = [None if v is None else str(v) for v in vals]
        arrays.append(pa.array(vals, type=typ))
        fields.append(pa.field(f.name, typ))
    arrays.append(pa.array(wkbs, type=pa.binary()))
    fields.append(pa.field(geom_col, pa.binary()))
    meta = {b"geo": _geo_meta_json(geom_col, crs, sorted(gtypes), bbox)}
    tbl = pa.table(arrays, schema=pa.schema(fields, metadata=meta))
    with pa.OSFile(path, "wb") as sink:
        with pa.ipc.new_file(sink, tbl.schema) as w:
            w.write_table(tbl)


def _write_mif(
    parts: list[str], path: str, options: dict, schema, geom_col: str,
    gfmt: str = "wkb",
) -> None:
    """MapInfo MIF/MID writer — round-trips through MapInfoMifDriver.

    Spark type → MIF column type: string→Char(254), bigint→Integer,
    double→Float, boolean→Logical, date→Date. Null geometry → NONE.
    MultiPolygon regions merge into one Region on read-back (the MIF
    Region object has no multi-feature boundary; same as MapInfo).
    """
    import csv

    type_map = {
        "string": "Char(254)",
        "bigint": "Integer",
        "int": "Integer",
        "smallint": "Integer",
        "double": "Float",
        "float": "Float",
        "boolean": "Logical",
        "date": "Date",
    }
    attr = [f for f in schema.fields if f.name != geom_col]
    base, _ = os.path.splitext(path)
    mid_path = base + ".mid"

    def fmt_pts(pts) -> list[str]:
        return [f"{x!r} {y!r}" for x, y in pts]

    # Buffer one pass to pick the charset: classic "Neutral" (latin-1)
    # when every attribute value fits it, else UTF-8 with the
    # Charset "UTF-8" declaration the reader (and MapInfo/GDAL) honor.
    mid_rows: list[list] = []
    geoms: list[tuple | None] = []
    needs_utf8 = False
    for geom, props in _iter_rows(parts, geom_col, gfmt):
        row = []
        for f in attr:
            v = props.get(f.name)
            if isinstance(v, bool):
                v = "T" if v else "F"
            if isinstance(v, str) and not needs_utf8:
                try:
                    v.encode("latin-1")
                except UnicodeEncodeError:
                    needs_utf8 = True
            row.append("" if v is None else v)
        mid_rows.append(row)
        geoms.append(geom)
    enc = "utf-8" if needs_utf8 else "latin-1"
    charset = "UTF-8" if needs_utf8 else "Neutral"

    with open(path, "w", encoding=enc) as mif:
        mif.write(f'Version 300\nCharset "{charset}"\nDelimiter ","\n')
        mif.write(f"Columns {len(attr)}\n")
        for f in attr:
            mt = type_map.get(f.dataType.simpleString(), "Char(254)")
            mif.write(f"  {f.name} {mt}\n")
        mif.write("Data\n\n")
        with open(mid_path, "w", encoding=enc, newline="") as midf:
            w = csv.writer(midf)
            for row, geom in zip(mid_rows, geoms):
                w.writerow(row)
                if geom is None:
                    mif.write("NONE\n")
                    continue
                t, c = geom
                if t == "Point":
                    mif.write(f"Point {c[0]!r} {c[1]!r}\n")
                elif t == "MultiPoint":
                    mif.write(f"Multipoint {len(c)}\n")
                    for pt in fmt_pts(c):
                        mif.write(pt + "\n")
                elif t == "LineString":
                    mif.write(f"Pline {len(c)}\n")
                    for pt in fmt_pts(c):
                        mif.write(pt + "\n")
                elif t == "MultiLineString":
                    mif.write(f"Pline Multiple {len(c)}\n")
                    for seg in c:
                        mif.write(f"  {len(seg)}\n")
                        for pt in fmt_pts(seg):
                            mif.write(pt + "\n")
                elif t in ("Polygon", "MultiPolygon"):
                    rings = (
                        [r for poly in c for r in poly]
                        if t == "MultiPolygon"
                        else c
                    )
                    mif.write(f"Region {len(rings)}\n")
                    for ring in rings:
                        mif.write(f"  {len(ring)}\n")
                        for pt in fmt_pts(ring):
                            mif.write(pt + "\n")
                else:
                    raise ValueError(f"MIF writer: unsupported geometry {t}")


def _write_dxf(
    parts: list[str], path: str, options: dict, schema, geom_col: str,
    gfmt: str = "wkb",
) -> None:
    """ASCII DXF writer (ENTITIES section) — round-trips through
    DxfDriver. Attribute mapping mirrors the reader's GDAL-parity
    subset: a ``Layer`` column (default ``"0"``) and a ``Text`` column
    (written as TEXT entities at the point location). Polygon interior
    rings are dropped (the DXF line-work model has no holes — same loss
    as GDAL's DXF writer); Multi* parts emit one entity each, sharing
    the feature's handle.
    """

    def pair(f, code, val):
        f.write(f"{code}\n{val}\n")

    def dxf_escape(text: str) -> str:
        """AutoCAD ASCII-DXF convention: non-ASCII chars travel as
        \\U+XXXX escapes (what GDAL's DXF writer emits)."""
        return "".join(
            ch if ord(ch) < 128 else "\\U+%04X" % ord(ch) for ch in text
        )

    with open(path, "w", encoding="ascii") as f:
        pair(f, 0, "SECTION")
        pair(f, 2, "ENTITIES")
        handle = 0
        for geom, props in _iter_rows(parts, geom_col, gfmt):
            layer = props.get("Layer") or "0"
            text = props.get("Text")
            handle += 1
            hx = format(handle, "X")

            def head(kind):
                pair(f, 0, kind)
                pair(f, 5, hx)
                pair(f, 8, dxf_escape(str(layer)))

            def lwpolyline(pts, closed):
                head("LWPOLYLINE")
                pair(f, 90, len(pts))
                pair(f, 70, 1 if closed else 0)
                for x, y in pts:
                    pair(f, 10, repr(x))
                    pair(f, 20, repr(y))

            if geom is None:
                if text is None:
                    continue  # nothing representable
                t, c = "Point", (0.0, 0.0)
            else:
                t, c = geom
            if t == "Point":
                head("TEXT" if text is not None else "POINT")
                pair(f, 10, repr(c[0]))
                pair(f, 20, repr(c[1]))
                if text is not None:
                    pair(f, 1, dxf_escape(text))
            elif t == "MultiPoint":
                for pt in c:
                    head("POINT")
                    pair(f, 10, repr(pt[0]))
                    pair(f, 20, repr(pt[1]))
            elif t == "LineString":
                lwpolyline(c, closed=False)
            elif t == "MultiLineString":
                for seg in c:
                    lwpolyline(seg, closed=False)
            elif t == "Polygon":
                ring = list(c[0])
                if len(ring) > 1 and ring[0] == ring[-1]:
                    ring = ring[:-1]  # closed flag carries the closure
                lwpolyline(ring, closed=True)
            elif t == "MultiPolygon":
                for poly in c:
                    ring = list(poly[0])
                    if len(ring) > 1 and ring[0] == ring[-1]:
                        ring = ring[:-1]
                    lwpolyline(ring, closed=True)
            else:
                raise ValueError(f"DXF writer: unsupported geometry {t}")
        pair(f, 0, "ENDSEC")
        pair(f, 0, "EOF")
