"""PostgreSQL dump (PGDump) writer — GDAL's write-only ``PGDump``
vector driver re-expressed for this engine (reference exposes every
GDAL driver through ``gdal_resource_from_df``, src/lib.rs:629-642).

Emits a ``psql``-loadable SQL script in GDAL's layout: ``CREATE TABLE``
with a serial FID, ``AddGeometryColumn`` (so the script works on a
PostGIS database), per-field ``ALTER TABLE ... ADD COLUMN``, then the
rows as one ``COPY ... FROM STDIN`` block (default, the fast path psql
streams) or ``INSERT`` statements (``pgUseCopy=false``). Each write task
encodes its part's rows (``encode_part``); the commit writes the header,
which depends on every part's geometry types, around them
(``script_ends``).

Geometry values are hex EWKB with the SRID flag set on the top-level
type word — PostGIS rejects SRID-less WKB on a typmod-constrained
geometry column, which is why GDAL embeds the SRID too. Inner
geometries of Multi*/Collections keep the engine's ISO encoding
(Z = type+1000); PostGIS's WKB parser accepts ISO and EWKB type words
interchangeably at any nesting level.

This completes the PostGIS story: ``sources/postgis.py`` reads (JDBC +
EWKB decode), this writes the load script.
"""

from __future__ import annotations

import struct

from polars_gdal_spark.geometry.wkb import CODE_TYPES

_TYPE_MAP = {
    "string": "VARCHAR",
    "bigint": "INT8",
    "int": "INTEGER",
    "smallint": "INT2",
    "tinyint": "INT2",
    "double": "FLOAT8",
    "float": "FLOAT4",
    "boolean": "BOOLEAN",
    "date": "date",
    "timestamp": "timestamp with time zone",
    "timestamp_ntz": "timestamp",
    "binary": "BYTEA",
}

_EWKB_SRID_FLAG = 0x20000000
_EWKB_Z_FLAG = 0x80000000


def wkb_to_ewkb_hex(wkb: bytes, srid: int) -> str:
    """Patch the top-level type word of little-endian (I)SO WKB to the
    EWKB form (SRID flag + embedded SRID; Z moves from +1000 to the
    0x80000000 flag) and return uppercase hex."""
    if not wkb or wkb[0] != 1:
        raise ValueError("expected little-endian WKB")
    (code,) = struct.unpack_from("<I", wkb, 1)
    z = code >= 1000
    base = code - 1000 if z else code
    patched = base | _EWKB_SRID_FLAG | (_EWKB_Z_FLAG if z else 0)
    out = (
        wkb[:1]
        + struct.pack("<I", patched)
        + struct.pack("<I", srid)
        + wkb[5:]
    )
    return out.hex().upper()


def _copy_escape(v, sql_type: str) -> str:
    """COPY text-format value: tab/newline/backslash escaped, bool as
    t/f, bytea as \\x hex, NULL as \\N (handled by the caller)."""
    if sql_type == "BOOLEAN":
        truthy = v if isinstance(v, bool) else str(v).lower() in ("true", "t", "1")
        return "t" if truthy else "f"
    if sql_type == "BYTEA":
        # _jsonish already hex-encoded binary values
        return "\\\\x" + str(v)
    s = v if isinstance(v, str) else str(v)
    return (
        s.replace("\\", "\\\\")
        .replace("\t", "\\t")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


def _sql_literal(v, sql_type: str) -> str:
    if sql_type == "BOOLEAN":
        truthy = v if isinstance(v, bool) else str(v).lower() in ("true", "t", "1")
        return "TRUE" if truthy else "FALSE"
    if sql_type in ("INT8", "INTEGER", "INT2", "FLOAT8", "FLOAT4"):
        return str(v)
    if sql_type == "BYTEA":
        return "'\\x" + str(v) + "'"
    return "'" + str(v).replace("'", "''") + "'"


class _Layout:
    """What the part encoder and the header of one write share. Field
    names are laundered to lowercase (GDAL's PG behavior)."""

    def __init__(self, options: dict, attrs):
        from polars_gdal_spark.sinks.columnar import _srid
        from polars_gdal_spark.sources.datasource import _bool_opt

        self.table = options.get("layer", "layer").lower()
        self.schema = options.get("pgschema", "public")
        self.qt = f'"{self.schema}"."{self.table}"'
        self.fields = [
            (a.name.lower(), _TYPE_MAP.get(a.dataType.simpleString(), "VARCHAR"))
            for a in attrs
        ]
        self.cols = ", ".join(['"wkb_geometry"'] + [f'"{n}"' for n, _ in self.fields])
        self.srid = _srid(options)
        self.use_copy = _bool_opt(options, "pgUseCopy", True)


def encode_part(f, options: dict, attrs, parts) -> tuple[int, dict]:
    """Write one part's rows to ``f``: ``COPY`` text rows, or ``INSERT``
    statements with ``pgUseCopy=false``. ``parts`` yields, per batch,
    the canonical WKB of each row and one value list per attribute.
    Returns the row count and the summary the header needs: the
    geometry type names and whether any geometry has Z."""
    lay = _Layout(options, attrs)
    types: set[str] = set()
    has_z = False
    n = 0
    for wkbs, vals in parts:
        n += len(wkbs)
        lines = []
        for wkb, row in zip(wkbs, zip(*vals) if vals else [()] * len(wkbs)):
            hex_ewkb = None
            if wkb is not None:
                (code,) = struct.unpack_from("<I", wkb, 1)
                has_z |= code >= 1000
                types.add(CODE_TYPES[code % 1000])
                hex_ewkb = wkb_to_ewkb_hex(wkb, lay.srid)
            if lay.use_copy:
                out = [hex_ewkb if hex_ewkb is not None else "\\N"]
                for (_, t), v in zip(lay.fields, row):
                    out.append("\\N" if v is None else _copy_escape(v, t))
                lines.append("\t".join(out) + "\n")
            else:
                lits = [f"'{hex_ewkb}'" if hex_ewkb is not None else "NULL"]
                for (_, t), v in zip(lay.fields, row):
                    lits.append("NULL" if v is None else _sql_literal(v, t))
                lines.append(
                    f'INSERT INTO {lay.qt} ({lay.cols}) VALUES ({", ".join(lits)});\n'
                )
        f.write("".join(lines).encode("utf-8"))
    return n, {"types": types, "z": has_z}


def script_ends(options: dict, attrs, summaries: list) -> tuple[str, str]:
    """The script's text before and after the parts' rows. The
    ``AddGeometryColumn`` type is the one geometry type of every part,
    else ``GEOMETRY`` (mixed or empty → unconstrained typmod); its
    dimension is 3 when any part has Z."""
    lay = _Layout(options, attrs)
    types = set().union(*(s["types"] for s in summaries))
    gtype = next(iter(types)).upper() if len(types) == 1 else "GEOMETRY"
    dim = 3 if any(s["z"] for s in summaries) else 2
    head = [
        "SET standard_conforming_strings = ON;\n",
        f"DROP TABLE IF EXISTS {lay.qt} CASCADE;\n",
        "BEGIN;\n",
        f'CREATE TABLE {lay.qt} ("ogc_fid" SERIAL, '
        f'CONSTRAINT "{lay.table}_pk" PRIMARY KEY ("ogc_fid"));\n',
        f"SELECT AddGeometryColumn('{lay.schema}','{lay.table}',"
        f"'wkb_geometry',{lay.srid},'{gtype}',{dim});\n",
    ]
    head += [f'ALTER TABLE {lay.qt} ADD COLUMN "{n}" {t};\n' for n, t in lay.fields]
    if lay.use_copy:
        head.append(f"COPY {lay.qt} ({lay.cols}) FROM STDIN;\n")
    return "".join(head), ("\\.\n" if lay.use_copy else "") + "COMMIT;\n"
