"""SQLite-container drivers: SpatiaLite and GeoPackage (stdlib sqlite3).

These are the multi-layer formats (GDAL Dataset→many Layers, reference
layer selection ``src/lib.rs:241-247``): each geometry table is a layer.

Geometry blob formats (both public specs):
* **SpatiaLite** internal BLOB: 0x00, endian byte, int32 SRID, 32-byte
  MBR, 0x7C marker, int32 class type, then a WKB-like body where nested
  geometries of Multi*/Collections are prefixed by an 0x69 entity marker
  + class type instead of an endian byte.
* **GeoPackage** (OGC 12-128r19 §2.1.3): "GP" magic, version, flags
  (envelope size), int32 srs_id, envelope, then standard ISO WKB.

Split ranges use rowid intervals — SQLite's natural parallel scan unit.
"""

from __future__ import annotations

import os
import sqlite3
import struct
from collections.abc import Iterator

from polars_gdal_spark.geometry.wkb import wkb_to_geom
from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    even_ranges,
    register,
)

_SQLITE_MAGIC = b"SQLite format 3\x00"

_SPLITE_TYPES = {
    1: "Point", 2: "LineString", 3: "Polygon",
    4: "MultiPoint", 5: "MultiLineString", 6: "MultiPolygon",
    7: "GeometryCollection",
}


def parse_spatialite_blob(blob: bytes) -> tuple:
    if not blob or blob[0] != 0x00:
        raise ValueError("not a SpatiaLite geometry blob")
    endian = "<" if blob[1] == 0x01 else ">"
    # srid = blob[2:6]; mbr = blob[6:38]; marker 0x7C at 38
    if blob[38] != 0x7C:
        raise ValueError("missing SpatiaLite MBR end marker")
    pos = 39

    def read_type():
        nonlocal pos
        (code,) = struct.unpack(f"{endian}i", blob[pos : pos + 4])
        pos += 4
        has_z = code >= 1000 and code < 2000
        base = code % 1000
        return _SPLITE_TYPES[base], (3 if has_z else 2)

    def read_point(ndim):
        nonlocal pos
        vals = struct.unpack(f"{endian}{ndim}d", blob[pos : pos + 8 * ndim])
        pos += 8 * ndim
        return tuple(vals)

    def read_count():
        nonlocal pos
        (n,) = struct.unpack(f"{endian}I", blob[pos : pos + 4])
        pos += 4
        return n

    def read_ring(ndim):
        return [read_point(ndim) for _ in range(read_count())]

    def read_body(gtype, ndim):
        nonlocal pos
        if gtype == "Point":
            return gtype, read_point(ndim)
        if gtype == "LineString":
            return gtype, read_ring(ndim)
        if gtype == "Polygon":
            return gtype, [read_ring(ndim) for _ in range(read_count())]
        # Multi*/collection: entities prefixed with 0x69 + class type
        n = read_count()
        subs = []
        for _ in range(n):
            if blob[pos] != 0x69:
                raise ValueError("missing SpatiaLite entity marker")
            pos += 1
            st, sd = read_type()
            subs.append(read_body(st, sd))
        if gtype == "GeometryCollection":
            return gtype, subs
        return gtype, [s[1] for s in subs]

    gtype, ndim = read_type()
    return read_body(gtype, ndim)


def parse_gpkg_blob(blob: bytes) -> tuple:
    if blob[:2] != b"GP":
        raise ValueError("not a GeoPackage geometry blob")
    flags = blob[3]
    env_code = (flags >> 1) & 0b111
    env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}[env_code]
    return wkb_to_geom(blob[8 + env_len :])


_AFFINITY = {
    "INT": "bigint",
    "CHAR": "string", "CLOB": "string", "TEXT": "string",
    "REAL": "double", "FLOA": "double", "DOUB": "double",
    "BLOB": "binary",
    "DATE": "string", "BOOL": "boolean",
}


def _affinity(decl: str) -> str:
    d = (decl or "").upper()
    for key, t in _AFFINITY.items():
        if key in d:
            return t
    return "string" if d else "binary"


class _SqliteVectorDriver(FormatDriver):
    """Shared machinery; subclasses define the geometry-table catalog."""

    def can_open(self, path: str, head: bytes) -> bool:
        return head.startswith(_SQLITE_MAGIC) and self._probe(path)

    def _probe(self, path: str) -> bool:
        raise NotImplementedError

    def _catalog(self, con) -> dict[str, str]:
        """layer name -> geometry column."""
        raise NotImplementedError

    def _parse_geom(self, blob: bytes) -> tuple:
        raise NotImplementedError

    def _fast_wkb(self, blob: bytes) -> bytes | None:
        """Canonical WKB sliced straight from the stored blob (no
        decode→re-encode), or None to use ``_parse_geom``. GPKG blobs
        embed standard WKB; SpatiaLite's custom ringed format has no
        such shortcut."""
        return None

    def list_layers(self, path: str, options: dict) -> list[str]:
        with sqlite3.connect(path) as con:
            return list(self._catalog(con))

    def _geom_col(self, path: str, layer: str) -> str:
        with sqlite3.connect(path) as con:
            cat = self._catalog(con)
        if layer not in cat:
            raise ValueError(f"layer {layer!r} not found; have {list(cat)}")
        return cat[layer]

    @staticmethod
    def _fid_col(info: list[tuple]) -> str | None:
        """Single INTEGER PRIMARY KEY column = SQLite rowid alias = the
        OGR feature id (GDAL's GPKG/SQLite drivers expose it as FID, not
        as an attribute field)."""
        pk_cols = [r for r in info if r[5]]
        if len(pk_cols) == 1 and "INT" in (pk_cols[0][2] or "").upper():
            return pk_cols[0][1]
        return None

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        gcol = self._geom_col(path, layer)
        with sqlite3.connect(path) as con:
            info = con.execute(f'PRAGMA table_info("{layer}")').fetchall()
        fid_col = self._fid_col(info)
        out = []
        for _cid, name, decl, _notnull, _dflt, pk in info:
            if name.lower() == gcol.lower() or name == fid_col:
                continue
            out.append(Field(name, _affinity(decl)))
        return out

    def feature_count(self, path: str, layer: str, options: dict) -> int | None:
        with sqlite3.connect(path) as con:
            return con.execute(f'SELECT count(*) FROM "{layer}"').fetchone()[0]

    def split_ranges(
        self, path: str, layer: str, options: dict, target_splits: int
    ) -> list[tuple[int, int]] | None:
        with sqlite3.connect(path) as con:
            row = con.execute(
                f'SELECT min(rowid), max(rowid) FROM "{layer}"'
            ).fetchone()
        if row is None or row[0] is None:
            return None
        lo, hi = row
        return even_ranges(lo, hi + 1, target_splits)

    def _rows(self, path: str, layer: str, where: str = "") -> Iterator[tuple]:
        gcol = self._geom_col(path, layer)
        with sqlite3.connect(path) as con:
            info = con.execute(f'PRAGMA table_info("{layer}")').fetchall()
            fid_col = self._fid_col(info)
            cols = [r[1] for r in info]
            attr_cols = [
                c
                for c in cols
                if c.lower() != gcol.lower() and c != fid_col
            ]
            sel = ", ".join(f'"{c}"' for c in attr_cols)
            sql = (
                f'SELECT rowid, "{gcol}"'
                + (f", {sel}" if sel else "")
                + f' FROM "{layer}"'
                + where
            )
            for row in con.execute(sql):
                yield attr_cols, row

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        where = (
            "" if start is None
            else f" WHERE rowid >= {int(start)} AND rowid < {int(end)}"
        )
        for attr_cols, row in self._rows(path, layer, where):
            rowid, blob = row[0], row[1]
            props = dict(zip(attr_cols, row[2:]))
            wkb = geom = None
            if blob is not None:
                wkb = self._fast_wkb(blob)
                if wkb is None:
                    geom = self._parse_geom(blob)
            yield Feature(fid=rowid, geom=geom, props=props, wkb=wkb)


class SpatiaLiteDriver(_SqliteVectorDriver):
    name = "SQLite"  # GDAL driver name for SpatiaLite containers
    extensions = (".sqlite", ".db")

    def layer_crs(self, path: str, layer: str, options: dict) -> str | None:
        with sqlite3.connect(path) as con:
            row = con.execute(
                "SELECT srid FROM geometry_columns WHERE f_table_name = ?",
                (layer,),
            ).fetchone()
        return f"EPSG:{row[0]}" if row and row[0] else None

    def _probe(self, path: str) -> bool:
        try:
            with sqlite3.connect(path) as con:
                return bool(
                    con.execute(
                        "SELECT 1 FROM sqlite_master WHERE name='geometry_columns'"
                    ).fetchone()
                )
        except sqlite3.Error:
            return False

    def _catalog(self, con) -> dict[str, str]:
        rows = con.execute(
            "SELECT f_table_name, f_geometry_column FROM geometry_columns"
        ).fetchall()
        return {t: g for t, g in rows}

    def _parse_geom(self, blob: bytes) -> tuple:
        return parse_spatialite_blob(blob)


class GeoPackageDriver(_SqliteVectorDriver):
    name = "GPKG"
    extensions = (".gpkg",)

    def layer_crs(self, path: str, layer: str, options: dict) -> str | None:
        with sqlite3.connect(path) as con:
            row = con.execute(
                "SELECT srs_id FROM gpkg_geometry_columns WHERE table_name = ?",
                (layer,),
            ).fetchone()
        return f"EPSG:{row[0]}" if row and row[0] else None

    def _probe(self, path: str) -> bool:
        try:
            with sqlite3.connect(path) as con:
                return bool(
                    con.execute(
                        "SELECT 1 FROM sqlite_master WHERE name='gpkg_geometry_columns'"
                    ).fetchone()
                )
        except sqlite3.Error:
            return False

    def _catalog(self, con) -> dict[str, str]:
        rows = con.execute(
            "SELECT table_name, column_name FROM gpkg_geometry_columns"
        ).fetchall()
        return {t: g for t, g in rows}

    def _parse_geom(self, blob: bytes) -> tuple:
        return parse_gpkg_blob(blob)

    def _fast_wkb(self, blob: bytes) -> bytes | None:
        """GPKG blob = GP header (+optional envelope) + standard WKB.
        When the embedded WKB is already the engine's canonical form
        (LE ISO — what this engine's own GPKG writer emits, and the
        common case in the wild), slice it out; the O(#headers)
        canonicality walk guarantees byte-identical output to the
        decode→re-encode path."""
        from polars_gdal_spark.geometry.wkb import wkb_is_canonical_le

        if blob[:2] != b"GP":
            return None
        flags = blob[3]
        env_code = (flags >> 1) & 0b111
        env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}.get(env_code)
        if env_len is None:
            return None
        inner = blob[8 + env_len :]
        return bytes(inner) if wkb_is_canonical_le(inner) else None


register(GeoPackageDriver())
register(SpatiaLiteDriver())
