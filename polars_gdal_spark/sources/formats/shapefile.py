"""ESRI Shapefile driver — pure-Python .shp/.shx/.dbf parser.

Format per the public ESRI Shapefile Technical Description (July 1998):
.shp = 100-byte header + (8-byte BE record header, LE record content)*;
.shx = 100-byte header + 8-byte BE (offset,length) per record — used for
feature count and **FID-range splits** (intra-file parallelism the
reference never had, SURVEY §4.2 partition pruning row); .dbf = dBase
III attribute table.

Geometry mapping: Point→Point, MultiPoint→MultiPoint,
PolyLine→LineString|MultiLineString, Polygon→Polygon|MultiPolygon
(rings grouped by winding: clockwise = outer, counter-clockwise = hole
attached to the most recent outer). Z variants keep the third
coordinate; M values are dropped.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import struct
from collections.abc import Iterator

from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    even_ranges,
    register,
)

LAYER_EXT = ".shp"

_SHAPE_NULL = 0
_POINT = {1, 11, 21}
_POLYLINE = {3, 13, 23}
_POLYGON = {5, 15, 25}
_MULTIPOINT = {8, 18, 28}
_HAS_Z = {11, 13, 15, 18}


def _ring_is_clockwise(ring) -> bool:
    # math.fsum: exact (single-rounding) sum, so this and the numpy fast
    # path below compute the IDENTICAL signed area from the identical
    # per-edge products — the two code paths can never group degenerate
    # (near-zero-area) rings differently
    return (
        math.fsum(
            (ring[i + 1][0] - ring[i][0]) * (ring[i + 1][1] + ring[i][1])
            for i in range(len(ring) - 1)
        )
        > 0
    )


def _shape_to_wkb(content: bytes) -> bytes | None:
    """Direct shape-record → ISO WKB fast path (2D types only).

    Shapefile stores coordinates as little-endian float64 (x, y) pairs —
    byte-identical to the WKB body — so ring/point blocks are sliced
    (memcpy) instead of unpacked and re-packed per point. Produces
    exactly the bytes ``geom_to_wkb(_parse_shape(content))`` would
    (pinned by test_shapefile_fastpath_byte_equality). Returns None for
    Null shapes and Z/M variants (tuple path handles those).

    Polygon ring→poly grouping needs each ring's winding; both this path
    and ``_ring_is_clockwise`` feed the identical per-edge products into
    ``math.fsum`` (exact summation), so the two paths compute the same
    sign even for degenerate (≈zero signed area) rings.
    """
    (stype,) = struct.unpack_from("<i", content)
    if stype == _SHAPE_NULL or stype in _HAS_Z:
        return None
    if stype in _POINT:
        return b"\x01\x01\x00\x00\x00" + content[4:20]
    mv = memoryview(content)
    if stype in _MULTIPOINT:
        (n,) = struct.unpack_from("<i", content, 36)
        out = [b"\x01\x04\x00\x00\x00", struct.pack("<I", n)]
        for i in range(n):
            out.append(b"\x01\x01\x00\x00\x00")
            out.append(mv[40 + 16 * i : 56 + 16 * i])
        return b"".join(out)
    if stype in _POLYLINE or stype in _POLYGON:
        nparts, npoints = struct.unpack_from("<2i", content, 36)
        bounds = list(struct.unpack_from(f"<{nparts}i", content, 44))
        bounds.append(npoints)
        off = 44 + 4 * nparts

        def block(i: int):
            return mv[off + 16 * bounds[i] : off + 16 * bounds[i + 1]]

        counts = [bounds[i + 1] - bounds[i] for i in range(nparts)]
        if stype in _POLYLINE:
            if nparts == 1:
                return (
                    b"\x01\x02\x00\x00\x00"
                    + struct.pack("<I", npoints)
                    + bytes(block(0))
                )
            out = [b"\x01\x05\x00\x00\x00", struct.pack("<I", nparts)]
            for i in range(nparts):
                out.append(b"\x01\x02\x00\x00\x00")
                out.append(struct.pack("<I", counts[i]))
                out.append(block(i))
            return b"".join(out)
        # Polygon: a single ring needs no winding analysis at all.
        if nparts == 1:
            return (
                b"\x01\x03\x00\x00\x00"
                + struct.pack("<I", 1)
                + struct.pack("<I", npoints)
                + bytes(block(0))
            )
        # Multiple rings: group into polygons by winding order.
        import numpy as np

        arr = np.frombuffer(
            content, "<f8", count=2 * npoints, offset=off
        ).reshape(-1, 2)
        polys: list[list[int]] = []
        for i in range(nparts):
            ring = arr[bounds[i] : bounds[i + 1]]
            x, y = ring[:, 0], ring[:, 1]
            # per-edge products are IEEE-identical to the tuple path's;
            # fsum makes the total exact, so both paths always agree
            cw = math.fsum((x[1:] - x[:-1]) * (y[1:] + y[:-1])) > 0
            if cw or not polys:
                polys.append([i])
            else:
                polys[-1].append(i)

        def poly_body(ring_idx: list[int]) -> bytes:
            out = [struct.pack("<I", len(ring_idx))]
            for i in ring_idx:
                out.append(struct.pack("<I", counts[i]))
                out.append(block(i))
            return b"".join(out)

        if len(polys) == 1:
            return b"\x01\x03\x00\x00\x00" + poly_body(polys[0])
        out = [b"\x01\x06\x00\x00\x00", struct.pack("<I", len(polys))]
        for p in polys:
            out.append(b"\x01\x03\x00\x00\x00")
            out.append(poly_body(p))
        return b"".join(out)
    return None


def _parse_shape(content: bytes):
    (stype,) = struct.unpack("<i", content[:4])
    if stype == _SHAPE_NULL:
        return None
    has_z = stype in _HAS_Z
    if stype in _POINT:
        x, y = struct.unpack("<2d", content[4:20])
        if has_z:
            (z,) = struct.unpack("<d", content[20:28])
            return "Point", (x, y, z)
        return "Point", (x, y)
    if stype in _MULTIPOINT:
        (n,) = struct.unpack("<i", content[36:40])
        pts = list(struct.iter_unpack("<2d", content[40 : 40 + 16 * n]))
        if has_z:
            zoff = 40 + 16 * n + 16  # skip zmin/zmax
            zs = struct.unpack(f"<{n}d", content[zoff : zoff + 8 * n])
            return "MultiPoint", [(p[0], p[1], z) for p, z in zip(pts, zs)]
        return "MultiPoint", [tuple(p) for p in pts]
    if stype in _POLYLINE or stype in _POLYGON:
        nparts, npoints = struct.unpack("<2i", content[36:44])
        parts = struct.unpack(f"<{nparts}i", content[44 : 44 + 4 * nparts])
        off = 44 + 4 * nparts
        flat = list(struct.iter_unpack("<2d", content[off : off + 16 * npoints]))
        if has_z:
            zoff = off + 16 * npoints + 16
            zs = struct.unpack(f"<{npoints}d", content[zoff : zoff + 8 * npoints])
            pts = [(p[0], p[1], z) for p, z in zip(flat, zs)]
        else:
            pts = [tuple(p) for p in flat]
        rings = []
        for i, start in enumerate(parts):
            end = parts[i + 1] if i + 1 < nparts else npoints
            rings.append(pts[start:end])
        if stype in _POLYLINE:
            if len(rings) == 1:
                return "LineString", rings[0]
            return "MultiLineString", rings
        # Polygon: group rings into polygons by winding order.
        polys: list[list] = []
        for ring in rings:
            if _ring_is_clockwise(ring) or not polys:
                polys.append([ring])
            else:
                polys[-1].append(ring)
        if len(polys) == 1:
            return "Polygon", polys[0]
        return "MultiPolygon", polys
    raise ValueError(f"unsupported shapefile shape type {stype}")


# --------------------------------------------------------------------- dbf


_CPG_CODECS = {
    "utf-8": "utf-8", "utf8": "utf-8", "65001": "utf-8",
    "iso-8859-1": "latin-1", "iso 8859-1": "latin-1", "88591": "latin-1",
    "latin1": "latin-1", "1252": "cp1252", "cp1252": "cp1252",
}


class _Dbf:
    def __init__(self, path: str, encoding: str = "latin-1"):
        self.path = path
        self.encoding = encoding
        with open(path, "rb") as f:
            header = f.read(32)
            self.n_records = struct.unpack("<I", header[4:8])[0]
            self.header_size = struct.unpack("<H", header[8:10])[0]
            self.record_size = struct.unpack("<H", header[10:12])[0]
            self.fields: list[tuple[str, str, int, int]] = []
            while f.tell() < self.header_size - 1:
                desc = f.read(32)
                if desc[0:1] == b"\r":
                    break
                name = desc[:11].split(b"\x00")[0].decode("latin-1")
                ftype = desc[11:12].decode("ascii")
                length = desc[16]
                decimals = desc[17]
                self.fields.append((name, ftype, length, decimals))

    def spark_fields(self) -> list[Field]:
        out = []
        for name, ftype, length, decimals in self.fields:
            if ftype in ("N", "F"):
                dtype = "bigint" if ftype == "N" and decimals == 0 else "double"
            elif ftype == "L":
                dtype = "boolean"
            elif ftype == "D":
                dtype = "date"
            else:
                dtype = "string"
            out.append(Field(name, dtype))
        return out

    def _convert(self, raw: bytes, ftype: str, decimals: int):
        text = raw.decode(self.encoding, "replace").strip()
        if not text or text == "*" * len(text):
            return None
        if ftype == "N":
            try:
                return int(text) if decimals == 0 else float(text)
            except ValueError:
                try:
                    return float(text)
                except ValueError:
                    return None
        if ftype == "F":
            try:
                return float(text)
            except ValueError:
                return None
        if ftype == "L":
            return text.upper() in ("T", "Y")
        if ftype == "D":
            try:
                return dt.date(int(text[:4]), int(text[4:6]), int(text[6:8]))
            except ValueError:
                return None
        return text

    def read_range(self, start: int, end: int) -> Iterator[dict]:
        with open(self.path, "rb") as f:
            f.seek(self.header_size + start * self.record_size)
            for _ in range(start, min(end, self.n_records)):
                rec = f.read(self.record_size)
                if len(rec) < self.record_size or rec[0:1] == b"\x1a":
                    return
                props = {}
                off = 1  # deletion flag
                for name, ftype, length, decimals in self.fields:
                    props[name] = self._convert(
                        rec[off : off + length], ftype, decimals
                    )
                    off += length
                yield props


# --------------------------------------------------------------------- shp


def _sibling(path: str, ext: str, options: dict) -> str | None:
    """Auxiliary-file path (.shx/.dbf/.prj) honoring the reference's
    ``sibling_files`` ReadParams (src/lib.rs:56-59): when the option is
    set, only listed filenames may be consulted — no filesystem probing
    beyond the list; when absent, probe as GDAL does by default."""
    cand = os.path.splitext(path)[0] + ext
    allowed = options.get("sibling_files")
    if allowed is not None:
        names = {n.strip().lower() for n in str(allowed).split(",")}
        if os.path.basename(cand).lower() not in names:
            return None
    return cand if os.path.exists(cand) else None


def _shx_path(shp_path: str, options: dict | None) -> str:
    shx = _sibling(shp_path, ".shx", options or {})
    if shx is None:
        raise OSError(f"no usable .shx for {shp_path}")
    return shx


def _shx_count(shx: str) -> int:
    """Records in a .shx: one 8-byte entry each after the 100-byte
    header; a trailing partial entry is not a record."""
    return max(0, (os.path.getsize(shx) - 100) // 8)


def _shx_offsets(
    shp_path: str, options: dict | None = None, start: int = 0, end: int | None = None
) -> list[tuple[int, int]]:
    """(byte_offset, content_len_bytes) of records ``start..end`` (end
    None = the last), read from only that slice of the .shx."""
    shx = _shx_path(shp_path, options)
    n = _shx_count(shx)
    end = n if end is None else min(end, n)
    if start >= end:
        return []
    with open(shx, "rb") as f:
        f.seek(100 + 8 * start)
        words = struct.unpack(f">{2 * (end - start)}i", f.read(8 * (end - start)))
    return [(words[i] * 2, words[i + 1] * 2) for i in range(0, len(words), 2)]


def _shp_contents(f, offsets: list[tuple[int, int]] | None) -> Iterator[bytes]:
    """Record contents of an open .shp: at the given .shx offsets, or
    (None) by walking the record headers from the end of the file
    header."""
    if offsets is not None:
        for off, length in offsets:
            f.seek(off + 8)  # skip record header
            yield f.read(length)
        return
    f.seek(100)
    while len(hdr := f.read(8)) == 8:
        yield f.read(struct.unpack(">2i", hdr)[1] * 2)


class ShapefileDriver(FormatDriver):
    name = "ESRI Shapefile"
    extensions = (".shp",)

    def can_open(self, path: str, head: bytes) -> bool:
        return len(head) >= 4 and struct.unpack(">i", head[:4])[0] == 9994

    @staticmethod
    def _check_not_truncated(path: str) -> None:
        """The .shp header declares the total file length (bytes 24-27,
        big-endian 16-bit words). A shorter file on disk is a truncated
        download/copy — fail loudly instead of silently yielding the
        records that happen to fit (a partial dataset masquerading as a
        small valid one)."""
        from polars_gdal_spark.errors import UnsupportedFormatError

        with open(path, "rb") as f:
            head = f.read(28)
        if len(head) < 28:
            raise UnsupportedFormatError(
                f"truncated shapefile {path!r}: header incomplete"
            )
        declared = struct.unpack(">i", head[24:28])[0] * 2
        actual = os.path.getsize(path)
        if actual < declared:
            raise UnsupportedFormatError(
                f"truncated shapefile {path!r}: header declares "
                f"{declared} bytes, file holds {actual}"
            )

    def list_layers(self, path: str, options: dict) -> list[str]:
        return [os.path.splitext(os.path.basename(path))[0]]

    def _dbf(self, path: str, options: dict | None = None) -> _Dbf | None:
        dbf_path = _sibling(path, ".dbf", options or {})
        if not dbf_path:
            return None
        # .cpg sidecar declares the DBF text encoding (GDAL convention).
        enc = "latin-1"
        cpg = _sibling(path, ".cpg", options or {})
        if cpg:
            try:
                with open(cpg, encoding="ascii", errors="ignore") as f:
                    enc = _CPG_CODECS.get(
                        f.read().strip().lower(), "latin-1"
                    )
            except OSError:
                pass
        return _Dbf(dbf_path, enc)

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        dbf = self._dbf(path, options)
        return dbf.spark_fields() if dbf else []

    def layer_crs(self, path: str, layer: str, options: dict) -> str | None:
        prj = _sibling(path, ".prj", options)
        if prj:
            with open(prj, encoding="utf-8", errors="replace") as f:
                return f.read().strip() or None
        return None

    def feature_count(self, path: str, layer: str, options: dict) -> int | None:
        try:
            return _shx_count(_shx_path(path, options))
        except OSError:
            return None

    def layer_bbox(
        self, path: str, layer: str, options: dict
    ) -> tuple[float, float, float, float] | None:
        """.shp main-file header words 9-16 (Xmin Ymin Xmax Ymax) — free
        spatial pruning metadata every shapefile carries."""
        with open(path, "rb") as f:
            head = f.read(68)
        if len(head) < 68:
            return None
        mnx, mny, mxx, mxy = struct.unpack_from("<4d", head, 36)
        if mnx > mxx:  # empty shapefile writes a degenerate box
            return None
        return (mnx, mny, mxx, mxy)

    def split_ranges(
        self, path: str, layer: str, options: dict, target_splits: int
    ) -> list[tuple[int, int]] | None:
        n = self.feature_count(path, layer, options)
        if n is None or n == 0:
            return None
        return even_ranges(0, n, target_splits)

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        self._check_not_truncated(path)
        start = start or 0
        try:
            offsets = _shx_offsets(path, options, start, end)
        except OSError:
            offsets = None  # no .shx (so never split): walk the .shp
        dbf = self._dbf(path, options)
        props_iter = (
            dbf.read_range(start, dbf.n_records if end is None else end)
            if dbf
            else iter(dict, None)
        )
        with open(path, "rb") as f:
            for fid, content in enumerate(_shp_contents(f, offsets), start):
                props = next(props_iter, {})
                wkb = _shape_to_wkb(content)
                geom = _parse_shape(content) if wkb is None else None
                yield Feature(fid=fid, geom=geom, props=props, wkb=wkb)


register(ShapefileDriver())
