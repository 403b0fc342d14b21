"""FlatGeobuf driver (pure Python, stdlib struct).

FlatGeobuf is in the reference's supported-format list (GDAL driver set,
reference ``README.md:9``); this is a from-spec implementation of the
public format (https://flatgeobuf.org, BSD-2): magic bytes, size-prefixed
FlatBuffers header (name / geometry_type / columns / features_count /
index_node_size / crs), optional packed Hilbert R-tree (skipped on read,
not written), then a stream of size-prefixed Feature records.

Includes a minimal FlatBuffers reader (vtable walk) and builder
(bottom-up, back-to-front, spec offset semantics) — the full flatbuffers
runtime is not in this environment.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    register,
)

MAGIC = b"fgb\x03fgb\x00"

# ColumnType enum (flatgeobuf header.fbs)
_CT_BYTE, _CT_UBYTE, _CT_BOOL, _CT_SHORT, _CT_USHORT = 0, 1, 2, 3, 4
_CT_INT, _CT_UINT, _CT_LONG, _CT_ULONG = 5, 6, 7, 8
_CT_FLOAT, _CT_DOUBLE, _CT_STRING, _CT_JSON = 9, 10, 11, 12
_CT_DATETIME, _CT_BINARY = 13, 14

_CT_TO_DDL = {
    _CT_BYTE: "int", _CT_UBYTE: "int", _CT_BOOL: "boolean",
    _CT_SHORT: "int", _CT_USHORT: "int", _CT_INT: "int",
    _CT_UINT: "bigint", _CT_LONG: "bigint", _CT_ULONG: "bigint",
    _CT_FLOAT: "double", _CT_DOUBLE: "double",
    _CT_STRING: "string", _CT_JSON: "string", _CT_DATETIME: "string",
    _CT_BINARY: "binary",
}

_DDL_TO_CT = {
    "tinyint": _CT_BYTE, "smallint": _CT_SHORT, "int": _CT_INT,
    "bigint": _CT_LONG, "boolean": _CT_BOOL,
    "float": _CT_FLOAT, "double": _CT_DOUBLE,
    "string": _CT_STRING, "binary": _CT_BINARY,
    "date": _CT_DATETIME, "timestamp": _CT_DATETIME,
    "timestamp_ntz": _CT_DATETIME,
}

# GeometryType enum (flatgeobuf header.fbs)
_GEOM_NAMES = {
    0: None, 1: "Point", 2: "LineString", 3: "Polygon",
    4: "MultiPoint", 5: "MultiLineString", 6: "MultiPolygon",
    7: "GeometryCollection",
}
_GEOM_CODES = {v: k for k, v in _GEOM_NAMES.items() if v}


def _packed_rtree_size(num_items: int, node_size: int) -> int:
    """Byte size of the packed Hilbert R-tree (flatgeobuf packedrtree
    layout: 40-byte nodes, levels of ceil-division fan-in)."""
    node_size = min(max(node_size, 2), 65535)
    n, num_nodes = num_items, num_items
    while n != 1:
        n = (n + node_size - 1) // node_size
        num_nodes += n
    return num_nodes * 40


def _level_bounds(num_items: int, node_size: int):
    """Per-level (start, end) node-index ranges, index 0 = leaf level.

    Nodes are laid out root-first in the file (streaming-friendly per the
    spec), so leaves occupy the tail of the array."""
    level_num = [num_items]
    n = num_items
    while n != 1:
        n = (n + node_size - 1) // node_size
        level_num.append(n)
    num_nodes = sum(level_num)
    bounds = []
    acc = num_nodes
    for sz in level_num:
        bounds.append((acc - sz, acc))
        acc -= sz
    return num_nodes, bounds


def _hilbert_d(x: int, y: int, order: int = 16) -> int:
    """Hilbert distance of a cell on a 2^order grid (classic iterative
    xy→d). Any consistent Hilbert ordering yields a spec-valid packed
    R-tree — search correctness depends only on node envelopes."""
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def _build_rtree(items, node_size: int) -> bytes:
    """Pack (minx, miny, maxx, maxy, feature_byte_offset) leaf items —
    already in Hilbert order — into the 40-byte-node tree. Internal node
    offsets point at their first child node's byte position."""
    num_nodes, bounds = _level_bounds(len(items), node_size)
    nodes: list = [None] * num_nodes
    leaf_start = bounds[0][0]
    for i, item in enumerate(items):
        nodes[leaf_start + i] = list(item)
    for level in range(len(bounds) - 1):
        cstart, cend = bounds[level]
        pi = bounds[level + 1][0]
        ci = cstart
        while ci < cend:
            group = nodes[ci:min(ci + node_size, cend)]
            nodes[pi] = [
                min(g[0] for g in group),
                min(g[1] for g in group),
                max(g[2] for g in group),
                max(g[3] for g in group),
                ci * 40,
            ]
            pi += 1
            ci += len(group)
    return b"".join(struct.pack("<4dQ", *nd) for nd in nodes)


def _search_rtree(data, idx_start, num_items, node_size, bbox):
    """Index traversal: sorted (feature_byte_offset, leaf_ordinal) of
    leaves whose envelope intersects bbox."""
    _num_nodes, bounds = _level_bounds(num_items, node_size)
    leaf_start = bounds[0][0]
    out = []
    queue = [(0, len(bounds) - 1)]
    while queue:
        node_idx, level = queue.pop()
        end = min(node_idx + node_size, bounds[level][1])
        for i in range(node_idx, end):
            mnx, mny, mxx, mxy, off = struct.unpack_from(
                "<4dQ", data, idx_start + i * 40
            )
            if (
                mxx < bbox[0] or mnx > bbox[2]
                or mxy < bbox[1] or mny > bbox[3]
            ):
                continue
            if level == 0:
                out.append((off, i - leaf_start))
            else:
                queue.append((off // 40, level - 1))
    return sorted(out)


# ------------------------------------------------------------ fb reading


class _Tbl:
    """FlatBuffers table accessor: soffset → vtable → field slots."""

    __slots__ = ("buf", "pos", "vt", "vsz")

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.vt = pos - struct.unpack_from("<i", buf, pos)[0]
        self.vsz = struct.unpack_from("<H", buf, self.vt)[0]

    def _slot(self, fid: int) -> int:
        voff = 4 + fid * 2
        if voff + 2 > self.vsz:
            return 0
        rel = struct.unpack_from("<H", self.buf, self.vt + voff)[0]
        return self.pos + rel if rel else 0

    def scalar(self, fid: int, fmt: str, default=0):
        off = self._slot(fid)
        return struct.unpack_from(fmt, self.buf, off)[0] if off else default

    def _indirect(self, off: int) -> int:
        return off + struct.unpack_from("<I", self.buf, off)[0]

    def string(self, fid: int) -> str | None:
        off = self._slot(fid)
        if not off:
            return None
        p = self._indirect(off)
        n = struct.unpack_from("<I", self.buf, p)[0]
        return self.buf[p + 4 : p + 4 + n].decode("utf-8")

    def vector(self, fid: int) -> tuple[int, int]:
        """(data_pos, count) of a vector field; (0, 0) if absent."""
        off = self._slot(fid)
        if not off:
            return 0, 0
        p = self._indirect(off)
        return p + 4, struct.unpack_from("<I", self.buf, p)[0]

    def doubles(self, fid: int) -> list[float]:
        p, n = self.vector(fid)
        if not n:
            return []
        # numpy bulk decode: one C memcpy+convert for the whole coordinate
        # vector instead of a struct format-string parse.
        import numpy as np

        return np.frombuffer(self.buf, dtype="<f8", count=n, offset=p).tolist()

    def uints(self, fid: int) -> list[int]:
        p, n = self.vector(fid)
        return list(struct.unpack_from(f"<{n}I", self.buf, p)) if n else []

    def table(self, fid: int) -> "_Tbl | None":
        off = self._slot(fid)
        return _Tbl(self.buf, self._indirect(off)) if off else None

    def tables(self, fid: int) -> list["_Tbl"]:
        p, n = self.vector(fid)
        out = []
        for i in range(n):
            ep = p + 4 * i
            out.append(_Tbl(self.buf, self._indirect(ep)))
        return out


# ------------------------------------------------------------ fb writing


class _Builder:
    """Minimal bottom-up FlatBuffers builder. Objects are prepended, so
    children sit at higher final addresses; every reference is a forward
    uoffset, matching the spec. ``offset-from-end`` is the handle."""

    def __init__(self):
        self.buf = bytearray()
        self.minalign = 4

    def _pad_for(self, upcoming: int, align: int) -> None:
        self.minalign = max(self.minalign, align)
        while (len(self.buf) + upcoming) % align:
            self.buf[:0] = b"\x00"

    def bytes_vec(self, data: bytes, *, nul: bool = False) -> int:
        body = bytes(data) + (b"\x00" if nul else b"")
        self._pad_for(len(body), 4)
        self.buf[:0] = body
        self.buf[:0] = struct.pack("<I", len(data))
        return len(self.buf)

    def string(self, s: str) -> int:
        return self.bytes_vec(s.encode("utf-8"), nul=True)

    def scalar_vec(self, fmt: str, elem_size: int, values) -> int:
        values = list(values)
        body = struct.pack(f"<{len(values)}{fmt}", *values)
        self._pad_for(len(body), max(elem_size, 4))
        self.buf[:0] = body
        self.buf[:0] = struct.pack("<I", len(values))
        return len(self.buf)

    def offset_vec(self, offs: list[int]) -> int:
        nbytes = 4 * len(offs)
        self._pad_for(nbytes, 4)
        end_off = len(self.buf) + nbytes
        body = b"".join(
            struct.pack("<I", (end_off - 4 * i) - o)
            for i, o in enumerate(offs)
        )
        self.buf[:0] = body
        self.buf[:0] = struct.pack("<I", len(offs))
        return len(self.buf)

    def table(self, fields: list[tuple]) -> int:
        """fields: (fid, kind, value) with kind in
        {'u8','u16','u32','u64','i32','i64','f64','bool','off'}."""
        sizes = {
            "u8": 1, "bool": 1, "u16": 2, "u32": 4, "i32": 4, "off": 4,
            "u64": 8, "i64": 8, "f64": 8,
        }
        fmts = {
            "u8": "<B", "bool": "<?", "u16": "<H", "u32": "<I",
            "i32": "<i", "u64": "<Q", "i64": "<q", "f64": "<d",
        }
        # slot layout: soffset at 0; fields descending by size for
        # natural alignment (table start is 8-aligned when needed)
        max_align = max([4] + [sizes[k] for _, k, _ in fields])
        rel = {}
        cur = 4
        for fid, kind, _ in sorted(
            fields, key=lambda f: -sizes[f[1]]
        ):
            sz = sizes[kind]
            while cur % min(sz, 8):
                cur += 1
            rel[fid] = cur
            cur += sz
        tbl_size = cur + (-cur) % 4
        max_id = max(f[0] for f in fields)
        vt_size = 4 + 2 * (max_id + 1)
        vt = struct.pack("<HH", vt_size, tbl_size) + b"".join(
            struct.pack("<H", rel.get(i, 0)) for i in range(max_id + 1)
        )
        self._pad_for(len(vt), 2)
        self.buf[:0] = vt
        v_off = len(self.buf)
        # table body
        self._pad_for(tbl_size, max_align)
        t_off = len(self.buf) + tbl_size
        body = bytearray(tbl_size)
        struct.pack_into("<i", body, 0, v_off - t_off)  # soffset (negative)
        for fid, kind, val in fields:
            r = rel[fid]
            if kind == "off":
                struct.pack_into("<I", body, r, (t_off - r) - val)
            else:
                struct.pack_into(fmts[kind][1:], body, r, val)
        self.buf[:0] = bytes(body)
        return len(self.buf)

    def finish_size_prefixed(self, root: int) -> bytes:
        # align including the 4-byte size prefix (flatbuffers
        # FinishSizePrefixed semantics); also keeps back-to-back records
        # in a stream aligned, since each record length is then a
        # multiple of minalign
        self._pad_for(8, self.minalign)
        total = len(self.buf) + 4
        self.buf[:0] = struct.pack("<I", total - root)
        self.buf[:0] = struct.pack("<I", total)
        return bytes(self.buf)


# ------------------------------------------------------------ geometry


def _decode_geom(t: _Tbl, header_type: int) -> tuple | None:
    gt = t.scalar(6, "<B", 0) or header_type
    name = _GEOM_NAMES.get(gt)
    xy = t.doubles(1)
    z = t.doubles(2)
    ends = t.uints(0)
    pts = [
        (xy[2 * i], xy[2 * i + 1], z[i]) if z else (xy[2 * i], xy[2 * i + 1])
        for i in range(len(xy) // 2)
    ]
    if name == "Point":
        return ("Point", pts[0]) if pts else None
    if name == "LineString":
        return ("LineString", pts)
    if name == "MultiPoint":
        return ("MultiPoint", pts)
    if name in ("Polygon", "MultiLineString"):
        bounds = ends or ([len(pts)] if pts else [])
        rings, prev = [], 0
        for e in bounds:
            rings.append(pts[prev:e])
            prev = e
        return (name, rings)
    if name == "MultiPolygon":
        polys = [_decode_geom(p, _GEOM_CODES["Polygon"]) for p in t.tables(7)]
        return ("MultiPolygon", [p[1] for p in polys if p])
    if name == "GeometryCollection":
        subs = [_decode_geom(p, 0) for p in t.tables(7)]
        return ("GeometryCollection", [s for s in subs if s])
    return None


def _decode_geom_wkb(t: _Tbl, header_type: int) -> bytes | None:
    """Direct FlatGeobuf→canonical WKB fast path (2D only): the xy
    vector is a contiguous little-endian float64 (x,y) buffer — exactly
    the WKB body — so ring blocks are memcpy-sliced, never unpacked.
    Byte-identical to ``geom_to_wkb(_decode_geom(t, header_type))``
    (pinned by test_shapefile_fastpath.py). Returns None (tuple path)
    when a z vector is present or for types/cases needing it."""
    gt = t.scalar(6, "<B", 0) or header_type
    name = _GEOM_NAMES.get(gt)
    _zp, zn = t.vector(2)
    if zn or name is None:
        return None
    p, n = t.vector(1)
    npts = n // 2
    buf = t.buf

    def body(s: int, e: int) -> bytes:
        return bytes(buf[p + 16 * s : p + 16 * e])

    if name == "Point":
        if npts == 0:
            return None  # null geometry: tuple path yields geom=None
        return b"\x01\x01\x00\x00\x00" + body(0, 1)
    if name == "LineString":
        return (
            b"\x01\x02\x00\x00\x00" + struct.pack("<I", npts) + body(0, npts)
        )
    if name == "MultiPoint":
        out = [b"\x01\x04\x00\x00\x00", struct.pack("<I", npts)]
        for i in range(npts):
            out.append(b"\x01\x01\x00\x00\x00")
            out.append(body(i, i + 1))
        return b"".join(out)
    if name in ("Polygon", "MultiLineString"):
        ends = t.uints(0) or ([npts] if npts else [])
        spans, prev = [], 0
        for e in ends:
            spans.append((prev, e))
            prev = e
        if name == "Polygon":
            out = [b"\x01\x03\x00\x00\x00", struct.pack("<I", len(spans))]
            for sp, ep in spans:
                out.append(struct.pack("<I", ep - sp))
                out.append(body(sp, ep))
            return b"".join(out)
        out = [b"\x01\x05\x00\x00\x00", struct.pack("<I", len(spans))]
        for sp, ep in spans:
            out.append(b"\x01\x02\x00\x00\x00")
            out.append(struct.pack("<I", ep - sp))
            out.append(body(sp, ep))
        return b"".join(out)
    if name == "MultiPolygon":
        parts = t.tables(7)
        out = [b"\x01\x06\x00\x00\x00", struct.pack("<I", len(parts))]
        for pt in parts:
            w = _decode_geom_wkb(pt, _GEOM_CODES["Polygon"])
            if w is None:
                return None
            out.append(w)
        return b"".join(out)
    return None  # GeometryCollection etc.: tuple path


def _encode_geom(b: _Builder, geom: tuple) -> int:
    name, coords = geom
    fields: list[tuple] = [(6, "u8", _GEOM_CODES[name])]

    def flat(pts):
        xy, z = [], []
        has_z = any(len(p) >= 3 for p in pts)
        for p in pts:
            xy.extend(p[:2])
            if has_z:
                z.append(p[2] if len(p) >= 3 else 0.0)
        return xy, z

    if name in ("MultiPolygon", "GeometryCollection"):
        parts = [
            _encode_geom(b, g if name == "GeometryCollection" else ("Polygon", g))
            for g in coords
        ]
        fields.append((7, "off", b.offset_vec(parts)))
    else:
        if name == "Point":
            pts, ends = [coords], []
        elif name in ("LineString", "MultiPoint"):
            pts, ends = list(coords), []
        else:  # Polygon / MultiLineString: list of rings/lines
            pts, ends, acc = [], [], 0
            for ring in coords:
                pts.extend(ring)
                acc += len(ring)
                ends.append(acc)
            if len(ends) <= 1:
                ends = []
        xy, z = flat(pts)
        if ends:
            fields.append((0, "off", b.scalar_vec("I", 4, ends)))
        fields.append((1, "off", b.scalar_vec("d", 8, xy)))
        if z:
            fields.append((2, "off", b.scalar_vec("d", 8, z)))
    return b.table(fields)


# ------------------------------------------------------------ properties


def _decode_props(buf: bytes, pos: int, n: int, cols: list[tuple[str, int]]):
    props: dict = {}
    end = pos + n
    p = pos
    while p + 2 <= end:
        (ci,) = struct.unpack_from("<H", buf, p)
        p += 2
        cname, ct = cols[ci]
        if ct in (_CT_BYTE,):
            (v,) = struct.unpack_from("<b", buf, p); p += 1
        elif ct == _CT_UBYTE:
            (v,) = struct.unpack_from("<B", buf, p); p += 1
        elif ct == _CT_BOOL:
            (v,) = struct.unpack_from("<?", buf, p); p += 1
        elif ct == _CT_SHORT:
            (v,) = struct.unpack_from("<h", buf, p); p += 2
        elif ct == _CT_USHORT:
            (v,) = struct.unpack_from("<H", buf, p); p += 2
        elif ct == _CT_INT:
            (v,) = struct.unpack_from("<i", buf, p); p += 4
        elif ct == _CT_UINT:
            (v,) = struct.unpack_from("<I", buf, p); p += 4
        elif ct == _CT_LONG:
            (v,) = struct.unpack_from("<q", buf, p); p += 8
        elif ct == _CT_ULONG:
            (v,) = struct.unpack_from("<Q", buf, p); p += 8
        elif ct == _CT_FLOAT:
            (v,) = struct.unpack_from("<f", buf, p); p += 4
        elif ct == _CT_DOUBLE:
            (v,) = struct.unpack_from("<d", buf, p); p += 8
        else:  # length-prefixed: String/Json/DateTime/Binary
            (ln,) = struct.unpack_from("<I", buf, p)
            p += 4
            raw = buf[p : p + ln]
            p += ln
            v = raw if ct == _CT_BINARY else raw.decode("utf-8")
        props[cname] = v
    return props


def _encode_props(props: dict, cols: list[tuple[str, int]]) -> bytes:
    out = bytearray()
    for i, (cname, ct) in enumerate(cols):
        v = props.get(cname)
        if v is None:
            continue
        out += struct.pack("<H", i)
        if ct == _CT_BOOL:
            out += struct.pack("<?", bool(v))
        elif ct in (_CT_BYTE, _CT_SHORT, _CT_INT):
            out += struct.pack("<i" if ct == _CT_INT else
                               ("<b" if ct == _CT_BYTE else "<h"), int(v))
        elif ct in (_CT_LONG, _CT_UINT, _CT_ULONG):
            out += struct.pack("<q", int(v))
        elif ct in (_CT_FLOAT, _CT_DOUBLE):
            out += struct.pack("<d" if ct == _CT_DOUBLE else "<f", float(v))
        elif ct == _CT_BINARY:
            raw = bytes(v)
            out += struct.pack("<I", len(raw)) + raw
        else:
            raw = str(v).encode("utf-8")
            out += struct.pack("<I", len(raw)) + raw
    return bytes(out)


# ------------------------------------------------------------ file-level


def _read_header(data: bytes):
    if data[:3] != b"fgb":
        raise ValueError("not a FlatGeobuf file (bad magic)")
    pos = 8
    (hsize,) = struct.unpack_from("<I", data, pos)
    hstart = pos + 4
    root = hstart + struct.unpack_from("<I", data, hstart)[0]
    h = _Tbl(data, root)
    cols = [
        (c.string(0) or f"col{i}", c.scalar(1, "<B", 0))
        for i, c in enumerate(h.tables(7))
    ]
    geom_type = h.scalar(2, "<B", 0)
    feat_count = h.scalar(8, "<Q", 0)
    node_size = h.scalar(9, "<H", 16)
    crs = None
    crs_t = h.table(10)
    if crs_t is not None:
        org, code = crs_t.string(0), crs_t.scalar(1, "<i", 0)
        wkt = crs_t.string(4)
        if org and code:
            crs = f"{org}:{code}"
        elif wkt:
            crs = wkt
    idx_start = hstart + hsize
    body = idx_start
    if node_size > 0 and feat_count > 0:
        body += _packed_rtree_size(feat_count, node_size)
    return cols, geom_type, feat_count, crs, body, node_size, idx_start


class FlatGeobufDriver(FormatDriver):
    name = "FlatGeobuf"
    extensions = (".fgb",)

    def can_open(self, path: str, head: bytes) -> bool:
        return head[:3] == b"fgb"

    def list_layers(self, path: str, options: dict) -> list[str]:
        return ["layer"]

    def _header(self, path: str):
        with open(path, "rb") as f:
            data = f.read()
        try:
            return data, _read_header(data)
        except (struct.error, IndexError, ValueError) as e:
            from polars_gdal_spark.errors import UnsupportedFormatError

            raise UnsupportedFormatError(
                f"corrupt or truncated FlatGeobuf header in {path!r}: {e}"
            ) from e

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        _, (cols, *_rest) = self._header(path)
        return [Field(n, _CT_TO_DDL.get(t, "string")) for n, t in cols]

    def layer_crs(self, path: str, layer: str, options: dict) -> str | None:
        _, (_c, _g, _n, crs, _b, _ns, _ix) = self._header(path)
        return crs

    def feature_count(self, path: str, layer: str, options: dict) -> int | None:
        _, (_c, _g, n, _crs, _b, _ns, _ix) = self._header(path)
        return n or None

    def layer_bbox(
        self, path: str, layer: str, options: dict
    ) -> tuple[float, float, float, float] | None:
        """Envelope from the packed R-tree's root node (only indexed
        files carry one — the index IS the spatial metadata)."""
        data, (_c, _g, n, _crs, _b, node_size, idx_start) = self._header(path)
        if node_size == 0 or n == 0:
            return None
        mnx, mny, mxx, mxy, _off = struct.unpack_from("<4dQ", data, idx_start)
        return (mnx, mny, mxx, mxy)

    def _decode_at(self, data, pos, cols, geom_type, fid) -> tuple[Feature, int]:
        (fsize,) = struct.unpack_from("<I", data, pos)
        fstart = pos + 4
        root = fstart + struct.unpack_from("<I", data, fstart)[0]
        ft = _Tbl(data, root)
        gt = ft.table(0)
        pp, pn = ft.vector(1)
        props = _decode_props(data, pp, pn, cols) if pn else {}
        for cname, _ct in cols:
            props.setdefault(cname, None)
        wkb = geom = None
        if gt is not None:
            wkb = _decode_geom_wkb(gt, geom_type)
            if wkb is None:
                geom = _decode_geom(gt, geom_type)
        return Feature(fid=fid, geom=geom, props=props, wkb=wkb), fstart + fsize

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        def _truncated(p, e):
            from polars_gdal_spark.errors import UnsupportedFormatError

            return UnsupportedFormatError(
                f"truncated FlatGeobuf {p!r}: feature record cut "
                f"mid-decode ({type(e).__name__}: {e})"
            )

        data, (cols, geom_type, n, _crs, body, node_size, idx_start) = (
            self._header(path)
        )
        bbox_opt = options.get("bbox")
        if bbox_opt and node_size > 0 and n > 0:
            # Index-driven scan: decode only features whose R-tree leaf
            # envelope intersects the bbox. The reader's exact envelope
            # test still runs on every yielded feature, so this is purely
            # a pruning fast path (the at-scale point of the index).
            bbox = tuple(float(v) for v in str(bbox_opt).split(","))
            for off, ordinal in _search_rtree(
                data, idx_start, n, node_size, bbox
            ):
                try:
                    feat, _next = self._decode_at(
                        data, body + off, cols, geom_type, ordinal
                    )
                except (struct.error, IndexError, ValueError) as e:
                    raise _truncated(path, e)
                yield feat
            return
        fid = 0
        pos = body
        while pos + 4 <= len(data):
            # A file cut mid-record makes _decode_at hit the EOF with a raw
            # struct.error/IndexError; surface the same typed, file-naming
            # error the record-boundary truncation path below promises.
            try:
                feat, nxt = self._decode_at(data, pos, cols, geom_type, fid)
            except (struct.error, IndexError, ValueError) as e:
                raise _truncated(path, e)
            if nxt > len(data):
                break  # final record extends past EOF — truncated body
            yield feat
            pos = nxt
            fid += 1
        # The header declares features_count (0 = unknown, valid per
        # spec): a full sequential scan that decodes fewer means the
        # feature section is TRUNCATED — fail loudly instead of
        # silently returning a partial dataset (a half-downloaded file
        # would otherwise look like a smaller, valid one).
        if n > 0 and fid < n:
            from polars_gdal_spark.errors import UnsupportedFormatError

            raise UnsupportedFormatError(
                f"truncated FlatGeobuf {path!r}: header declares {n} "
                f"features, body holds {fid}"
            )


def fgb_columns(fields: list[tuple[str, str]]) -> list[tuple[str, int]]:
    """(name, ColumnType) of each (name, Spark DDL type) field."""
    return [(n, _DDL_TO_CT.get(d, _CT_STRING)) for n, d in fields]


def encode_feature(geom: tuple | None, props: dict, cols) -> bytes:
    """One size-prefixed Feature record."""
    b = _Builder()
    fb_fields: list[tuple] = []
    if geom is not None:
        fb_fields.append((0, "off", _encode_geom(b, geom)))
    pb = _encode_props(props, cols)
    if pb:
        fb_fields.append((1, "off", b.bytes_vec(pb)))
    if not fb_fields:  # empty feature: table must still exist
        fb_fields = [(1, "off", b.bytes_vec(b""))]
    return b.finish_size_prefixed(b.table(fb_fields))


def write_fgb(
    path: str,
    fields: list[tuple[str, str]],
    feats,
    layer_name: str = "layer",
    srs_code: int | None = 4326,
    index_node_size: int = 0,
) -> None:
    """Write (geom_tuple | None, props_dict) pairs as FlatGeobuf."""
    from polars_gdal_spark.geometry import geom_bounds

    cols = fgb_columns(fields)
    records, bounds = [], []
    for geom, props in feats:
        records.append(encode_feature(geom, props, cols))
        bounds.append(geom_bounds(geom) if geom is not None else None)
    write_fgb_records(
        path, cols, records, bounds, layer_name, srs_code, index_node_size
    )


def write_fgb_records(
    path: str,
    cols: list[tuple[str, int]],
    records: list,
    bounds: list,
    layer_name: str = "layer",
    srs_code: int | None = 4326,
    index_node_size: int = 0,
) -> None:
    """Write encoded Feature ``records`` (with each one's envelope in
    ``bounds``, None for none) as a FlatGeobuf file.

    With ``index_node_size > 0``, records are Hilbert-sorted by their
    envelopes and a packed R-tree is emitted between header and body
    (spec packedrtree layout), enabling index-driven ``bbox`` reads.
    Requires every feature to carry an envelope; if any lacks one the
    file silently falls back to unindexed (``index_node_size=0`` —
    valid per spec)."""
    node_size = 0
    index = b""
    if index_node_size > 0 and records and all(bb is not None for bb in bounds):
        node_size = min(max(index_node_size, 2), 65535)
        minx = min(bb[0] for bb in bounds)
        miny = min(bb[1] for bb in bounds)
        w = max(bb[2] for bb in bounds) - minx
        h = max(bb[3] for bb in bounds) - miny

        def hkey(bb):
            hx = int(((bb[0] + bb[2]) / 2 - minx) / w * 65535) if w else 0
            hy = int(((bb[1] + bb[3]) / 2 - miny) / h * 65535) if h else 0
            return _hilbert_d(hx, hy)

        order = sorted(range(len(records)), key=lambda i: hkey(bounds[i]))
        records = [records[i] for i in order]
        items = []
        off = 0
        for i, rec in zip(order, records):
            bb = bounds[i]
            items.append((bb[0], bb[1], bb[2], bb[3], off))
            off += len(rec)
        index = _build_rtree(items, node_size)

    hb = _Builder()
    col_offs = []
    for n, ct in cols:
        name_off = hb.string(n)
        col_offs.append(hb.table([(0, "off", name_off), (1, "u8", ct)]))
    hfields: list[tuple] = [(0, "off", hb.string(layer_name))]
    if col_offs:
        hfields.append((7, "off", hb.offset_vec(col_offs)))
    hfields.append((8, "u64", len(records)))
    hfields.append((9, "u16", node_size))  # 0 = no index (default is 16)
    if srs_code:
        org = hb.string("EPSG")
        hfields.append(
            (10, "off", hb.table([(0, "off", org), (1, "i32", srs_code)]))
        )
    header = hb.finish_size_prefixed(hb.table(hfields))

    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(header)
        f.write(index)
        for r in records:
            f.write(r)


register(FlatGeobufDriver())
