"""ISO WKB encode/decode (pure Python, struct-based).

Produces the same byte layout GDAL's ``geometry.wkb()`` returns on the
reference read path (``src/lib.rs:390-393``): little-endian ISO WKB,
Z-variants as type+1000. Reads both endiannesses and tolerates the
EWKB SRID flag (0x20000000) by skipping the SRID.
"""

from __future__ import annotations

import struct

TYPE_CODES = {
    "Point": 1,
    "LineString": 2,
    "Polygon": 3,
    "MultiPoint": 4,
    "MultiLineString": 5,
    "MultiPolygon": 6,
    "GeometryCollection": 7,
}
CODE_TYPES = {v: k for k, v in TYPE_CODES.items()}

_EWKB_SRID_FLAG = 0x20000000
_EWKB_Z_FLAG = 0x80000000


class WkbError(ValueError):
    pass


# ---------------------------------------------------------------- encode


def _enc_coords_point(buf: bytearray, pt, ndim: int) -> None:
    buf.extend(struct.pack(f"<{ndim}d", *pt[:ndim]))


def _enc_ring(buf: bytearray, ring, ndim: int) -> None:
    buf.extend(struct.pack("<I", len(ring)))
    for pt in ring:
        _enc_coords_point(buf, pt, ndim)


def _ndim_of(geom_type: str, coords) -> int:
    probe = coords
    if geom_type == "GeometryCollection":
        return 2  # collections carry per-member dimensionality
    depth = {
        "Point": 0,
        "LineString": 1,
        "MultiPoint": 1,
        "Polygon": 2,
        "MultiLineString": 2,
        "MultiPolygon": 3,
    }[geom_type]
    for _ in range(depth):
        if not probe:
            return 2
        probe = probe[0]
    return 3 if len(probe) >= 3 else 2


def geom_to_wkb(geom: tuple) -> bytes:
    """(type, coords) → little-endian ISO WKB bytes."""
    geom_type, coords = geom
    buf = bytearray()
    _encode_into(buf, geom_type, coords)
    return bytes(buf)


def _encode_into(buf: bytearray, geom_type: str, coords) -> None:
    if geom_type not in TYPE_CODES:
        raise WkbError(f"unsupported geometry type {geom_type!r}")
    ndim = _ndim_of(geom_type, coords)
    code = TYPE_CODES[geom_type] + (1000 if ndim == 3 else 0)
    buf.append(1)  # little endian
    buf.extend(struct.pack("<I", code))
    if geom_type == "Point":
        _enc_coords_point(buf, coords, ndim)
    elif geom_type in ("LineString", "MultiPoint") and geom_type == "LineString":
        _enc_ring(buf, coords, ndim)
    elif geom_type == "MultiPoint":
        buf.extend(struct.pack("<I", len(coords)))
        for pt in coords:
            _encode_into(buf, "Point", pt)
    elif geom_type == "Polygon":
        buf.extend(struct.pack("<I", len(coords)))
        for ring in coords:
            _enc_ring(buf, ring, ndim)
    elif geom_type == "MultiLineString":
        buf.extend(struct.pack("<I", len(coords)))
        for line in coords:
            _encode_into(buf, "LineString", line)
    elif geom_type == "MultiPolygon":
        buf.extend(struct.pack("<I", len(coords)))
        for poly in coords:
            _encode_into(buf, "Polygon", poly)
    elif geom_type == "GeometryCollection":
        buf.extend(struct.pack("<I", len(coords)))
        for sub in coords:
            _encode_into(buf, sub[0], sub[1])


def point_wkb_array(x, y, valid=None):
    """2D Point WKB for a whole column at once: a pyarrow binary array
    of 21-byte values, each equal to ``geom_to_wkb(("Point", (x, y)))``,
    packed with numpy instead of per-row ``struct`` calls.

    ``x`` and ``y`` hold the coordinates of the valid rows only;
    ``valid`` (one bool per row, default all true) marks the rows that
    get a value — the others are null."""
    import numpy as np
    import pyarrow as pa

    nv = len(x)
    buf = np.empty((nv, 21), dtype=np.uint8)
    buf[:, 0] = 1  # little-endian byte order mark
    buf[:, 1] = 1  # wkbPoint
    buf[:, 2:5] = 0
    for col, coord in ((5, x), (13, y)):
        buf[:, col : col + 8] = (
            np.ascontiguousarray(coord, dtype="<f8").view(np.uint8).reshape(nv, 8)
        )
    valid = np.ones(nv, dtype=bool) if valid is None else np.asarray(valid, bool)
    offsets = np.concatenate(([0], np.cumsum(np.where(valid, 21, 0))))
    validity = (
        None
        if valid.all()
        else pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
    )
    return pa.Array.from_buffers(
        pa.binary(),
        len(valid),
        [
            validity,
            pa.py_buffer(offsets.astype(np.int32).tobytes()),
            pa.py_buffer(buf.tobytes()),
        ],
    )


# ---------------------------------------------------------------- decode


class _Reader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.data):
            raise WkbError("truncated WKB")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out


def wkb_to_geom(data: bytes) -> tuple:
    """WKB bytes → (type, coords). Accepts ISO and EWKB, both endians."""
    if not data:
        raise WkbError("empty WKB")
    r = _Reader(bytes(data))
    geom = _decode(r)
    return geom


def _decode(r: _Reader) -> tuple:
    byte_order = r.take(1)[0]
    endian = "<" if byte_order == 1 else ">"
    (raw_code,) = struct.unpack(f"{endian}I", r.take(4))
    code = raw_code
    has_z = False
    if code & _EWKB_Z_FLAG:
        has_z = True
        code &= ~_EWKB_Z_FLAG
    if code & _EWKB_SRID_FLAG:
        code &= ~_EWKB_SRID_FLAG
        r.take(4)  # skip SRID
    if code >= 3000:
        raise WkbError(f"unsupported WKB type code {raw_code}")
    if code >= 1000:
        has_z = True
        code -= 1000
    if code not in CODE_TYPES:
        raise WkbError(f"unsupported WKB type code {raw_code}")
    geom_type = CODE_TYPES[code]
    ndim = 3 if has_z else 2

    def point():
        return tuple(struct.unpack(f"{endian}{ndim}d", r.take(8 * ndim)))

    def ring():
        (n,) = struct.unpack(f"{endian}I", r.take(4))
        return [point() for _ in range(n)]

    def count():
        (n,) = struct.unpack(f"{endian}I", r.take(4))
        return n

    if geom_type == "Point":
        return geom_type, point()
    if geom_type == "LineString":
        return geom_type, ring()
    if geom_type == "Polygon":
        return geom_type, [ring() for _ in range(count())]
    if geom_type == "MultiPoint":
        return geom_type, [_decode(r)[1] for _ in range(count())]
    if geom_type == "MultiLineString":
        return geom_type, [_decode(r)[1] for _ in range(count())]
    if geom_type == "MultiPolygon":
        return geom_type, [_decode(r)[1] for _ in range(count())]
    if geom_type == "GeometryCollection":
        return geom_type, [_decode(r) for _ in range(count())]
    raise WkbError(f"unhandled type {geom_type}")


# ------------------------------------------------------- canonical check


def _walk_canonical(d: bytes, pos: int) -> tuple[int, bool]:
    """Walk one geometry at ``pos``; return (end_pos, is_z). Raises
    WkbError unless the bytes are EXACTLY the engine's canonical
    encoding (little-endian, ISO Z as type+1000, no EWKB flags) such
    that ``geom_to_wkb(wkb_to_geom(d)) == d``. Only headers are
    examined — coordinate blocks are skipped arithmetically."""
    if d[pos] != 1:
        raise WkbError("big-endian")
    (code,) = struct.unpack_from("<I", d, pos + 1)
    z = 1000 <= code < 2000
    base = code - 1000 if z else code
    nd = 3 if z else 2
    pos += 5
    if base == 1:  # Point
        return pos + 8 * nd, z
    if base == 2:  # LineString
        (n,) = struct.unpack_from("<I", d, pos)
        return pos + 4 + 8 * nd * n, z
    if base == 3:  # Polygon (rings share the header's dimensionality)
        (nr,) = struct.unpack_from("<I", d, pos)
        pos += 4
        for _ in range(nr):
            (n,) = struct.unpack_from("<I", d, pos)
            pos += 4 + 8 * nd * n
        return pos, z
    if base in (4, 5, 6):  # Multi*: children carry their own headers
        (n,) = struct.unpack_from("<I", d, pos)
        pos += 4
        first_z = None
        for i in range(n):
            pos, cz = _walk_canonical(d, pos)
            if i == 0:
                first_z = cz
        # re-encode derives the parent code from the FIRST child's
        # dimensionality (empty multi → 2D): must match to reproduce.
        if z != (first_z if first_z is not None else False):
            raise WkbError("parent/child dimensionality mismatch")
        return pos, z
    if base == 7:  # GeometryCollection: always encoded 2D at the top
        if z:
            raise WkbError("Z collection is never canonical")
        (n,) = struct.unpack_from("<I", d, pos)
        pos += 4
        for _ in range(n):
            pos, _ = _walk_canonical(d, pos)
        return pos, False
    raise WkbError(f"type {code}")


def wkb_is_canonical_le(data: bytes) -> bool:
    """True iff ``data`` is byte-identical to the engine's canonical
    encoding of the geometry it contains — i.e. a reader may pass the
    slice through without decode→re-encode. O(#headers), no coordinate
    unpacking."""
    try:
        end, _ = _walk_canonical(data, 0)
    except (WkbError, IndexError, struct.error):
        return False
    return end == len(data)
