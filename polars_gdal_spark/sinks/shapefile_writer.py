"""ESRI Shapefile writer (.shp/.shx/.dbf/.prj/.cpg) — pure Python.

Write-side twin of sources/formats/shapefile.py, per the same public
spec. Geometry support: Point, MultiPoint, LineString/MultiLineString
(→PolyLine), Polygon/MultiPolygon (→Polygon with CW outer / CCW hole
ring orientation enforced). Attributes map to dBase III fields
(string→C, bigint→N(18,0), double→N(24,10), boolean→L, date→D) —
completing what the reference's dtype map covers (src/lib.rs:672-705)
without its silent column drops. Any other type is a ``C`` field of its
``str``.

A layer is written in two halves, so that each write task encodes its
own rows:

* ``encode_part`` encodes a part's rows into a fragment: the ``.shp``
  records numbered from 1 within the part, then the ``.dbf`` records.
  Its summary holds the row count, the shape code, the bbox and z-range
  and, per ``C`` field, the widest value in latin-1 and in UTF-8;
* ``stitch`` writes the headers once, numbers the records across parts
  and builds the ``.shx`` from the record lengths.

The ``.dbf`` text is latin-1 unless some value needs UTF-8; a ``.cpg``
declares which. Each ``C`` field is as wide as its widest encoded value
in that charset (at least 1, at most 254 bytes, truncated on a
character boundary), as GDAL's ``RESIZE=YES`` layer option leaves it.
The ``N``, ``L`` and ``D`` widths are fixed, because they decide the
types a reader gets back.
"""

from __future__ import annotations

import datetime as dt
import io
import os
import struct

import numpy as np

_SHAPE_CODES = {
    "Point": 1,
    "LineString": 3,
    "Polygon": 5,
    "MultiPoint": 8,
    "MultiLineString": 3,
    "MultiPolygon": 5,
}
# Z-variant codes (spec: PointZ=11, PolyLineZ=13, PolygonZ=15,
# MultiPointZ=18); measure (M) arrays written as NoData (< -1e38)
_Z_CODES = {1: 11, 3: 13, 5: 15, 8: 18}
_M_NODATA = -1e39


def _geom_has_z(geom) -> bool:
    t, c = geom
    probe = c
    depth = {
        "Point": 0, "LineString": 1, "MultiPoint": 1,
        "Polygon": 2, "MultiLineString": 2, "MultiPolygon": 3,
    }[t]
    for _ in range(depth):
        if not probe:
            return False
        probe = probe[0]
    return len(probe) >= 3


def _z_of(p) -> float:
    return float(p[2]) if len(p) >= 3 else 0.0


def _z_block(pts) -> bytes:
    zs = [_z_of(p) for p in pts]
    out = struct.pack("<2d", min(zs), max(zs))
    out += struct.pack(f"<{len(zs)}d", *zs)
    # measure block: range + per-point NoData
    out += struct.pack("<2d", _M_NODATA, _M_NODATA)
    out += struct.pack(f"<{len(pts)}d", *([_M_NODATA] * len(pts)))
    return out

_WGS84_WKT = (
    'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
    'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]'
)


def _ring_clockwise(ring) -> bool:
    s = 0.0
    for i in range(len(ring) - 1):
        s += (ring[i + 1][0] - ring[i][0]) * (ring[i + 1][1] + ring[i][1])
    return s > 0


def _orient(ring, clockwise: bool):
    return ring if _ring_clockwise(ring) == clockwise else list(reversed(ring))


def _poly_rings(geom) -> list[list]:
    """Polygon/MultiPolygon → flat ring list with shapefile orientation."""
    t, c = geom
    polys = [c] if t == "Polygon" else c
    rings = []
    for poly in polys:
        for j, ring in enumerate(poly):
            rings.append(_orient(ring, clockwise=(j == 0)))
    return rings


def _line_parts(geom) -> list[list]:
    t, c = geom
    return [c] if t == "LineString" else c


def _shape_content(geom) -> bytes:
    t, c = geom
    code = _SHAPE_CODES[t]
    has_z = _geom_has_z(geom)
    if has_z:
        code = _Z_CODES[code]
    if t == "Point":
        if has_z:
            return struct.pack("<i4d", code, c[0], c[1], _z_of(c), _M_NODATA)
        return struct.pack("<i2d", code, c[0], c[1])
    if t == "MultiPoint":
        xs = [p[0] for p in c]
        ys = [p[1] for p in c]
        out = struct.pack(
            "<i4di", code, min(xs), min(ys), max(xs), max(ys), len(c)
        )
        for p in c:
            out += struct.pack("<2d", p[0], p[1])
        if has_z:
            out += _z_block(c)
        return out
    parts = _poly_rings(geom) if code in (5, 15) else _line_parts(geom)
    pts = [p for part in parts for p in part]
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    out = struct.pack(
        "<i4d2i", code, min(xs), min(ys), max(xs), max(ys), len(parts), len(pts)
    )
    idx = 0
    for part in parts:
        out += struct.pack("<i", idx)
        idx += len(part)
    for p in pts:
        out += struct.pack("<2d", p[0], p[1])
    if has_z:
        out += _z_block(pts)
    return out


def _header(
    shape_code: int, file_words: int, bbox, zrange=(0.0, 0.0)
) -> bytes:
    return (
        struct.pack(">i5ii", 9994, 0, 0, 0, 0, 0, file_words)
        + struct.pack("<2i", 1000, shape_code)
        + struct.pack(
            "<8d",
            bbox[0], bbox[1], bbox[2], bbox[3],
            zrange[0], zrange[1], 0, 0,
        )
    )


#: widest DBF ``C`` field
_C_MAX = 254


def _dbf_field_spec(name: str, ddl: str) -> tuple[str, str, int, int]:
    """(name, type, width, decimals); a ``C`` field gets its widest
    width here and its data's width in the stitch."""
    name = name[:10]
    if ddl in ("bigint", "int", "smallint"):
        return (name, "N", 18, 0)
    if ddl in ("double", "float"):
        return (name, "N", 24, 10)
    if ddl == "boolean":
        return (name, "L", 1, 0)
    if ddl == "date":
        return (name, "D", 8, 0)
    return (name, "C", _C_MAX, 0)


def _dbf_value(v, ftype: str, length: int, decimals: int, enc: str) -> bytes:
    """One cell, ``length`` bytes wide; a ``C`` value is a ``str``."""
    if v is None:
        return b" " * length
    if ftype == "C":
        return _dbf_text(v, enc).ljust(length)
    if ftype == "N":
        text = (
            f"{v:.{decimals}f}" if decimals else str(int(v))
        )
        return text[:length].rjust(length).encode("latin-1", "replace")
    if ftype == "L":
        return b"T" if v else b"F"
    if isinstance(v, (dt.date, dt.datetime)):
        return f"{v.year:04d}{v.month:02d}{v.day:02d}".encode()
    return str(v).replace("-", "")[:8].ljust(8).encode()


def _dbf_text(s: str, enc: str) -> bytes:
    """One ``C`` value, unpadded, truncated to 254 bytes — never inside
    a multi-byte UTF-8 sequence."""
    raw = s.encode(enc, "replace")
    if len(raw) > _C_MAX:
        raw = raw[:_C_MAX]
        if enc == "utf-8":
            raw = raw.decode("utf-8", "ignore").encode("utf-8")
    return raw


def _text_stats(strs: list) -> tuple[int, int, bool]:
    """(widest latin-1 value, widest UTF-8 value, whether latin-1 holds
    every value) of one ``C`` column's ``str`` values (None for null)."""
    l1 = u8 = 0
    ok = True
    for s in strs:
        if s is None:
            continue
        if s.isascii():
            n = min(len(s), _C_MAX)
            l1, u8 = max(l1, n), max(u8, n)
            continue
        ok = ok and ord(max(s)) < 256
        l1 = max(l1, min(len(s), _C_MAX))
        u8 = max(u8, len(_dbf_text(s, "utf-8")))
    return l1, u8, ok


def _charset(summaries) -> str:
    """UTF-8 if any part has a ``C`` value latin-1 cannot encode."""
    ok = all(t[2] for s in summaries for t in s["text"] if t is not None)
    return "latin-1" if ok else "utf-8"


def _widths(specs, summaries, enc: str) -> list[int]:
    """Every field's width: a ``C`` field's is its widest value over
    ``summaries`` in ``enc`` (at least 1)."""
    col = 0 if enc == "latin-1" else 1
    return [
        max(1, max((s["text"][i][col] for s in summaries), default=0))
        if ftype == "C"
        else length
        for i, (_, ftype, length, _) in enumerate(specs)
    ]


def _extent(raw: np.ndarray, starts: np.ndarray, code: int):
    """(bbox, z-range) of the non-null records whose contents start at
    ``starts`` in ``raw``, read from the record bytes; None for either
    the records do not give."""

    def at(off, fmt="<f8"):
        idx = (starts + off)[:, None] + np.arange(np.dtype(fmt).itemsize)
        return raw[idx].view(fmt)[:, 0]

    def lo_hi(lo_off, hi_off):
        a, b = float(np.fmin.reduce(at(lo_off))), float(np.fmax.reduce(at(hi_off)))
        return None if a != a or b != b else (a, b)

    # a point holds x, y (, z); other shapes xmin, ymin, xmax, ymax
    xs, ys = (lo_hi(4, 4), lo_hi(12, 12)) if code in (1, 11) else (lo_hi(4, 20), lo_hi(12, 28))
    bbox = None if xs is None or ys is None else [xs[0], ys[0], xs[1], ys[1]]
    if code == 11:
        return bbox, lo_hi(20, 20)
    if code in (13, 15):  # z range after the part offsets and the points
        nparts, npts = (at(o, "<i4").astype(np.int64) for o in (36, 40))
        zoff = 44 + 4 * nparts + 16 * npts
    elif code == 18:
        zoff = 40 + 16 * at(36, "<i4").astype(np.int64)
    else:
        return bbox, None
    return bbox, lo_hi(zoff, zoff + 8)


def encode_part(f, fields: list[tuple[str, str]], batches) -> dict:
    """Encode one part into the fragment file object ``f``.

    ``batches`` yields (geometries, columns): internal geometry tuples
    (None for a null geometry) and one value list per field of
    ``fields`` ((name, Spark DDL type) pairs). The fragment is the
    record lengths (int32 each), the ``.shp`` records numbered from 1,
    then the ``.dbf`` records with each ``C`` field as wide as this
    part's widest value. The summary holds the row count, the shape code
    (None if every geometry is null), the bbox and z-range (None without
    them) and per field the ``C`` statistics of ``_text_stats`` (None
    for other fields)."""
    specs = [_dbf_field_spec(n, t) for n, t in fields]
    contents: list[bytes] = []
    cols: list[list] = [[] for _ in specs]
    shape_code = None
    for geoms, values in batches:
        for geom in geoms:
            if geom is None:
                contents.append(b"\0\0\0\0")  # null shape
                continue
            content = _shape_content(geom)
            code = struct.unpack_from("<i", content)[0]
            if shape_code is None:
                shape_code = code
            elif code != shape_code:
                # A shapefile holds exactly ONE shape type (spec p.4);
                # GDAL errors on mismatched writes, so do we instead of
                # emitting a spec-invalid file.
                raise ValueError(
                    "shapefile layers hold a single geometry type: "
                    f"first feature wrote shape code {shape_code}, "
                    f"got {code} ({geom[0]})"
                )
            contents.append(content)
        for col, vals in zip(cols, values):
            col.extend(vals)
    n = len(contents)

    lengths = np.fromiter(map(len, contents), np.int64, n)
    records = b"".join(
        struct.pack(">2i", i, len(c) // 2) + c for i, c in enumerate(contents, 1)
    )
    bbox = zrange = None
    if shape_code is not None:
        starts = np.cumsum(8 + lengths) - lengths
        bbox, zrange = _extent(
            np.frombuffer(records, np.uint8), starts[lengths > 4], shape_code
        )

    for i, (_, ftype, _, _) in enumerate(specs):
        if ftype == "C":
            cols[i] = [None if v is None else str(v) for v in cols[i]]
    text = [_text_stats(c) if sp[1] == "C" else None for c, sp in zip(cols, specs)]
    summary = {
        "n": n, "code": shape_code, "bbox": bbox, "zrange": zrange, "text": text,
    }
    enc = _charset([summary])
    widths = _widths(specs, [summary], enc)
    dbf = np.full((n, 1 + sum(widths)), 0x20, np.uint8)
    off = 1
    for col, (_, ftype, _, dec), w in zip(cols, specs, widths):
        cells = b"".join(_dbf_value(v, ftype, w, dec, enc) for v in col)
        dbf[:, off : off + w] = np.frombuffer(cells, np.uint8).reshape(n, w)
        off += w
    f.write(lengths.astype("<i4").tobytes())
    f.write(records)
    f.write(dbf.data)
    return summary


def _repad(recs: np.ndarray, specs, have: list[int], want: list[int], to_utf8: bool):
    """A part's ``.dbf`` records with each field widened from ``have``
    to ``want`` bytes; with ``to_utf8`` its latin-1 ``C`` values are
    re-encoded as UTF-8."""
    out = np.full((len(recs), 1 + sum(want)), 0x20, np.uint8)
    out[:, 0] = recs[:, 0]
    src = dst = 1
    for (_, ftype, _, _), w, width in zip(specs, have, want):
        col = recs[:, src : src + w]
        if to_utf8 and ftype == "C" and (col >= 0x80).any():
            cells = b"".join(
                _dbf_text(bytes(c).decode("latin-1").rstrip(" "), "utf-8").ljust(width)
                for c in col
            )
            out[:, dst : dst + width] = np.frombuffer(cells, np.uint8).reshape(-1, width)
        else:
            out[:, dst : dst + w] = col
        src += w
        dst += width
    return out


def stitch(
    path: str, fields: list[tuple[str, str]], frags: list, summaries: list[dict],
    srs_wkt: str | None = None,
) -> None:
    """Write ``.shp``, ``.shx``, ``.dbf``, ``.cpg`` (and ``.prj`` with
    ``srs_wkt``) at ``path`` from ``encode_part`` fragments (file paths,
    or bytes), in part order."""
    specs = [_dbf_field_spec(n, t) for n, t in fields]
    codes = [s["code"] for s in summaries if s["code"] is not None]
    for code in codes[1:]:
        if code != codes[0]:
            raise ValueError(
                "shapefile layers hold a single geometry type: "
                f"one part wrote shape code {codes[0]}, another {code}"
            )
    shape_code = codes[0] if codes else 1
    boxes = [s["bbox"] for s in summaries if s["bbox"]]
    bbox = (
        [
            min(b[0] for b in boxes), min(b[1] for b in boxes),
            max(b[2] for b in boxes), max(b[3] for b in boxes),
        ]
        if boxes
        else [0.0, 0.0, 0.0, 0.0]
    )
    zs = [s["zrange"] for s in summaries if s["zrange"]]
    zrange = (min(z[0] for z in zs), max(z[1] for z in zs)) if zs else (0.0, 0.0)
    enc = _charset(summaries)
    widths = _widths(specs, summaries, enc)
    total = sum(s["n"] for s in summaries)

    base = os.path.splitext(path)[0]
    today = dt.date.today()
    with open(base + ".shp", "wb") as shp, open(base + ".shx", "wb") as shx, open(
        base + ".dbf", "wb"
    ) as dbf:
        shp.write(_header(shape_code, 0, bbox, zrange))
        shx.write(_header(shape_code, (100 + 8 * total) // 2, bbox, zrange))
        dbf.write(
            struct.pack(
                "<4BIHH20x", 0x03, today.year - 1900, today.month, today.day,
                total, 32 + 32 * len(specs) + 1, 1 + sum(widths),
            )
        )
        for (nm, ftype, _, dec), w in zip(specs, widths):
            dbf.write(
                nm.encode("latin-1", "replace")[:11].ljust(11, b"\x00")
                + ftype.encode()
                + b"\x00" * 4
                + struct.pack("<BB", w, dec)
                + b"\x00" * 14
            )
        dbf.write(b"\x0d")
        pos, done = 100, 0
        for frag, s in zip(frags, summaries):
            n = s["n"]
            if not n:
                continue
            if isinstance(frag, (bytes, bytearray)):
                buf = frag
            else:
                with open(frag, "rb") as src:
                    buf = src.read()
            lengths = np.frombuffer(buf, "<i4", n).astype(np.int64)
            ends = np.cumsum(8 + lengths)
            starts = ends - 8 - lengths
            end = 4 * n + int(ends[-1])
            records = memoryview(buf)[4 * n : end]
            if done:  # the part numbered its records from 1
                raw = np.frombuffer(records, np.uint8).copy()
                numbers = np.arange(done + 1, done + n + 1, dtype=">i4")
                raw[starts[:, None] + np.arange(4)] = numbers.view(np.uint8).reshape(n, 4)
                records = raw.data
            shp.write(records)
            entries = np.empty((n, 2), ">i4")
            entries[:, 0] = (pos + starts) // 2
            entries[:, 1] = lengths // 2
            shx.write(entries.tobytes())
            pos += end - 4 * n

            part_enc = _charset([s])
            have = _widths(specs, [s], part_enc)
            recs = memoryview(buf)[end:]
            to_utf8 = part_enc != enc
            if have != widths or to_utf8:
                recs = np.frombuffer(recs, np.uint8).reshape(n, 1 + sum(have))
                recs = _repad(recs, specs, have, widths, to_utf8).data
            dbf.write(recs)
            done += n
        dbf.write(b"\x1a")
        shp.seek(0)
        shp.write(_header(shape_code, pos // 2, bbox, zrange))

    if srs_wkt:
        with open(base + ".prj", "w") as f:
            f.write(srs_wkt)
    with open(base + ".cpg", "w") as f:
        f.write("UTF-8" if enc == "utf-8" else "ISO-8859-1")


def write_shapefile(
    path: str,
    fields: list[tuple[str, str]],  # (name, spark ddl type)
    features,  # iterable of (geom_internal, props_dict)
    srs_wkt: str | None = _WGS84_WKT,
) -> None:
    """One-part ``encode_part`` + ``stitch`` over feature tuples."""
    feats = list(features)
    geoms = [g for g, _ in feats]
    cols = [[p.get(name) for _, p in feats] for name, _ in fields]
    buf = io.BytesIO()
    summary = encode_part(buf, fields, [(geoms, cols)])
    stitch(path, fields, [buf.getvalue()], [summary], srs_wkt)
