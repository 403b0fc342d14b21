"""MapInfo TAB (binary) writer — the native sibling of the MIF writer.

Emits the four-file family (.tab/.dat/.map/.id) in the layout that
``sources/formats/mapinfo_tab.py`` documents (public MITAB format
description; see that module's docstring for the spec-verbatim vs
engine-documented split). The reference gets TAB write for free from
GDAL ("MapInfo File" driver, reference README.md:9); here it is a
from-spec implementation.

Spark type → TAB field type: string→Char(max observed width, ≤254),
bigint→Integer, smallint→Smallint, double→Float, boolean→Logical,
date→Date, anything else→Char. Binary fields carry the dBASE 'C' type
byte in the .dat descriptor (MapInfo's quirk — the .tab declarations
are authoritative).

Each write task pickles its part's decoded rows (``sinks.columnar``);
the commit lays the whole layer out here, because the coordinate scale,
the ``Char`` widths and the block layout depend on every row.

Coordinates quantize into the .map integer space with scale 10^p
(largest p ≤ 7 that fits ±2^31) and zero displacement, so values with
≤p decimal digits round-trip bit-exact.

Channel losses (inherent to the format, matching GDAL's behavior):
binary numeric fields have no null encoding (MapInfo has no null
concept), so null Integer/Float/Logical values collapse to 0/0.0/F on
read-back; bigint values outside ±2^31 are declared Decimal(20,0)
(ASCII) and come back as bigint; Char pads with spaces (trailing
whitespace is not preserved). Dates DO preserve null (zero bytes).
"""

from __future__ import annotations

import datetime as _dt
import os
import struct

from polars_gdal_spark.sinks.columnar import _fits_latin1

BLOCK_SIZE = 512
MAGIC_COOKIE = 42424242
COORD_PAYLOAD = BLOCK_SIZE - 8  # per coord block, after the 8-byte header

OBJ_SYMBOL = 0x02
OBJ_LINE = 0x05
OBJ_PLINE = 0x08
OBJ_REGION = 0x0E
OBJ_MULTIPLINE = 0x26
OBJ_MULTIPOINT = 0x35

_TAB_TYPES = {
    "string": "char",
    "bigint": "integer",
    "int": "integer",
    "smallint": "smallint",
    "double": "float",
    "float": "float",
    "boolean": "logical",
    "date": "date",
}
_WIDTHS = {"integer": 4, "smallint": 2, "float": 8, "logical": 1, "date": 4}


def _pick_scale(coords: list[tuple]) -> float:
    m = max((max(abs(x), abs(y)) for x, y in coords), default=1.0)
    for p in range(7, -1, -1):
        if m * 10**p < 2**31 - 1:
            return float(10**p)
    raise ValueError(f"coordinates too large for TAB integer space: {m}")


def _flatten_coords(geom: tuple) -> list[tuple]:
    t, c = geom
    if t == "Point":
        return [c]
    if t in ("MultiPoint", "LineString"):
        return list(c)
    if t in ("MultiLineString", "Polygon"):
        return [pt for part in c for pt in part]
    if t == "MultiPolygon":
        return [pt for poly in c for ring in poly for pt in ring]
    raise ValueError(f"TAB writer: unsupported geometry {t}")


def write_tab(path: str, attrs, rows: list[tuple]) -> None:
    """Write the .tab/.dat/.map/.id family of one layer from its
    (geometry, properties) rows. The charset is "Neutral" (latin-1) when
    every ``Char`` value's text fits it, else UTF-8."""
    types = [(f.name, _TAB_TYPES.get(f.dataType.simpleString(), "char")) for f in attrs]
    text = "".join(
        str(props[name])
        for _, props in rows
        for name, t in types
        if t == "char" and props.get(name) is not None
    )
    enc, charset = ("latin-1", "Neutral") if _fits_latin1(text) else ("utf-8", "UTF-8")

    # field layout: (name, tab_type, width)
    fields: list[tuple[str, str, int]] = []
    for name, t in types:
        vals = [p.get(name) for _, p in rows if p.get(name) is not None]
        if t == "char":
            w = min(max([len(str(v).encode(enc)) for v in vals] + [1]), 254)
        elif t == "integer" and any(not -(2**31) <= int(v) < 2**31 for v in vals):
            # MapInfo Integer is 32-bit; wider values go to an
            # integer-valued Decimal(20,0) (ASCII), which the reader
            # maps back to bigint — GDAL's Integer64-as-Decimal shape.
            t, w = "decimal_int", 20
        else:
            w = _WIDTHS[t]
        fields.append((name, t, w))

    base, _ = os.path.splitext(path)
    _write_tab_file(path, fields, charset)
    _write_dat(base + ".dat", fields, [p for _, p in rows], enc)
    _write_map_and_id(base + ".map", base + ".id", [g for g, _ in rows])


def _write_tab_file(path: str, fields, charset: str) -> None:
    decl = {
        "char": lambda w: f"Char ({w})",
        "integer": lambda w: "Integer",
        "smallint": lambda w: "Smallint",
        "float": lambda w: "Float",
        "logical": lambda w: "Logical",
        "date": lambda w: "Date",
        "decimal_int": lambda w: f"Decimal ({w}, 0)",
    }
    with open(path, "w", encoding="latin-1") as f:
        f.write("!table\n!version 300\n")
        f.write(f"!charset {charset}\n\n")
        f.write("Definition Table\n")
        f.write(f'  Type NATIVE Charset "{charset}"\n')
        f.write(f"  Fields {len(fields)}\n")
        for name, t, w in fields:
            f.write(f"    {name} {decl[t](w)} ;\n")


def _encode_field(v, t: str, w: int, enc: str) -> bytes:
    if t == "char":
        raw = ("" if v is None else str(v)).encode(enc)[:w]
        return raw.ljust(w, b" ")
    if t == "integer":
        return struct.pack("<i", 0 if v is None else int(v))
    if t == "smallint":
        return struct.pack("<h", 0 if v is None else int(v))
    if t == "float":
        return struct.pack("<d", 0.0 if v is None else float(v))
    if t == "logical":
        truthy = v in (True, "T", "t", "true", "True", 1)
        return b"T" if truthy else b"F"
    if t == "date":
        if v is None or v == "":
            return b"\x00\x00\x00\x00"
        if isinstance(v, str):  # assembler's _jsonish: 'YYYY-MM-DD'
            v = _dt.date.fromisoformat(v)
        return struct.pack("<HBB", v.year, v.month, v.day)
    if t == "decimal_int":
        s = b"" if v is None else str(int(v)).encode("ascii")
        return s.rjust(w, b" ")
    raise ValueError(f"TAB writer: unknown field type {t}")


def _write_dat(path: str, fields, rows: list[dict], enc: str) -> None:
    record_size = 1 + sum(w for _, _, w in fields)
    header_size = 32 + 32 * len(fields) + 1
    today = _dt.date(2000, 1, 1)  # fixed stamp: deterministic output
    head = bytearray(32)
    head[0] = 0x03
    head[1:4] = bytes([today.year % 100, today.month, today.day])
    struct.pack_into("<I", head, 4, len(rows))
    struct.pack_into("<H", head, 8, header_size)
    struct.pack_into("<H", head, 10, record_size)
    out = bytearray(head)
    for name, t, w in fields:
        desc = bytearray(32)
        nm = name.encode("ascii", errors="replace")[:10]
        desc[0 : len(nm)] = nm
        # MapInfo quirk: binary types carry 'C'; only .tab knows better
        desc[11] = {
            "decimal": ord("N"),
            "decimal_int": ord("N"),
            "logical": ord("L"),
        }.get(t, ord("C"))
        desc[16] = w
        out += desc
    out += b"\x0d"
    for r in rows:
        rec = bytearray(b" ")
        for name, t, w in fields:
            rec += _encode_field(r.get(name), t, w, enc)
        out += rec
    with open(path, "wb") as f:
        f.write(bytes(out))


def _serialize_objects(geoms, to_int):
    """Per feature: (otype|None, body bytes with ptr/size placeholders,
    coord payload bytes|None). Bodies lead with the type byte + int32
    object id; multi-vertex payloads go to coordinate blocks."""
    entries = []
    for i, g in enumerate(geoms):
        if g is None:
            entries.append((None, b"", None))
            continue
        t, c = g
        oid = struct.pack("<i", i + 1)
        if t == "Point":
            nx, ny = to_int(c)
            body = bytes([OBJ_SYMBOL]) + oid + struct.pack("<ii", nx, ny)
            entries.append((OBJ_SYMBOL, body + b"\x01", None))
        elif t == "LineString" and len(c) == 2:
            (x1, y1), (x2, y2) = (to_int(p) for p in c)
            body = bytes([OBJ_LINE]) + oid + struct.pack(
                "<iiii", x1, y1, x2, y2
            )
            entries.append((OBJ_LINE, body + b"\x01", None))
        elif t == "LineString":
            payload = b"".join(
                struct.pack("<ii", *to_int(p)) for p in c
            )
            body = bytes([OBJ_PLINE]) + oid + b"\x00" * 8 + b"\x01"
            entries.append((OBJ_PLINE, body, payload))
        elif t == "MultiPoint":
            payload = b"".join(
                struct.pack("<ii", *to_int(p)) for p in c
            )
            body = (
                bytes([OBJ_MULTIPOINT]) + oid + b"\x00" * 8
                + struct.pack("<i", len(c)) + b"\x01"
            )
            entries.append((OBJ_MULTIPOINT, body, payload))
        elif t in ("MultiLineString", "Polygon", "MultiPolygon"):
            if t == "MultiLineString":
                otype, parts = OBJ_MULTIPLINE, c
            else:
                otype = OBJ_REGION
                parts = (
                    [r for poly in c for r in poly]
                    if t == "MultiPolygon"
                    else c
                )
            payload = struct.pack("<i", len(parts))
            for part in parts:
                payload += struct.pack("<i", len(part))
                payload += b"".join(
                    struct.pack("<ii", *to_int(p)) for p in part
                )
            body = bytes([otype]) + oid + b"\x00" * 8 + b"\x01"
            entries.append((otype, body, payload))
        else:
            raise ValueError(f"TAB writer: unsupported geometry {t}")
    return entries


def _write_map_and_id(map_path: str, id_path: str, geoms) -> None:
    all_coords = [
        pt for g in geoms if g is not None for pt in _flatten_coords(g)
    ]
    scale = _pick_scale(all_coords)

    def to_int(pt):
        return (round(pt[0] * scale), round(pt[1] * scale))

    entries = _serialize_objects(geoms, to_int)

    # --- lay out object blocks (objects never straddle blocks) --------
    obj_blocks: list[bytearray] = []
    obj_offsets: list[int] = []  # absolute file offset per feature (0=none)
    slots = []  # (block, body position, payload) per coordinate payload
    for otype, body, payload in entries:
        if otype is None:
            obj_offsets.append(0)
            continue
        if not obj_blocks or len(obj_blocks[-1]) + len(body) > BLOCK_SIZE:
            obj_blocks.append(bytearray(8))  # int16 type=2, int16 used, 4 pad
            struct.pack_into("<h", obj_blocks[-1], 0, 2)
        cur = obj_blocks[-1]
        obj_offsets.append(BLOCK_SIZE * len(obj_blocks) + len(cur))
        if payload is not None:
            slots.append((cur, len(cur), payload))
        cur += body
        struct.pack_into("<h", cur, 2, len(cur))

    coord_start = BLOCK_SIZE * (1 + len(obj_blocks))

    # --- lay out coordinate payloads across linked coord blocks -------
    def file_off(linear: int) -> int:
        return (
            coord_start
            + (linear // COORD_PAYLOAD) * BLOCK_SIZE
            + 8
            + (linear % COORD_PAYLOAD)
        )

    coord_bytes = bytearray()
    for blk, pos, payload in slots:  # patch each body's pointer and size
        ptr = file_off(len(coord_bytes))
        struct.pack_into("<ii", blk, pos + 5, ptr, len(payload))
        coord_bytes += payload

    n_coord_blocks = -(-len(coord_bytes) // COORD_PAYLOAD) if coord_bytes else 0
    coord_blocks: list[bytearray] = []
    for k in range(n_coord_blocks):
        chunk = coord_bytes[k * COORD_PAYLOAD : (k + 1) * COORD_PAYLOAD]
        blk = bytearray(8)
        struct.pack_into("<h", blk, 0, 3)
        struct.pack_into("<h", blk, 2, len(chunk) + 8)
        nxt = (
            coord_start + (k + 1) * BLOCK_SIZE
            if k + 1 < n_coord_blocks
            else 0
        )
        struct.pack_into("<i", blk, 4, nxt)
        blk += chunk
        coord_blocks.append(blk)

    # --- header block --------------------------------------------------
    hdr = bytearray(BLOCK_SIZE)
    # 0x000-0x0FF: object-length array (reader ignores; zero-filled)
    struct.pack_into("<i", hdr, 0x100, MAGIC_COOKIE)
    struct.pack_into("<hh", hdr, 0x104, 300, BLOCK_SIZE)
    struct.pack_into("<dddd", hdr, 0x108, scale, scale, 0.0, 0.0)
    n_obj = sum(1 for g in geoms if g is not None)
    struct.pack_into("<i", hdr, 0x128, n_obj)
    if all_coords:
        ints = [to_int(p) for p in all_coords]
        xmin = min(p[0] for p in ints)
        ymin = min(p[1] for p in ints)
        xmax = max(p[0] for p in ints)
        ymax = max(p[1] for p in ints)
        struct.pack_into("<iiii", hdr, 0x12C, xmin, ymin, xmax, ymax)

    with open(map_path, "wb") as f:
        f.write(bytes(hdr))
        for blk in obj_blocks:
            f.write(bytes(blk).ljust(BLOCK_SIZE, b"\x00"))
        for blk in coord_blocks:
            f.write(bytes(blk).ljust(BLOCK_SIZE, b"\x00"))

    with open(id_path, "wb") as f:
        f.write(struct.pack(f"<{len(obj_offsets)}i", *obj_offsets))
