"""MapInfo TAB (binary) driver — read.

The reference reads MapInfo tables through GDAL's "MapInfo File" driver
(reference ``README.md:9``, ``Cargo.toml:7``), which handles both the
MIF/MID interchange text form (see ``mapinfo_mif.py``) and the native
binary family this module covers:

- ``.tab``  — ASCII table definition (``!table`` header, ``Definition
  Table`` block with the authoritative field types).
- ``.dat``  — attribute records, dBASE-III-like fixed-width binary.
- ``.map``  — geometry objects in 512-byte blocks.
- ``.id``   — per-record int32 offset of the object inside ``.map``
  (0 = no geometry), giving O(1) record→geometry indirection.

Layout follows the public MITAB format description (D. Morissette,
"MapInfo .TAB/.MAP/.DAT/.ID binary file format",
mitab.sourceforge.net). Spec-verbatim parts: the four-file layout and
.id indirection; the dBASE .dat header/descriptor layout with MapInfo's
binary-in-'C'-field quirk (Integer/Smallint/Float/Date stored binary
with a 'C' type byte — only the .tab knows the real type); the .map
512-byte blocking, header magic cookie 42424242 at 0x100 with int16
version / int16 block size behind it, the integer coordinate space with
a linear (scale, displacement) transform, the object type codes
(0x02 SYMBOL, 0x05 LINE, 0x08 PLINE, 0x0E REGION, 0x26 MULTIPLINE,
0x35 MULTIPOINT), and coord-block indirection for multi-vertex objects.
Engine-documented subset (offsets chosen within the header block and
validated by the round-trip tests, since no GDAL ground truth exists in
this environment): transform doubles at 0x108-0x127, object count at
0x128, integer MBR at 0x12C; coordinate payload for PLINE is bare
vertex pairs, for REGION/MULTIPLINE an int32 part count + per-part
int32 vertex count. All multi-byte values little-endian.

Scale: ``.dat`` is fixed-width and ``.id`` is a direct index, so the
file splits into record ranges with O(1) seeks per split — the same
intra-file parallelism contract as the shapefile driver.
"""

from __future__ import annotations

import datetime as _dt
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

MAGIC_COOKIE = 42424242
BLOCK_SIZE = 512

# .tab declared type -> Spark DDL (same mapping as the MIF driver)
_TYPE_MAP = {
    "char": "string",
    "integer": "bigint",
    "smallint": "bigint",
    "float": "double",
    "decimal": "double",
    "decimal_int": "bigint",
    "logical": "boolean",
    "date": "date",
}

_CHARSETS = {
    "neutral": "latin-1",
    "utf-8": "utf-8",
    "windowslatin1": "cp1252",
    "windowscyrillic": "cp1251",
}

# .map object type codes (MITAB TAB_GEOM_*, uncompressed variants)
OBJ_SYMBOL = 0x02
OBJ_LINE = 0x05
OBJ_PLINE = 0x08
OBJ_REGION = 0x0E
OBJ_MULTIPLINE = 0x26
OBJ_MULTIPOINT = 0x35


class TabDef:
    """Parsed .tab definition: fields (authoritative types) + charset."""

    def __init__(self, fields: list[tuple[str, str, int]], encoding: str):
        self.fields = fields  # (name, tab_type, width)
        self.encoding = encoding


def _parse_tab(path: str) -> TabDef:
    with open(path, "r", encoding="latin-1") as f:
        lines = f.readlines()
    enc = "latin-1"
    fields: list[tuple[str, str, int]] = []
    i = 0
    while i < len(lines):
        line = lines[i].strip()
        low = line.lower()
        if low.startswith("!charset"):
            parts = line.split()
            if len(parts) > 1:
                enc = _CHARSETS.get(parts[1].strip('"').lower(), "latin-1")
        elif low.startswith("fields"):
            try:
                n = int(line.split()[1])
            except (IndexError, ValueError) as e:
                raise ValueError(f"bad .tab Fields line: {line!r}") from e
            for j in range(1, n + 1):
                col = lines[i + j].strip().rstrip(";").strip()
                parts = col.split()
                name = parts[0]
                rest = " ".join(parts[1:]).lower()
                ctype = rest.split("(")[0].strip() if rest else "char"
                width = 0
                if "(" in rest:
                    inner = rest[rest.find("(") + 1 : rest.find(")")]
                    nums = [p.strip() for p in inner.split(",")]
                    width = int(nums[0])
                    # Decimal(w, 0) is integer-valued (GDAL reads it as
                    # Integer64) — keep it a bigint, not a double
                    if ctype == "decimal" and len(nums) > 1 and nums[1] == "0":
                        ctype = "decimal_int"
                fields.append((name, ctype, width))
            i += n
        i += 1
    if not fields:
        raise ValueError(f".tab file {path!r} has no Fields block")
    return TabDef(fields, enc)


def _sibling(path: str, ext: str, options: dict) -> str | None:
    """Locate a sibling file honoring ``sibling_files`` (same contract
    as the shapefile driver, reference src/lib.rs:56-59)."""
    base, _ = os.path.splitext(path)
    allowed = options.get("sibling_files") if options else None
    names = (
        {n.strip().lower() for n in str(allowed).split(",")}
        if allowed is not None
        else None
    )
    for e in (ext, ext.upper(), ext.capitalize()):
        cand = base + e
        if names is not None and os.path.basename(cand).lower() not in names:
            continue
        if os.path.exists(cand):
            return cand
    return None


class DatFile:
    """dBASE-III-like .dat: fixed-width records, binary MapInfo types.

    The .dat descriptor marks binary fields (Integer/Smallint/Float/
    Date) with type byte 'C'; decoding follows the .tab declaration.
    """

    def __init__(self, path: str, tabdef: TabDef):
        self.path = path
        self.enc = tabdef.encoding
        with open(path, "rb") as f:
            head = f.read(32)
            if len(head) < 32 or head[0] not in (0x03, 0x83):
                raise ValueError(f"{path!r}: not a MapInfo .dat file")
            self.n_records = struct.unpack("<I", head[4:8])[0]
            self.header_size = struct.unpack("<H", head[8:10])[0]
            self.record_size = struct.unpack("<H", head[10:12])[0]
            raw_desc = f.read(self.header_size - 32)
        # 32-byte descriptors terminated by 0x0D
        widths: list[int] = []
        off = 0
        while off + 32 <= len(raw_desc) and raw_desc[off] != 0x0D:
            widths.append(raw_desc[off + 16])
            off += 32
        if len(widths) != len(tabdef.fields):
            raise ValueError(
                f"{path!r}: .dat has {len(widths)} fields but .tab "
                f"declares {len(tabdef.fields)}"
            )
        # (name, tab_type, byte offset in record, width)
        self.layout: list[tuple[str, str, int, int]] = []
        pos = 1  # record byte 0 is the dBASE delete flag
        for (name, ctype, _), w in zip(tabdef.fields, widths):
            self.layout.append((name, ctype, pos, w))
            pos += w
        if pos != self.record_size:
            raise ValueError(
                f"{path!r}: field widths sum to {pos}, record size "
                f"{self.record_size}"
            )
        # Truncation guard: the header declares n_records × record_size
        # bytes of data; a shorter file is a partial copy — fail loudly
        # instead of silently yielding the records that happen to fit.
        declared = self.header_size + self.n_records * self.record_size
        actual = os.path.getsize(path)
        if actual < declared:
            raise ValueError(
                f"truncated MapInfo .dat {path!r}: header declares "
                f"{declared} bytes ({self.n_records} records), file "
                f"holds {actual}"
            )

    def read_records(self, start: int, end: int) -> Iterator[dict]:
        """Decode records [start, end) — O(1) seek to start."""
        end = min(end, self.n_records)
        if start >= end:
            return
        with open(self.path, "rb") as f:
            f.seek(self.header_size + start * self.record_size)
            for _ in range(start, end):
                rec = f.read(self.record_size)
                if len(rec) < self.record_size:
                    return
                yield self._decode(rec)

    def _decode(self, rec: bytes) -> dict:
        props: dict = {}
        for name, ctype, pos, w in self.layout:
            raw = rec[pos : pos + w]
            props[name] = _decode_field(raw, ctype, self.enc)
        return props


def _decode_field(raw: bytes, ctype: str, enc: str):
    if ctype == "char":
        s = raw.rstrip(b"\x00 ").decode(enc, errors="replace")
        return s if s != "" else None
    if ctype == "integer":
        return struct.unpack("<i", raw[:4])[0]
    if ctype == "smallint":
        return struct.unpack("<h", raw[:2])[0]
    if ctype == "float":
        return struct.unpack("<d", raw[:8])[0]
    if ctype == "decimal":
        s = raw.strip().decode("ascii", errors="replace")
        return float(s) if s else None
    if ctype == "decimal_int":
        s = raw.strip().decode("ascii", errors="replace")
        return int(s) if s else None
    if ctype == "logical":
        return raw[:1] in (b"T", b"t", b"Y", b"1")
    if ctype == "date":
        y = struct.unpack("<H", raw[0:2])[0]
        m, d = raw[2], raw[3]
        if y == 0 or m == 0 or d == 0:
            return None
        return _dt.date(y, m, d)
    # unknown declared type: return the text
    return raw.rstrip(b"\x00 ").decode(enc, errors="replace") or None


class MapFile:
    """.map geometry store: header transform + object defs + coord
    blocks. Objects are addressed directly by the .id offsets, so reads
    are random-access (no full-file scan to reach record k)."""

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            hdr = f.read(BLOCK_SIZE)
        if len(hdr) < BLOCK_SIZE:
            raise ValueError(f"{path!r}: truncated .map header block")
        magic = struct.unpack_from("<i", hdr, 0x100)[0]
        if magic != MAGIC_COOKIE:
            raise ValueError(
                f"{path!r}: bad .map magic {magic} (want {MAGIC_COOKIE})"
            )
        self.version, self.block_size = struct.unpack_from("<hh", hdr, 0x104)
        if self.block_size != BLOCK_SIZE:
            raise ValueError(
                f"{path!r}: unsupported block size {self.block_size}"
            )
        (self.x_scale, self.y_scale, self.x_displ, self.y_displ) = (
            struct.unpack_from("<dddd", hdr, 0x108)
        )
        self.n_objects = struct.unpack_from("<i", hdr, 0x128)[0]
        self.int_mbr = struct.unpack_from("<iiii", hdr, 0x12C)
        with open(path, "rb") as f:
            self._data = f.read()

    # -- coordinate transform (MITAB Int2Coordsys) ----------------------
    def to_xy(self, nx: int, ny: int) -> tuple[float, float]:
        return (nx / self.x_scale + self.x_displ,
                ny / self.y_scale + self.y_displ)

    def bbox(self) -> tuple[float, float, float, float] | None:
        x0, y0, x1, y1 = self.int_mbr
        if (x0, y0, x1, y1) == (0, 0, 0, 0) and self.n_objects == 0:
            return None
        ax, ay = self.to_xy(x0, y0)
        bx, by = self.to_xy(x1, y1)
        return (min(ax, bx), min(ay, by), max(ax, bx), max(ay, by))

    def _read_coord_bytes(self, ptr: int, size: int) -> bytes:
        """Coordinate payload starting at file offset ``ptr``, spanning
        coordinate blocks: each 512-byte coord block carries an 8-byte
        header (int16 type=3, int16 bytes-used, int32 next-block ptr)
        that the payload skips over."""
        out = bytearray()
        pos = ptr
        data = self._data
        while len(out) < size:
            block_start = (pos // BLOCK_SIZE) * BLOCK_SIZE
            block_end = block_start + BLOCK_SIZE
            take = min(size - len(out), block_end - pos)
            out += data[pos : pos + take]
            if len(out) >= size:
                break
            # hop to the next coord block via the linked-list pointer
            nxt = struct.unpack_from("<i", data, block_start + 4)[0]
            if nxt <= 0 or nxt >= len(data):
                raise ValueError(
                    f"{self.path!r}: coord data truncated "
                    f"(need {size}, have {len(out)})"
                )
            pos = nxt + 8  # skip the next block's header
        return bytes(out)

    def _pts(self, raw: bytes, n: int, off: int = 0) -> list[tuple]:
        vals = struct.unpack_from(f"<{2 * n}i", raw, off)
        return [
            self.to_xy(vals[2 * k], vals[2 * k + 1]) for k in range(n)
        ]

    def read_object(self, offset: int) -> tuple | None:
        """Object definition at ``offset`` → internal geometry tuple."""
        if offset <= 0:
            return None
        d = self._data
        otype = d[offset]
        # int32 object id follows the type byte; geometry data after it
        p = offset + 5
        if otype == OBJ_SYMBOL:
            nx, ny = struct.unpack_from("<ii", d, p)
            return ("Point", self.to_xy(nx, ny))
        if otype == OBJ_LINE:
            x1, y1, x2, y2 = struct.unpack_from("<iiii", d, p)
            return ("LineString", [self.to_xy(x1, y1), self.to_xy(x2, y2)])
        if otype == OBJ_PLINE:
            ptr, size = struct.unpack_from("<ii", d, p)
            raw = self._read_coord_bytes(ptr, size)
            return ("LineString", self._pts(raw, size // 8))
        if otype == OBJ_MULTIPOINT:
            ptr, size, npts = struct.unpack_from("<iii", d, p)
            raw = self._read_coord_bytes(ptr, size)
            return ("MultiPoint", self._pts(raw, npts))
        if otype in (OBJ_REGION, OBJ_MULTIPLINE):
            ptr, size = struct.unpack_from("<ii", d, p)
            raw = self._read_coord_bytes(ptr, size)
            nparts = struct.unpack_from("<i", raw, 0)[0]
            parts: list[list[tuple]] = []
            off = 4
            for _ in range(nparts):
                n = struct.unpack_from("<i", raw, off)[0]
                off += 4
                parts.append(self._pts(raw, n, off))
                off += 8 * n
            if otype == OBJ_MULTIPLINE:
                if len(parts) == 1:
                    return ("LineString", parts[0])
                return ("MultiLineString", parts)
            from polars_gdal_spark.sources.formats.mapinfo_mif import (
                _organize_rings,
            )

            rings = []
            for ring in parts:
                if ring and ring[0] != ring[-1]:
                    ring.append(ring[0])
                rings.append(ring)
            return _organize_rings(rings)
        raise ValueError(
            f"{self.path!r}: unsupported .map object type 0x{otype:02x} "
            "(supported: SYMBOL LINE PLINE REGION MULTIPLINE MULTIPOINT)"
        )


def _read_id(path: str) -> list[int]:
    with open(path, "rb") as f:
        raw = f.read()
    n = len(raw) // 4
    return list(struct.unpack(f"<{n}i", raw[: 4 * n]))


class MapInfoTabDriver(FormatDriver):
    """Read driver for native MapInfo TAB tables. Same GDAL driver name
    as the MIF sibling ("MapInfo File" covers both in GDAL)."""

    name = "MapInfo File"
    extensions = (".tab",)

    def can_open(self, path: str, head: bytes) -> bool:
        return head.lstrip().lower().startswith(b"!table")

    def list_layers(self, path: str, options: dict) -> list[str]:
        return [os.path.splitext(os.path.basename(path))[0]]

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        tabdef = _parse_tab(path)
        return [
            Field(name, _TYPE_MAP.get(ctype, "string"))
            for name, ctype, _ in tabdef.fields
        ]

    def _open(self, path: str, options: dict):
        tabdef = _parse_tab(path)
        dat_path = _sibling(path, ".dat", options or {})
        if dat_path is None:
            raise ValueError(f"{path!r}: required .dat sibling not found")
        dat = DatFile(dat_path, tabdef)
        id_path = _sibling(path, ".id", options or {})
        map_path = _sibling(path, ".map", options or {})
        offsets: list[int] | None = None
        mapf: MapFile | None = None
        if id_path is not None and map_path is not None:
            offsets = _read_id(id_path)
            mapf = MapFile(map_path)
        return dat, offsets, mapf

    def feature_count(self, path: str, layer: str, options: dict) -> int | None:
        tabdef = _parse_tab(path)
        dat_path = _sibling(path, ".dat", options or {})
        if dat_path is None:
            return None
        return DatFile(dat_path, tabdef).n_records

    def layer_bbox(
        self, path: str, layer: str, options: dict
    ) -> tuple[float, float, float, float] | None:
        map_path = _sibling(path, ".map", options or {})
        if map_path is None:
            return None
        try:
            return MapFile(map_path).bbox()
        except ValueError:
            return None

    def split_ranges(
        self, path: str, layer: str, options: dict, target_splits: int
    ) -> list[tuple[int, int]] | None:
        n = self.feature_count(path, layer, options)
        if not n:
            return None
        return even_ranges(0, n, target_splits)

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        dat, offsets, mapf = self._open(path, options)
        start = start or 0
        stop = dat.n_records if end is None else end
        for i, props in enumerate(dat.read_records(start, stop), start=start):
            geom = None
            if mapf is not None and offsets is not None and i < len(offsets):
                geom = mapf.read_object(offsets[i])
            yield Feature(fid=i, geom=geom, props=props)


register(MapInfoTabDriver())
