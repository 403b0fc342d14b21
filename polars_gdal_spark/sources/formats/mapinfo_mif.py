"""MapInfo Interchange Format (MIF/MID) driver (read).

The reference reads MapInfo files through GDAL's "MapInfo File" driver
(reference ``README.md:9`` — any GDAL-supported format; ``Cargo.toml:7``
gdal 0.14). This is a from-scratch implementation of the public MIF/MID
interchange spec (MapInfo Professional appendix "MapInfo Data
Interchange Format"):

- ``.mif`` holds the header (Version/Delimiter/Columns/CoordSys) and
  the geometry objects; the sibling ``.mid`` holds one delimited
  attribute row per object (pairing is positional).
- Geometry objects: NONE, POINT, MULTIPOINT, LINE, PLINE [MULTIPLE],
  REGION (rings organized into outer shells + holes by containment,
  GDAL's OGRGeometryFactory::organizePolygons analogue), RECT.
  Styling clauses (Pen/Brush/Symbol/Smooth/Center) are skipped.
- Column types: Char→string, Integer/Smallint→bigint, Float/Decimal→
  double, Logical→boolean, Date→date.

The ``.mid`` sibling participates in the datasource's sibling-file
handling like ``.dbf`` does for shapefiles.
"""

from __future__ import annotations

import csv
import datetime as _dt
import os
from collections.abc import Iterator

from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    register,
)

_TYPE_MAP = {
    "char": "string",
    "integer": "bigint",
    "smallint": "bigint",
    "float": "double",
    "decimal": "double",
    "logical": "boolean",
    "date": "date",
}

_STYLE_WORDS = {"pen", "brush", "symbol", "smooth", "center", "font"}


def _mid_path(path: str, options: dict) -> str | None:
    """Sibling .mid honoring ``sibling_files`` (same contract as the
    shapefile driver's ``_sibling``, reference src/lib.rs:56-59)."""
    base, _ = os.path.splitext(path)
    allowed = options.get("sibling_files")
    names = (
        {n.strip().lower() for n in str(allowed).split(",")}
        if allowed is not None
        else None
    )
    for ext in (".mid", ".MID", ".Mid"):
        cand = base + ext
        if names is not None and os.path.basename(cand).lower() not in names:
            continue
        if os.path.exists(cand):
            return cand
    return None


_CHARSETS = {
    "neutral": "latin-1",
    "utf-8": "utf-8",
    "windowslatin1": "cp1252",
    "windowscyrillic": "cp1251",
}


def _file_encoding(path: str) -> str:
    """Python codec for the MIF header's ``Charset`` declaration
    (MapInfo/GDAL write ``Charset "UTF-8"`` for non-Latin data)."""
    with open(path, "r", encoding="latin-1") as f:
        for _ in range(10):
            line = f.readline()
            if line.lower().startswith("charset"):
                q = line.find('"')
                name = line[q + 1 : line.rfind('"')] if q >= 0 else ""
                return _CHARSETS.get(name.lower(), "latin-1")
    return "latin-1"


def _parse_header(path: str) -> tuple[list[Field], str, int, str]:
    """Returns (fields, delimiter, data_line_index, encoding)."""
    fields: list[Field] = []
    delimiter = "\t"
    enc = _file_encoding(path)
    with open(path, "r", encoding=enc) as f:
        lines = f.readlines()
    i = 0
    while i < len(lines):
        line = lines[i].strip()
        low = line.lower()
        if low.startswith("delimiter"):
            # Delimiter ","  — the char sits inside double quotes
            q = line.find('"')
            if q >= 0 and q + 1 < len(line):
                delimiter = line[q + 1]
        elif low.startswith("columns"):
            try:
                n = int(line.split()[1])
            except (IndexError, ValueError) as e:
                raise ValueError(f"bad MIF Columns line: {line!r}") from e
            for j in range(1, n + 1):
                col = lines[i + j].strip()
                parts = col.split()
                name = parts[0]
                ctype = parts[1].split("(")[0].lower() if len(parts) > 1 else "char"
                fields.append(Field(name, _TYPE_MAP.get(ctype, "string")))
            i += n
        elif low == "data":
            return fields, delimiter, i + 1, enc
        i += 1
    raise ValueError(f"MIF file {path!r} has no Data section")


def _point_in_ring(pt: tuple, ring: list[tuple]) -> bool:
    """Even-odd ray cast (matches functions/geo.py semantics)."""
    x, y = pt[0], pt[1]
    inside = False
    n = len(ring)
    for k in range(n - 1):
        x1, y1 = ring[k][0], ring[k][1]
        x2, y2 = ring[k + 1][0], ring[k + 1][1]
        if (y1 > y) != (y2 > y):
            xin = (x2 - x1) * (y - y1) / (y2 - y1) + x1
            if x < xin:
                inside = not inside
    return inside


def _organize_rings(rings: list[list[tuple]]) -> tuple:
    """MIF REGION rings → Polygon / MultiPolygon. A ring contained in an
    odd number of other rings is a hole of its smallest container."""
    if len(rings) == 1:
        return ("Polygon", [rings[0]])
    contains = [
        [
            j
            for j in range(len(rings))
            if j != i and _point_in_ring(rings[i][0], rings[j])
        ]
        for i in range(len(rings))
    ]
    outers = [i for i in range(len(rings)) if len(contains[i]) % 2 == 0]
    polys: dict[int, list] = {i: [rings[i]] for i in outers}
    for i in range(len(rings)):
        if i in polys:
            continue
        parents = [j for j in contains[i] if j in polys]
        if parents:
            # smallest container = the one contained in the most rings
            parent = max(parents, key=lambda j: len(contains[j]))
            polys[parent].append(rings[i])
        else:  # malformed nesting: promote to its own shell
            polys[i] = [rings[i]]
    ordered = [polys[i] for i in sorted(polys)]
    if len(ordered) == 1:
        return ("Polygon", ordered[0])
    return ("MultiPolygon", ordered)


class _MifObjects:
    """Sequential geometry-object parser over the MIF Data section."""

    def __init__(self, lines: list[str], start: int):
        self.lines = lines
        self.i = start

    def _next_token_line(self) -> str | None:
        while self.i < len(self.lines):
            line = self.lines[self.i].strip()
            self.i += 1
            if not line:
                continue
            first = line.split()[0].split("(")[0].lower()
            if first in _STYLE_WORDS:
                continue
            return line
        return None

    def _read_points(self, n: int) -> list[tuple]:
        pts = []
        while len(pts) < n:
            line = self.lines[self.i].strip()
            self.i += 1
            if not line:
                continue
            parts = line.split()
            pts.append((float(parts[0]), float(parts[1])))
        return pts

    def __iter__(self) -> Iterator[tuple | None]:
        while True:
            line = self._next_token_line()
            if line is None:
                return
            parts = line.split()
            kw = parts[0].lower()
            if kw == "none":
                yield None
            elif kw == "point":
                yield ("Point", (float(parts[1]), float(parts[2])))
            elif kw == "multipoint":
                n = int(parts[1])
                yield ("MultiPoint", self._read_points(n))
            elif kw == "line":
                yield (
                    "LineString",
                    [
                        (float(parts[1]), float(parts[2])),
                        (float(parts[3]), float(parts[4])),
                    ],
                )
            elif kw == "pline":
                if len(parts) > 1 and parts[1].lower() == "multiple":
                    sections = int(parts[2])
                    segs = []
                    for _ in range(sections):
                        npts = int(self._next_token_line().split()[0])
                        segs.append(self._read_points(npts))
                    yield ("MultiLineString", segs)
                else:
                    npts = int(parts[1]) if len(parts) > 1 else int(
                        self._next_token_line().split()[0]
                    )
                    yield ("LineString", self._read_points(npts))
            elif kw == "region":
                nrings = int(parts[1])
                rings = []
                for _ in range(nrings):
                    npts = int(self._next_token_line().split()[0])
                    ring = self._read_points(npts)
                    if ring and ring[0] != ring[-1]:
                        ring.append(ring[0])  # MIF rings may be unclosed
                    rings.append(ring)
                yield _organize_rings(rings)
            elif kw == "rect":
                x1, y1, x2, y2 = (float(v) for v in parts[1:5])
                lo_x, hi_x = min(x1, x2), max(x1, x2)
                lo_y, hi_y = min(y1, y2), max(y1, y2)
                yield (
                    "Polygon",
                    [
                        [
                            (lo_x, lo_y),
                            (hi_x, lo_y),
                            (hi_x, hi_y),
                            (lo_x, hi_y),
                            (lo_x, lo_y),
                        ]
                    ],
                )
            else:
                raise ValueError(
                    f"unsupported MIF object {parts[0]!r} (supported: NONE "
                    "POINT MULTIPOINT LINE PLINE REGION RECT)"
                )


def _coerce(raw: str, dtype: str):
    if dtype == "string":
        # text is verbatim (MID carries it unquoted as-is); only the
        # empty string collapses to null — the format's one lossy spot
        return raw if raw != "" else None
    raw = raw.strip()
    if raw == "":
        return None
    if dtype == "bigint":
        return int(float(raw))
    if dtype == "double":
        return float(raw)
    if dtype == "boolean":
        return raw.upper() in ("T", "TRUE", "1")
    if dtype == "date":  # MIF dates are YYYYMMDD
        return _dt.date(int(raw[0:4]), int(raw[4:6]), int(raw[6:8]))
    return raw


class MapInfoMifDriver(FormatDriver):
    name = "MapInfo File"
    extensions = (".mif",)

    def can_open(self, path: str, head: bytes) -> bool:
        low = head.lstrip().lower()
        return low.startswith(b"version") and b"columns" in low

    def list_layers(self, path: str, options: dict) -> list[str]:
        return [os.path.splitext(os.path.basename(path))[0]]

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        fields, _, _, _ = _parse_header(path)
        return fields

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        fields, delimiter, data_start, enc = _parse_header(path)
        with open(path, "r", encoding=enc) as f:
            lines = f.readlines()
        mid = _mid_path(path, options or {})
        if mid and fields:
            with open(mid, "r", encoding=enc, newline="") as f:
                attr_rows = list(csv.reader(f, delimiter=delimiter))
        else:
            attr_rows = []
        for i, geom in enumerate(_MifObjects(lines, data_start)):
            props = {}
            if i < len(attr_rows):
                row = attr_rows[i]
                for fld, val in zip(fields, row):
                    props[fld.name] = _coerce(val, fld.dtype)
            yield Feature(fid=i, geom=geom, props=props)


register(MapInfoMifDriver())
