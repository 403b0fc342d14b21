"""WKT encode/decode (pure Python).

Output format matches GDAL's ``geometry.wkt()`` (reference
``src/lib.rs:394-399``): uppercase tag, coordinates space-separated,
``POINT (1 2)`` style with numbers rendered via repr-shortest float
(integral values render without trailing ``.0``, matching OGR).
"""

from __future__ import annotations

import re


class WktError(ValueError):
    pass


def _num(v: float) -> str:
    import math

    if float(v).is_integer():
        # preserve the IEEE sign of -0.0 through the text form
        sign = "-" if v == 0 and math.copysign(1.0, v) < 0 else ""
        return sign + str(int(v))
    return repr(float(v))


def _pt(pt) -> str:
    return " ".join(_num(c) for c in pt)


def _ring(ring) -> str:
    return "(" + ", ".join(_pt(p) for p in ring) + ")"


def geom_to_wkt(geom: tuple) -> str:
    t, c = geom
    tag = t.upper()
    if not c and t in _TAGS.values():
        return f"{tag} EMPTY"  # as OGR writes it; ``wkt_to_geom`` reads it back
    if t == "Point":
        return f"{tag} ({_pt(c)})"
    if t == "LineString":
        return f"{tag} {_ring(c)}"
    if t == "Polygon":
        return f"{tag} (" + ", ".join(_ring(r) for r in c) + ")"
    if t == "MultiPoint":
        return f"{tag} (" + ", ".join(_ring([p])[1:-1].join("()") for p in c) + ")"
    if t == "MultiLineString":
        return f"{tag} (" + ", ".join(_ring(l) for l in c) + ")"
    if t == "MultiPolygon":
        return (
            f"{tag} ("
            + ", ".join("(" + ", ".join(_ring(r) for r in poly) + ")" for poly in c)
            + ")"
        )
    if t == "GeometryCollection":
        return f"{tag} (" + ", ".join(geom_to_wkt(g) for g in c) + ")"
    raise WktError(f"unsupported geometry type {t!r}")


# ------------------------------------------------------------------ parse

_TOKEN = re.compile(r"\s*([A-Za-z]+|\(|\)|,|[-+0-9.eE]+)")


class _P:
    def __init__(self, text: str):
        self.toks = _TOKEN.findall(text)
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        tok = self.peek()
        if tok is None:
            raise WktError("unexpected end of WKT")
        self.i += 1
        return tok

    def expect(self, tok: str) -> None:
        got = self.next()
        if got != tok:
            raise WktError(f"expected {tok!r}, got {got!r}")


def _parse_point_coords(p: _P):
    nums = []
    while p.peek() not in (",", ")", None):
        nums.append(float(p.next()))
    return tuple(nums)


def _parse_list(p: _P, item):
    p.expect("(")
    out = [item(p)]
    while p.peek() == ",":
        p.next()
        out.append(item(p))
    p.expect(")")
    return out


def _parse_ring(p: _P):
    return _parse_list(p, _parse_point_coords)


def wkt_to_geom(text: str) -> tuple:
    p = _P(text.strip())
    return _parse_geom(p)


def _parse_geom(p: _P) -> tuple:
    tag = p.next().upper()
    if p.peek() and p.peek().upper() in ("Z", "ZM", "M"):
        p.next()  # dimensional qualifier; coords carry the values
    if p.peek() == "EMPTY" or (p.peek() and p.peek().upper() == "EMPTY"):
        p.next()
        empty = {
            "POINT": (), "LINESTRING": [], "POLYGON": [], "MULTIPOINT": [],
            "MULTILINESTRING": [], "MULTIPOLYGON": [], "GEOMETRYCOLLECTION": [],
        }
        name = _TAGS.get(tag)
        if name is None:
            raise WktError(f"unknown WKT tag {tag!r}")
        return name, empty[tag]
    if tag == "POINT":
        p.expect("(")
        c = _parse_point_coords(p)
        p.expect(")")
        return "Point", c
    if tag == "LINESTRING":
        return "LineString", _parse_ring(p)
    if tag == "POLYGON":
        return "Polygon", _parse_list(p, _parse_ring)
    if tag == "MULTIPOINT":
        # both MULTIPOINT ((1 2), (3 4)) and MULTIPOINT (1 2, 3 4)
        def item(pp: _P):
            if pp.peek() == "(":
                pp.expect("(")
                c = _parse_point_coords(pp)
                pp.expect(")")
                return c
            return _parse_point_coords(pp)

        return "MultiPoint", _parse_list(p, item)
    if tag == "MULTILINESTRING":
        return "MultiLineString", _parse_list(p, _parse_ring)
    if tag == "MULTIPOLYGON":
        return "MultiPolygon", _parse_list(p, lambda pp: _parse_list(pp, _parse_ring))
    if tag == "GEOMETRYCOLLECTION":
        return "GeometryCollection", _parse_list(p, _parse_geom)
    raise WktError(f"unknown WKT tag {tag!r}")


_TAGS = {
    "POINT": "Point",
    "LINESTRING": "LineString",
    "POLYGON": "Polygon",
    "MULTIPOINT": "MultiPoint",
    "MULTILINESTRING": "MultiLineString",
    "MULTIPOLYGON": "MultiPolygon",
    "GEOMETRYCOLLECTION": "GeometryCollection",
}
