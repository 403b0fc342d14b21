"""GML driver (stdlib xml.etree) — another format the reference reaches
through GDAL's driver set (OGR GML driver). Covers the surface real
files use: GML2 ``coordinates`` and GML3 ``pos``/``posList`` encodings,
``featureMember``/``member``/``featureMembers`` collections, both
polygon boundary spellings, and the Multi* containers. All attribute
values are strings (OGR's GML driver without a .xsd behaves the same
way); geometry may live under any property element.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator

from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    register,
)

_GEOM_TAGS = {
    "Point",
    "LineString",
    "Curve",
    "LinearRing",
    "Polygon",
    "Surface",
    "MultiPoint",
    "MultiLineString",
    "MultiCurve",
    "MultiPolygon",
    "MultiSurface",
    "MultiGeometry",
}

_MEMBER_TAGS = {"featureMember", "member", "featureMembers"}


def _strip(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _coords_text(el) -> list[tuple]:
    """GML2 <coordinates>: tuples separated by ts (space), ordinates by
    cs (comma)."""
    cs = el.get("cs", ",")
    ts = el.get("ts", " ")
    pts = []
    for chunk in (el.text or "").replace("\n", ts).split(ts):
        chunk = chunk.strip()
        if not chunk:
            continue
        parts = chunk.split(cs)
        if len(parts) >= 2:
            pts.append((float(parts[0]), float(parts[1])))
    return pts


def _poslist(el) -> list[tuple]:
    vals = [float(v) for v in (el.text or "").split()]
    dim = int(el.get("srsDimension", 2))
    return [
        (vals[i], vals[i + 1]) for i in range(0, len(vals) - dim + 1, dim)
    ]


def _points_of(el) -> list[tuple]:
    for child in el:
        t = _strip(child.tag)
        if t == "coordinates":
            return _coords_text(child)
        if t == "posList":
            return _poslist(child)
        if t == "pos":
            pts = _poslist(child)
            return pts[:1]
    return []


def _ring_of(el) -> list[tuple] | None:
    """LinearRing under exterior/interior/outerBoundaryIs/innerBoundaryIs."""
    for child in el.iter():
        if _strip(child.tag) == "LinearRing":
            return _points_of(child)
    return None


def _gml_geom(el) -> tuple | None:
    tag = _strip(el.tag)
    if tag == "Point":
        pts = _points_of(el)
        return ("Point", pts[0]) if pts else None
    if tag in ("LineString", "Curve"):
        if tag == "Curve":  # segments/LineStringSegment holds the posList
            for seg in el.iter():
                if _strip(seg.tag) == "LineStringSegment":
                    return ("LineString", _points_of(seg))
        return ("LineString", _points_of(el))
    if tag in ("Polygon", "Surface"):
        rings = []
        for child in el:
            t = _strip(child.tag)
            if t in ("exterior", "outerBoundaryIs"):
                r = _ring_of(child)
                if r:
                    rings.insert(0, r)
            elif t in ("interior", "innerBoundaryIs"):
                r = _ring_of(child)
                if r:
                    rings.append(r)
            elif t == "patches":  # Surface/patches/PolygonPatch
                for patch in child.iter():
                    if _strip(patch.tag) in ("exterior", "interior"):
                        r = _ring_of(patch)
                        if r:
                            rings.append(r)
        return ("Polygon", rings) if rings else None
    if tag == "MultiPoint":
        pts = [g[1] for g in _member_geoms(el) if g and g[0] == "Point"]
        return ("MultiPoint", pts) if pts else None
    if tag in ("MultiLineString", "MultiCurve"):
        lines = [
            g[1] for g in _member_geoms(el) if g and g[0] == "LineString"
        ]
        return ("MultiLineString", lines) if lines else None
    if tag in ("MultiPolygon", "MultiSurface"):
        polys = [g[1] for g in _member_geoms(el) if g and g[0] == "Polygon"]
        return ("MultiPolygon", polys) if polys else None
    if tag == "MultiGeometry":
        subs = [g for g in _member_geoms(el) if g]
        return ("GeometryCollection", subs) if subs else None
    return None


def _member_geoms(multi_el) -> list[tuple | None]:
    out = []
    for member in multi_el:
        for child in member:
            if _strip(child.tag) in _GEOM_TAGS:
                out.append(_gml_geom(child))
    return out


def _find_geom(prop_el):
    """First geometry element at or under a feature property element."""
    if _strip(prop_el.tag) in _GEOM_TAGS:
        return _gml_geom(prop_el)
    for child in prop_el:
        if _strip(child.tag) in _GEOM_TAGS:
            return _gml_geom(child)
    return None


class GmlDriver(FormatDriver):
    name = "GML"
    extensions = (".gml",)

    def can_open(self, path: str, head: bytes) -> bool:
        return b"opengis.net/gml" in head[:2048] or b"<gml:" in head[:2048]

    def _features(self, path: str):
        """Stream feature elements with ``iterparse`` — memory stays
        O(one feature), not O(file), so a multi-GB GML dump scans in
        constant memory (same pattern as the OSM driver). Yields each
        child of a root-level featureMember/featureMembers wrapper
        fully built, then frees it."""
        depth = 0
        in_member = False
        for ev, el in ET.iterparse(path, events=("start", "end")):
            if ev == "start":
                depth += 1
                if depth == 2 and _strip(el.tag) in _MEMBER_TAGS:
                    in_member = True
                continue
            depth -= 1
            if depth == 2 and in_member:
                # featureMember wraps one feature; featureMembers several
                yield el
                el.clear()
            elif depth == 1:
                if in_member:
                    el.clear()  # drop the processed wrapper's remnants
                in_member = False

    def list_layers(self, path: str, options: dict) -> list[str]:
        seen: list[str] = []
        for feat in self._features(path):
            t = _strip(feat.tag)
            if t not in seen:
                seen.append(t)
        return seen or ["layer"]

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        order: list[str] = []
        for feat in self._features(path):
            if _strip(feat.tag) != layer:
                continue
            for prop in feat:
                name = _strip(prop.tag)
                if _find_geom(prop) is None and name not in order:
                    order.append(name)
        return [Field(n, "string") for n in order]

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        fid = 0
        for feat in self._features(path):
            if _strip(feat.tag) != layer:
                continue
            props: dict = {}
            geom = None
            for prop in feat:
                g = _find_geom(prop)
                if g is not None:
                    geom = g
                else:
                    props[_strip(prop.tag)] = (
                        (prop.text or "").strip() or None
                    )
            yield Feature(fid=fid, geom=geom, props=props)
            fid += 1


register(GmlDriver())
