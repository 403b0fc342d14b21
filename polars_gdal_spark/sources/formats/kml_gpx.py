"""KML and GPX drivers (stdlib xml.etree).

Both are formats the reference reaches through GDAL's driver set
(README's "KML, GPX, PostGIS, SpatiaLite" list, reference
``README.md:9``). Minimal but real: KML Placemarks with
Point/LineString/Polygon + ExtendedData; GPX waypoints/tracks/routes.
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


def _strip(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _kml_coords(text: str):
    pts = []
    for chunk in (text or "").split():
        parts = chunk.split(",")
        if len(parts) >= 2:
            pt = (float(parts[0]), float(parts[1]))
            if len(parts) >= 3 and parts[2]:
                pt = (pt[0], pt[1], float(parts[2]))
            pts.append(pt)
    return pts


def _kml_geom(el) -> tuple | None:
    tag = _strip(el.tag)
    if tag == "Point":
        c = el.find("./{*}coordinates")
        pts = _kml_coords(c.text if c is not None else "")
        return ("Point", pts[0]) if pts else None
    if tag == "LineString":
        c = el.find("./{*}coordinates")
        return ("LineString", _kml_coords(c.text if c is not None else ""))
    if tag == "Polygon":
        rings = []
        outer = el.find("./{*}outerBoundaryIs/{*}LinearRing/{*}coordinates")
        if outer is not None:
            rings.append(_kml_coords(outer.text))
        for inner in el.findall(
            "./{*}innerBoundaryIs/{*}LinearRing/{*}coordinates"
        ):
            rings.append(_kml_coords(inner.text))
        return ("Polygon", rings) if rings else None
    if tag == "MultiGeometry":
        subs = [g for g in (_kml_geom(c) for c in el) if g]
        return ("GeometryCollection", subs) if subs else None
    return None


class KmlDriver(FormatDriver):
    name = "KML"
    extensions = (".kml",)

    def can_open(self, path: str, head: bytes) -> bool:
        return b"<kml" in head[:1024]

    def list_layers(self, path: str, options: dict) -> list[str]:
        return ["placemarks"]

    def _placemarks(self, path: str):
        root = ET.parse(path).getroot()
        yield from root.iter("{http://www.opengis.net/kml/2.2}Placemark")
        # namespace-less fallback
        if root.tag == "kml":
            yield from root.iter("Placemark")

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        order = ["name", "description"]
        extra: list[str] = []
        for pm in self._placemarks(path):
            for data in pm.iter():
                if _strip(data.tag) == "Data":
                    k = data.get("name")
                    if k and k not in extra and k not in order:
                        extra.append(k)
                elif _strip(data.tag) == "SimpleData":
                    k = data.get("name")
                    if k and k not in extra and k not in order:
                        extra.append(k)
        return [Field(n, "string") for n in order + extra]

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        for i, pm in enumerate(self._placemarks(path)):
            props: dict = {"name": None, "description": None}
            geom = None
            for child in pm:
                tag = _strip(child.tag)
                if tag == "name":
                    props["name"] = (child.text or "").strip() or None
                elif tag == "description":
                    props["description"] = (child.text or "").strip() or None
                elif tag in ("Point", "LineString", "Polygon", "MultiGeometry"):
                    geom = _kml_geom(child)
                elif tag == "ExtendedData":
                    for data in child.iter():
                        dt = _strip(data.tag)
                        if dt in ("Data", "SimpleData"):
                            k = data.get("name")
                            if dt == "Data":
                                v = data.find("./{*}value")
                                props[k] = (
                                    (v.text or "").strip() if v is not None else None
                                )
                            else:
                                props[k] = (data.text or "").strip()
            yield Feature(fid=i, geom=geom, props=props)


class GpxDriver(FormatDriver):
    name = "GPX"
    extensions = (".gpx",)

    def can_open(self, path: str, head: bytes) -> bool:
        return b"<gpx" in head[:1024]

    def list_layers(self, path: str, options: dict) -> list[str]:
        return ["waypoints", "tracks", "routes"]

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        if layer == "waypoints":
            return [
                Field("name", "string"),
                Field("ele", "double"),
                Field("time", "string"),
            ]
        return [Field("name", "string")]

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        root = ET.parse(path).getroot()

        def findall(parent, tag):
            return [e for e in parent.iter() if _strip(e.tag) == tag]

        if layer == "waypoints":
            for i, wpt in enumerate(findall(root, "wpt")):
                ele = next(iter(findall(wpt, "ele")), None)
                time = next(iter(findall(wpt, "time")), None)
                name = next(iter(findall(wpt, "name")), None)
                yield Feature(
                    fid=i,
                    geom=("Point", (float(wpt.get("lon")), float(wpt.get("lat")))),
                    props={
                        "name": name.text if name is not None else None,
                        "ele": float(ele.text) if ele is not None else None,
                        "time": time.text if time is not None else None,
                    },
                )
        elif layer == "tracks":
            for i, trk in enumerate(findall(root, "trk")):
                name = next(iter(findall(trk, "name")), None)
                segs = [
                    [
                        (float(p.get("lon")), float(p.get("lat")))
                        for p in findall(seg, "trkpt")
                    ]
                    for seg in findall(trk, "trkseg")
                ]
                segs = [s for s in segs if len(s) >= 2]
                geom = None
                if len(segs) == 1:
                    geom = ("LineString", segs[0])
                elif segs:
                    geom = ("MultiLineString", segs)
                yield Feature(
                    fid=i,
                    geom=geom,
                    props={"name": name.text if name is not None else None},
                )
        else:  # routes
            for i, rte in enumerate(findall(root, "rte")):
                name = next(iter(findall(rte, "name")), None)
                pts = [
                    (float(p.get("lon")), float(p.get("lat")))
                    for p in findall(rte, "rtept")
                ]
                yield Feature(
                    fid=i,
                    geom=("LineString", pts) if len(pts) >= 2 else None,
                    props={"name": name.text if name is not None else None},
                )


register(KmlDriver())
register(GpxDriver())
