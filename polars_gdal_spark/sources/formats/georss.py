"""GeoRSS driver (read) — RSS 2.0 / Atom feeds with GeoRSS-Simple or
W3C-geo positions (stdlib xml.etree).

The reference reads GeoRSS through GDAL's "GeoRSS" driver (reference
``README.md:9`` — any GDAL-supported vector format). From-spec
implementation of the public GeoRSS-Simple encoding
(georss.org):

- ``<georss:point>lat lon</georss:point>`` → Point,
  ``<georss:line>`` → LineString, ``<georss:polygon>`` → Polygon
  (one ring). GeoRSS orders coordinates **lat lon**; output geometry is
  x=lon y=lat, the same axis swap GDAL applies.
- W3C-geo fallback: ``<geo:lat>``/``<geo:long>`` children → Point.
- Items: RSS ``<item>`` or Atom ``<entry>``; attributes mirror GDAL's
  field set: ``title``, ``link`` (Atom: the href of the first
  ``<link>``), ``description`` (Atom ``<summary>``/``<content>``),
  ``pubdate`` (Atom ``<updated>``).

One layer named ``georss``. Not splittable (one XML document).
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

_FIELDS = [
    Field("title", "string"),
    Field("link", "string"),
    Field("description", "string"),
    Field("pubdate", "string"),
]

_GEORSS_NS = "http://www.georss.org/georss"
_W3CGEO_NS = "http://www.w3.org/2003/01/geo/wgs84_pos#"


def _strip(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _latlon_pairs(text: str) -> list[list[float]]:
    """'lat lon lat lon …' → [[x=lon, y=lat], …] (GDAL's axis swap)."""
    vals = [float(v) for v in (text or "").split()]
    return [[vals[i + 1], vals[i]] for i in range(0, len(vals) - 1, 2)]


def _item_geom(item) -> tuple | None:
    for child in item:
        tag = _strip(child.tag)
        if not child.tag.startswith("{" + _GEORSS_NS + "}"):
            continue
        if tag == "point":
            pts = _latlon_pairs(child.text)
            return ("Point", pts[0]) if pts else None
        if tag == "line":
            pts = _latlon_pairs(child.text)
            return ("LineString", pts) if len(pts) >= 2 else None
        if tag == "polygon":
            ring = _latlon_pairs(child.text)
            if len(ring) >= 3:
                if ring[0] != ring[-1]:
                    ring = ring + [ring[0]]
                return ("Polygon", [ring])
            return None
    lat = item.find(f"{{{_W3CGEO_NS}}}lat")
    lon = item.find(f"{{{_W3CGEO_NS}}}long")
    if lat is not None and lon is not None:
        return ("Point", [float(lon.text), float(lat.text)])
    return None


def _item_props(item) -> dict:
    props = {"title": None, "link": None, "description": None, "pubdate": None}
    for child in item:
        tag = _strip(child.tag).lower()
        if tag == "title":
            props["title"] = (child.text or "").strip() or None
        elif tag == "link":
            # RSS: text content; Atom: href attribute
            props["link"] = (
                (child.text or "").strip() or child.get("href") or None
            )
        elif tag in ("description", "summary", "content"):
            if props["description"] is None:
                props["description"] = (child.text or "").strip() or None
        elif tag in ("pubdate", "updated"):
            props["pubdate"] = (child.text or "").strip() or None
    return props


class GeoRssDriver(FormatDriver):
    name = "GeoRSS"
    extensions = (".xml", ".rss", ".atom")

    def can_open(self, path: str, head: bytes) -> bool:
        h = head.lstrip()
        if not h.startswith(b"<"):
            return False
        return (b"<rss" in head or b"<feed" in head) and (
            b"georss" in head or b"wgs84_pos" in head
        )

    def list_layers(self, path: str, options: dict) -> list[str]:
        return ["georss"]

    def layer_crs(self, path: str, layer: str, options: dict) -> str | None:
        return "EPSG:4326"  # GeoRSS is WGS84 by definition

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        return list(_FIELDS)

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        root = ET.parse(path).getroot()
        items = root.findall(".//item") or root.findall(
            ".//{http://www.w3.org/2005/Atom}entry"
        )
        for fid, item in enumerate(items):
            yield Feature(
                fid=fid, geom=_item_geom(item), props=_item_props(item)
            )


register(GeoRssDriver())
