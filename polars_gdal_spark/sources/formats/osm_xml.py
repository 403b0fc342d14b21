"""OpenStreetMap XML (.osm) driver (read).

The reference reads OSM through GDAL's "OSM" driver (reference
``README.md:9`` — any GDAL-supported vector format). From-scratch
implementation of the public OSM XML format (wiki.openstreetmap.org,
"OSM XML"): ``<node>`` elements carry lat/lon and ``<tag k v>``
children; ``<way>`` elements reference nodes by ``<nd ref>`` and close
into areas when the ref ring closes.

Layer model mirrors GDAL's OSM driver (fixed schema per layer):

- ``points`` — TAGGED nodes only (untagged nodes are way geometry,
  not features — GDAL's behavior);
- ``lines`` — open ways;
- ``multipolygons`` — closed ways (simple areas; relation assembly is
  out of scope, as in GDAL's default config for bare closed ways).

Fields: ``osm_id`` (bigint), ``name`` (string), ``other_tags`` (JSON
object string of the remaining tags — GDAL encodes the same surplus
tags as an hstore string).

Two-pass parse (nodes first, then ways) with ``iterparse`` and element
eviction — memory stays bounded by the node coordinate table, not the
document. Not splittable (one XML document; multi-file reads still
parallelize per file).
"""

from __future__ import annotations

import json
import xml.etree.ElementTree as ET
from collections.abc import Iterator

from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    register,
)

_FIELDS = [
    Field("osm_id", "bigint"),
    Field("name", "string"),
    Field("other_tags", "string"),
]

LAYERS = ["points", "lines", "multipolygons"]


def _tags(el) -> dict:
    return {
        t.get("k"): t.get("v")
        for t in el.findall("tag")
        if t.get("k") is not None
    }


def _props(el) -> dict:
    tags = _tags(el)
    name = tags.pop("name", None)
    return {
        "osm_id": int(el.get("id", "0")),
        "name": name,
        "other_tags": json.dumps(tags, sort_keys=True) if tags else None,
    }


class OsmXmlDriver(FormatDriver):
    name = "OSM"
    extensions = (".osm",)

    def can_open(self, path: str, head: bytes) -> bool:
        h = head.lstrip()
        return h.startswith(b"<") and b"<osm" in head

    def list_layers(self, path: str, options: dict) -> list[str]:
        return list(LAYERS)

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        return list(_FIELDS)

    def _node_coords(self, path: str) -> dict[int, list[float]]:
        coords: dict[int, list[float]] = {}
        for _, el in ET.iterparse(path):
            if el.tag == "node":
                coords[int(el.get("id"))] = [
                    float(el.get("lon")),
                    float(el.get("lat")),
                ]
            if el.tag in ("node", "way", "relation"):
                el.clear()  # bound memory to the coords dict
        return coords

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        if layer == "points":
            fid = 0
            for _, el in ET.iterparse(path):
                if el.tag == "node":
                    if el.find("tag") is not None:  # tagged nodes only
                        yield Feature(
                            fid=fid,
                            geom=(
                                "Point",
                                [float(el.get("lon")), float(el.get("lat"))],
                            ),
                            props=_props(el),
                        )
                        fid += 1
                if el.tag in ("node", "way", "relation"):
                    el.clear()
            return
        coords = self._node_coords(path)
        fid = 0
        for _, el in ET.iterparse(path):
            if el.tag == "way":
                refs = [int(nd.get("ref")) for nd in el.findall("nd")]
                pts = [coords[r] for r in refs if r in coords]
                closed = len(pts) >= 4 and pts[0] == pts[-1]
                if layer == "lines" and not closed and len(pts) >= 2:
                    yield Feature(
                        fid=fid, geom=("LineString", pts), props=_props(el)
                    )
                    fid += 1
                elif layer == "multipolygons" and closed:
                    yield Feature(
                        fid=fid,
                        geom=("MultiPolygon", [[pts]]),
                        props=_props(el),
                    )
                    fid += 1
            if el.tag in ("node", "way", "relation"):
                el.clear()


register(OsmXmlDriver())
