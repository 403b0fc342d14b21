"""ESRIJSON (ArcGIS REST FeatureSet JSON) read driver — GDAL's
``ESRIJSON`` vector driver re-expressed (breadth parity with the
reference's "any GDAL driver" reach, reference README.md:9).

A FeatureSet is ``{"fields": [...], "features": [{"attributes": {...},
"geometry": {...}}, ...], "geometryType": "esriGeometry*",
"spatialReference": {"wkid": N}}``. Geometry forms (ArcGIS REST API
"Geometry objects"):

* Point: ``{"x": ..., "y": ...}``
* Multipoint: ``{"points": [[x, y], ...]}``
* Polyline: ``{"paths": [[[x, y], ...], ...]}``
* Polygon: ``{"rings": [[[x, y], ...], ...]}`` — ESRI winding: outer
  rings are CLOCKWISE, holes counter-clockwise (the same convention as
  shapefile, so ring→polygon grouping reuses that rule).

Typed schema comes from the ``fields`` array (esriFieldType* mapping)
when present, else value-sniffing over attributes (GeoJSON driver's
rules).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    register,
)
from polars_gdal_spark.sources.formats.geojson import (
    _sniff_dtype,
    merge_dtypes,
)

LAYER = "esrijson"

_ESRI_TYPES = {
    "esriFieldTypeOID": "bigint",
    "esriFieldTypeInteger": "bigint",
    "esriFieldTypeSmallInteger": "bigint",
    "esriFieldTypeBigInteger": "bigint",
    "esriFieldTypeDouble": "double",
    "esriFieldTypeSingle": "double",
    "esriFieldTypeString": "string",
    "esriFieldTypeDate": "string",  # epoch millis in data; kept verbatim
    "esriFieldTypeGUID": "string",
    "esriFieldTypeGlobalID": "string",
}


def _ring_cw(ring: list) -> bool:
    s = 0.0
    for i in range(len(ring) - 1):
        x1, y1 = ring[i][0], ring[i][1]
        x2, y2 = ring[i + 1][0], ring[i + 1][1]
        s += (x2 - x1) * (y2 + y1)
    return s > 0


def _esri_geom(g: dict | None) -> tuple | None:
    if not g:
        return None
    if "x" in g and "y" in g:
        if g.get("x") is None:  # ArcGIS empty point: {"x": null}
            return None
        return ("Point", (float(g["x"]), float(g["y"])))
    if "points" in g:
        return ("MultiPoint", [tuple(map(float, p[:2])) for p in g["points"]])
    if "paths" in g:
        paths = [
            [tuple(map(float, p[:2])) for p in path] for path in g["paths"]
        ]
        if not paths:
            return None
        if len(paths) == 1:
            return ("LineString", paths[0])
        return ("MultiLineString", paths)
    if "rings" in g:
        rings = [
            [tuple(map(float, p[:2])) for p in ring] for ring in g["rings"]
        ]
        if not rings:
            return None
        polys: list[list] = []
        for ring in rings:
            if _ring_cw(ring) or not polys:
                polys.append([ring])
            else:
                polys[-1].append(ring)
        if len(polys) == 1:
            return ("Polygon", polys[0])
        return ("MultiPolygon", polys)
    return None


class EsriJsonDriver(FormatDriver):
    name = "ESRIJSON"
    extensions = (".json",)

    def can_open(self, path: str, head: bytes) -> bool:
        h = head.lstrip()
        if not h.startswith(b"{"):
            return False
        # FeatureSet markers GeoJSON never carries; a GeoJSON doc always
        # declares its collection/feature type, an ESRI FeatureSet never
        # does. (This driver registers before GeoJSON, so the strict
        # marker check here decides .json routing.)
        return (
            b'"features"' in head
            and (
                b'"attributes"' in head
                or b'"geometryType"' in head
                or b'"objectIdFieldName"' in head
            )
            and b'"FeatureCollection"' not in head
            and b'"Feature"' not in head
        )

    def _load(self, path: str) -> dict:
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    def list_layers(self, path: str, options: dict) -> list[str]:
        return [LAYER]

    def layer_crs(self, path: str, layer: str, options: dict) -> str | None:
        sr = self._load(path).get("spatialReference") or {}
        wkid = sr.get("latestWkid") or sr.get("wkid")
        return f"EPSG:{wkid}" if wkid else None

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        doc = self._load(path)
        declared = doc.get("fields")
        if declared:
            return [
                Field(
                    f["name"],
                    _ESRI_TYPES.get(str(f.get("type")), "string"),
                )
                for f in declared
            ]
        order: list[str] = []
        types: dict[str, str | None] = {}
        for feat in doc.get("features", []):
            for k, v in (feat.get("attributes") or {}).items():
                if k not in types:
                    order.append(k)
                    types[k] = None
                types[k] = merge_dtypes(types[k], _sniff_dtype(v))
        return [Field(k, types[k] or "string") for k in order]

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        doc = self._load(path)
        oid_field = doc.get("objectIdFieldName")
        for i, feat in enumerate(doc.get("features", [])):
            attrs = feat.get("attributes") or {}
            fid = attrs.get(oid_field) if oid_field else None
            yield Feature(
                fid=fid if isinstance(fid, int) else i,
                geom=_esri_geom(feat.get("geometry")),
                props=attrs,
            )


register(EsriJsonDriver())
