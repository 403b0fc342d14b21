"""TopoJSON driver (read).

The reference reads TopoJSON through GDAL's GeoJSON driver family
(reference ``README.md:9`` — "any file format supported by GDAL";
``Cargo.toml:7`` gdal 0.14). This driver implements the public TopoJSON
3.0 specification (https://github.com/topojson/topojson-specification)
from scratch:

- ``objects``: each named object is one layer (Dataset→Layer model,
  reference ``src/lib.rs:241-247``). A ``GeometryCollection`` object's
  members are the layer's features; any other object is a single
  feature.
- ``arcs``: shared arc table. With a ``transform`` present, positions
  are quantized delta-encoded integers decoded as
  ``value * scale + translate`` (spec §2.1.1); point coordinates are
  transformed but never delta-encoded (spec §2.1.2).
- Arc indexes: ``i >= 0`` → ``arcs[i]`` forward; negative → ``arcs[~i]``
  reversed (spec §2.1.4). Stitched arcs share endpoints, so every arc
  after the first drops its leading position.

Geometries decode to the engine's GeoJSON-shaped internal rep, so the
attribute/schema semantics (value-sniffed union, first-seen order,
type widening) are exactly the GeoJSON driver's.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from polars_gdal_spark.geometry.geojson import geojson_to_geom
from polars_gdal_spark.sources.datasource import _bool_opt
from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    register,
)
from polars_gdal_spark.sources.formats.geojson import _sniff_dtype, merge_dtypes


class TopoJsonError(ValueError):
    pass


class _Topology:
    """Parsed topology: decoded arc table + geometry reconstruction."""

    def __init__(self, doc: dict):
        if doc.get("type") != "Topology":
            raise TopoJsonError("not a TopoJSON Topology document")
        transform = doc.get("transform")
        if transform is not None:
            self.scale = tuple(transform["scale"])
            self.translate = tuple(transform["translate"])
        else:
            self.scale = self.translate = None
        self.objects: dict = doc.get("objects") or {}
        self.arcs = [self._decode_arc(a) for a in doc.get("arcs", [])]

    def _decode_arc(self, arc: list) -> list[tuple[float, float]]:
        if self.scale is None:
            return [(float(p[0]), float(p[1])) for p in arc]
        sx, sy = self.scale
        tx, ty = self.translate
        out, x, y = [], 0, 0
        for p in arc:  # delta-encoded quantized positions (spec §2.1.1)
            x += p[0]
            y += p[1]
            out.append((x * sx + tx, y * sy + ty))
        return out

    def _point(self, p: list) -> list[float]:
        if self.scale is None:
            return [float(p[0]), float(p[1])]
        return [
            p[0] * self.scale[0] + self.translate[0],
            p[1] * self.scale[1] + self.translate[1],
        ]

    def _line(self, arc_idxs: list[int]) -> list[tuple[float, float]]:
        pts: list[tuple[float, float]] = []
        for i in arc_idxs:
            a = self.arcs[i] if i >= 0 else self.arcs[~i][::-1]
            pts.extend(a[1:] if pts else a)
        return pts

    def geometry(self, g: dict) -> dict | None:
        """TopoJSON geometry object → GeoJSON dict (None for null geometry)."""
        t = g.get("type")
        if t is None:
            return None
        if t == "Point":
            return {"type": t, "coordinates": self._point(g["coordinates"])}
        if t == "MultiPoint":
            return {
                "type": t,
                "coordinates": [self._point(p) for p in g["coordinates"]],
            }
        if t == "LineString":
            return {"type": t, "coordinates": self._line(g["arcs"])}
        if t == "MultiLineString":
            return {"type": t, "coordinates": [self._line(a) for a in g["arcs"]]}
        if t == "Polygon":
            return {"type": t, "coordinates": [self._line(r) for r in g["arcs"]]}
        if t == "MultiPolygon":
            return {
                "type": t,
                "coordinates": [
                    [self._line(r) for r in poly] for poly in g["arcs"]
                ],
            }
        if t == "GeometryCollection":
            return {
                "type": t,
                "geometries": [
                    gg
                    for gg in (self.geometry(m) for m in g.get("geometries", []))
                    if gg is not None
                ],
            }
        raise TopoJsonError(f"unsupported TopoJSON geometry type {t!r}")

    def layer_features(self, layer: str) -> Iterator[dict]:
        obj = self.objects.get(layer)
        if obj is None:
            raise TopoJsonError(f"no object {layer!r} in topology")
        if obj.get("type") == "GeometryCollection":
            yield from obj.get("geometries", [])
        else:
            yield obj


# One doc parse serves list_layers + layer_fields + iter_features within
# a task; keyed by (path, mtime, size) so rewritten files re-parse.
_MEMO: dict[tuple, _Topology] = {}


def _load(path: str) -> _Topology:
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    topo = _MEMO.get(key)
    if topo is None:
        with open(path, "rb") as f:
            topo = _Topology(json.load(f))
        _MEMO.clear()  # bound memory: keep only the latest file
        _MEMO[key] = topo
    return topo


class TopoJsonDriver(FormatDriver):
    name = "TopoJSON"
    extensions = (".topojson", ".json")

    def can_open(self, path: str, head: bytes) -> bool:
        stripped = head.lstrip()
        return stripped.startswith(b"{") and b'"Topology"' in head

    def list_layers(self, path: str, options: dict) -> list[str]:
        return list(_load(path).objects)

    def layer_crs(self, path: str, layer: str, options: dict) -> str | None:
        return "EPSG:4326"  # spec: TopoJSON coordinates are WGS84 lon/lat

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        order: list[str] = []
        types: dict[str, str | None] = {}
        for raw in _load(path).layer_features(layer):
            for k, v in (raw.get("properties") or {}).items():
                if k not in types:
                    order.append(k)
                    types[k] = None
                types[k] = merge_dtypes(types[k], _sniff_dtype(v))
        drop_all_null = _bool_opt(options, "dropAllNullColumns")
        return [
            Field(k, types[k] or "string")
            for k in order
            if not (types[k] is None and drop_all_null)
        ]

    def feature_count(self, path: str, layer: str, options: dict) -> int | None:
        return sum(1 for _ in _load(path).layer_features(layer))

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        topo = _load(path)
        for i, raw in enumerate(topo.layer_features(layer)):
            gj = topo.geometry(raw)
            fid = raw.get("id")
            yield Feature(
                fid=fid if isinstance(fid, int) else i,
                geom=geojson_to_geom(gj) if gj is not None else None,
                props=raw.get("properties") or {},
            )


register(TopoJsonDriver())
