"""AutoCAD DXF driver (read).

The reference reads DXF through GDAL's "DXF" driver (reference
``README.md:9`` — any GDAL-supported vector format; ``Cargo.toml:7``
gdal 0.14). This is a from-scratch implementation of the public ASCII
DXF spec (Autodesk "DXF Reference", group-code/value pair stream):

- The file is a flat stream of (group code line, value line) pairs,
  organized into SECTIONs; geometry lives in the ENTITIES section.
- Entities mapped (mirroring GDAL's single "entities" layer model):
  ``POINT``→Point, ``LINE``→LineString, ``LWPOLYLINE``→LineString
  (closed flag 70&1 → Polygon, one ring), legacy ``POLYLINE``+
  ``VERTEX``…``SEQEND`` → same, ``TEXT``/``MTEXT``→Point with the
  string in a ``Text`` attribute, ``CIRCLE``→Polygon stroked at a
  fixed 72 segments (GDAL strokes curves to line work the same way,
  segment count differs), ``3DFACE``/``SOLID``→Polygon.
- Attributes (GDAL parity subset): ``Layer`` (code 8),
  ``EntityHandle`` (code 5), ``Text`` (code 1, TEXT/MTEXT only).
- One layer named ``entities``; unhandled entity types are skipped,
  matching GDAL's lossy DXF read model.

Not splittable: entity boundaries aren't findable without a sequential
group-code walk (multi-file DXF reads still parallelize per-file).
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator

from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    register,
)

_FIELDS = [
    Field("Layer", "string"),
    Field("EntityHandle", "string"),
    Field("Text", "string"),
]

_CIRCLE_SEGS = 72

_HANDLED = {
    "POINT",
    "LINE",
    "LWPOLYLINE",
    "CIRCLE",
    "TEXT",
    "MTEXT",
    "3DFACE",
    "SOLID",
}


def _pairs(path: str) -> Iterator[tuple[int, str]]:
    """The raw (group code, value) pair stream."""
    with open(path, "r", encoding="latin-1", errors="replace") as f:
        while True:
            code_line = f.readline()
            if not code_line:
                return
            val_line = f.readline()
            if not val_line:
                return
            try:
                code = int(code_line.strip())
            except ValueError:
                continue  # malformed pair; resync on next line pair
            yield code, val_line.rstrip("\r\n").strip()


def _entities(path: str) -> Iterator[list[tuple[int, str]]]:
    """Yield one tag list per entity in the ENTITIES section."""
    in_entities = False
    current: list[tuple[int, str]] | None = None
    for code, val in _pairs(path):
        if code == 0:
            if current is not None:
                yield current
                current = None
            v = val.upper()
            if v == "SECTION":
                in_entities = False  # next (2, name) decides
            elif v == "ENDSEC":
                in_entities = False
            elif in_entities:
                current = [(0, v)]
        elif code == 2 and val.upper() == "ENTITIES" and current is None:
            in_entities = True
        elif current is not None:
            current.append((code, val))
    if current is not None:
        yield current


def _tagmap(tags: list[tuple[int, str]]) -> dict[int, str]:
    """First value per group code (repeated codes handled separately)."""
    out: dict[int, str] = {}
    for c, v in tags:
        out.setdefault(c, v)
    return out


def _floats(tags: list[tuple[int, str]], code: int) -> list[float]:
    return [float(v) for c, v in tags if c == code]


def _close_ring(pts: list[list[float]]) -> list[list[float]]:
    if pts and pts[0] != pts[-1]:
        return pts + [pts[0]]
    return pts


def _entity_geom(ent: list[tuple[int, str]]) -> tuple | None:
    kind = ent[0][1]
    t = _tagmap(ent)
    if kind == "POINT" or kind in ("TEXT", "MTEXT"):
        if 10 in t and 20 in t:
            return ("Point", [float(t[10]), float(t[20])])
        return None
    if kind == "LINE":
        if all(c in t for c in (10, 20, 11, 21)):
            return (
                "LineString",
                [
                    [float(t[10]), float(t[20])],
                    [float(t[11]), float(t[21])],
                ],
            )
        return None
    if kind == "LWPOLYLINE":
        xs, ys = _floats(ent, 10), _floats(ent, 20)
        pts = [[x, y] for x, y in zip(xs, ys)]
        if len(pts) < 2:
            return None
        closed = int(float(t.get(70, "0"))) & 1
        if closed:
            return ("Polygon", [_close_ring(pts)])
        return ("LineString", pts)
    if kind == "CIRCLE":
        if not all(c in t for c in (10, 20, 40)):
            return None
        cx, cy, r = float(t[10]), float(t[20]), float(t[40])
        ring = [
            [
                cx + r * math.cos(2 * math.pi * i / _CIRCLE_SEGS),
                cy + r * math.sin(2 * math.pi * i / _CIRCLE_SEGS),
            ]
            for i in range(_CIRCLE_SEGS)
        ]
        return ("Polygon", [_close_ring(ring)])
    if kind in ("3DFACE", "SOLID"):
        corners = []
        for xc, yc in ((10, 20), (11, 21), (12, 22), (13, 23)):
            if xc in t and yc in t:
                corners.append([float(t[xc]), float(t[yc])])
        # SOLID/3DFACE vertex order is 1,2,4,3 (spec quirk)
        if len(corners) == 4:
            corners = [corners[0], corners[1], corners[3], corners[2]]
        if len(corners) >= 3:
            return ("Polygon", [_close_ring(corners)])
        return None
    return None


class DxfDriver(FormatDriver):
    name = "DXF"
    extensions = (".dxf",)

    def can_open(self, path: str, head: bytes) -> bool:
        if not path.lower().endswith(".dxf"):
            return False
        try:
            text = head.decode("latin-1")
        except UnicodeDecodeError:
            return False
        return "SECTION" in text.upper()

    def list_layers(self, path: str, options: dict) -> list[str]:
        return ["entities"]

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        return list(_FIELDS)

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        fid = 0
        poly_accum: list[tuple[int, str]] | None = None
        poly_verts: list[list[float]] = []
        for ent in _entities(path):
            kind = ent[0][1]
            if kind == "POLYLINE":
                poly_accum = ent
                poly_verts = []
                continue
            if kind == "VERTEX" and poly_accum is not None:
                t = _tagmap(ent)
                if 10 in t and 20 in t:
                    poly_verts.append([float(t[10]), float(t[20])])
                continue
            if kind == "SEQEND" and poly_accum is not None:
                t = _tagmap(poly_accum)
                geom: tuple | None = None
                if len(poly_verts) >= 2:
                    if int(float(t.get(70, "0"))) & 1:
                        geom = ("Polygon", [_close_ring(poly_verts)])
                    else:
                        geom = ("LineString", poly_verts)
                yield Feature(
                    fid=fid,
                    geom=geom,
                    props={
                        "Layer": t.get(8),
                        "EntityHandle": t.get(5),
                        "Text": None,
                    },
                )
                fid += 1
                poly_accum = None
                poly_verts = []
                continue
            if kind not in _HANDLED:
                continue  # unhandled entity type (GDAL's lossy model)
            geom = _entity_geom(ent)
            t = _tagmap(ent)

            def unescape(v):
                # AutoCAD \U+XXXX escapes back to characters
                if v is None or "\\U+" not in v:
                    return v
                import re

                return re.sub(
                    r"\\U\+([0-9A-Fa-f]{4})",
                    lambda m: chr(int(m.group(1), 16)),
                    v,
                )

            yield Feature(
                fid=fid,
                geom=geom,
                props={
                    "Layer": unescape(t.get(8)),
                    "EntityHandle": t.get(5),
                    "Text": (
                        unescape(t.get(1))
                        if ent[0][1] in ("TEXT", "MTEXT")
                        else None
                    ),
                },
            )
            fid += 1


register(DxfDriver())
