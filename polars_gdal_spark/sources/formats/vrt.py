"""OGR VRT (virtual format) driver — XML layer definitions over other
sources (GDAL "Virtual Format" / ``ogr_vrt`` public documentation).

A ``.vrt`` file wraps existing datasets: rename/select fields, synthesize
point geometry from x/y columns, or parse a WKT column — without copying
the data. Supported subset (the tutorial core):

* ``<OGRVRTDataSource>`` with one or more ``<OGRVRTLayer name=...>``
* ``<SrcDataSource relativeToVRT="0|1">`` (any format this engine reads,
  including remote URLs through the shared localize cache)
* ``<SrcLayer>`` (default: the source's first layer)
* geometry: inherited from the source (default), or
  ``<GeometryField encoding="PointFromColumns" x=... y=.../>``, or
  ``<GeometryField encoding="WKT" field=.../>``
* ``<Field name=... src=... type=.../>`` — declared fields select+rename;
  absent → all source fields pass through
* ``<LayerSRS>`` overrides the source CRS
* ``<OGRVRTUnionLayer name=...>`` — concatenation of member
  ``<OGRVRTLayer>`` definitions with first-seen schema union (the same
  per-file drift semantics the multi-file datasource applies; missing
  member fields read as null)

Unsupported VRT features (``<OGRVRTWarpedLayer>``, ``<SrcSQL>``) raise a
typed UnsupportedFormatError naming the element.

Reference behavior: the reference opens VRT through libgdal like any
other format (``Cargo.toml:7``); this is a from-spec reimplementation.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
from collections.abc import Iterator

from polars_gdal_spark.errors import UnsupportedFormatError
from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    register,
)

_TYPE_MAP = {
    "integer": "bigint",
    "integer64": "bigint",
    "real": "double",
    "string": "string",
    "date": "date",
    "datetime": "timestamp_ntz",
}


def _parse(path: str) -> ET.Element:
    try:
        root = ET.parse(path).getroot()
    except ET.ParseError as e:
        raise UnsupportedFormatError(f"malformed VRT {path!r}: {e}") from e
    if root.tag != "OGRVRTDataSource":
        raise UnsupportedFormatError(
            f"{path!r}: root element {root.tag!r} is not OGRVRTDataSource"
        )
    if root.find(".//OGRVRTWarpedLayer") is not None:
        raise UnsupportedFormatError(
            f"{path!r}: VRT element <OGRVRTWarpedLayer> is not supported"
        )
    return root


_LAYER_TAGS = ("OGRVRTLayer", "OGRVRTUnionLayer")


def _doc_order_layers(root: ET.Element) -> list[ET.Element]:
    """Layer elements in DOCUMENT order (the order OGR numbers layers
    in) — a findall-per-tag sweep would list every plain layer before
    every union layer and mis-resolve the 'first layer' default."""
    return [el for el in root if el.tag in _LAYER_TAGS]


def _union_members(el: ET.Element, path: str) -> list[ET.Element]:
    """Members of an OGRVRTUnionLayer in document order. Only plain
    <OGRVRTLayer> members are supported: a nested union (or warped
    layer) raises a typed error instead of being silently skipped —
    findall("OGRVRTLayer") would drop its rows without a trace."""
    mems = []
    for child in el:
        if child.tag == "OGRVRTLayer":
            mems.append(child)
        elif child.tag in ("OGRVRTUnionLayer", "OGRVRTWarpedLayer"):
            raise UnsupportedFormatError(
                f"{path!r}: union layer {el.get('name')!r} has a "
                f"<{child.tag}> member; only plain <OGRVRTLayer> "
                "members are supported"
            )
    return mems


def _layer_elem(root: ET.Element, path: str, layer: str) -> ET.Element:
    els = _doc_order_layers(root)
    for el in els:
        if el.get("name") == layer:
            return el
    names = [el.get("name") for el in els]
    raise UnsupportedFormatError(
        f"{path!r}: VRT layer {layer!r} not found; available: {names}"
    )


class _Src:
    """Resolved source of one VRT layer: local path + driver + layer."""

    def __init__(self, vrt_path: str, el: ET.Element):
        src = el.find("SrcDataSource")
        if src is None or not (src.text or "").strip():
            raise UnsupportedFormatError(
                f"{vrt_path!r}: VRT layer {el.get('name')!r} has no "
                "<SrcDataSource>"
            )
        if el.find("SrcSQL") is not None:
            raise UnsupportedFormatError(
                f"{vrt_path!r}: VRT element <SrcSQL> is not supported"
            )
        raw = src.text.strip()
        if str(src.get("relativeToVRT", "0")) == "1":
            raw = os.path.join(os.path.dirname(os.path.abspath(vrt_path)), raw)
        # Remote sources go through the shared per-machine cache, exactly
        # like a directly-loaded URL (lazy import: datasource imports us).
        from polars_gdal_spark.sources.datasource import _localize

        from polars_gdal_spark.sources.formats import find_driver

        self.path = _localize(raw)
        self.driver = find_driver(self.path, None)
        sl = el.find("SrcLayer")
        if sl is not None and (sl.text or "").strip():
            self.layer = sl.text.strip()
        else:
            self.layer = self.driver.list_layers(self.path, {})[0]


def _field_map(el: ET.Element) -> list[tuple[str, str, str | None]] | None:
    """Declared (out_name, src_name, ddl_type|None) list, or None for
    pass-through."""
    fields = el.findall("Field")
    if not fields:
        return None
    out = []
    for f in fields:
        name = f.get("name")
        if not name:
            raise UnsupportedFormatError("VRT <Field> without name attribute")
        src = f.get("src", name)
        t = f.get("type")
        ddl = _TYPE_MAP.get(t.strip().lower()) if t else None
        if t and ddl is None:
            raise UnsupportedFormatError(f"VRT field type {t!r} not supported")
        out.append((name, src, ddl))
    return out


def _geom_mode(el: ET.Element) -> tuple[str, dict]:
    gf = el.find("GeometryField")
    if gf is None:
        return "direct", {}
    enc = (gf.get("encoding") or "direct").strip().lower()
    if enc == "direct":
        return "direct", {}
    if enc == "pointfromcolumns":
        x, y = gf.get("x"), gf.get("y")
        if not x or not y:
            raise UnsupportedFormatError(
                "VRT GeometryField PointFromColumns needs x= and y="
            )
        return "xy", {"x": x, "y": y}
    if enc == "wkt":
        fld = gf.get("field")
        if not fld:
            raise UnsupportedFormatError("VRT GeometryField WKT needs field=")
        return "wkt", {"field": fld}
    raise UnsupportedFormatError(
        f"VRT GeometryField encoding {enc!r} not supported"
    )


def _coerce(v, ddl: str | None):
    if v is None or ddl is None:
        return v
    try:
        if ddl == "bigint":
            return int(v)
        if ddl == "double":
            return float(v)
        if ddl == "string" and not isinstance(v, str):
            return str(v)
    except (TypeError, ValueError):
        return None
    return v


class VrtDriver(FormatDriver):
    name = "OGR_VRT"
    extensions = (".vrt",)

    def can_open(self, path: str, head: bytes) -> bool:
        return b"<OGRVRTDataSource" in head

    def list_layers(self, path: str, options: dict) -> list[str]:
        root = _parse(path)
        names = [el.get("name") or "" for el in _doc_order_layers(root)]
        if not names:
            raise UnsupportedFormatError(f"{path!r}: VRT defines no layers")
        return names

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        el = _layer_elem(_parse(path), path, layer)
        if el.tag == "OGRVRTUnionLayer":
            # first-seen schema union across members (multi-file drift
            # semantics; conflicting dtypes widen to string)
            seen: dict[str, int] = {}
            out: list[Field] = []
            for mem in _union_members(el, path):
                for f in self._member_fields(path, mem, options):
                    if f.name in seen:
                        prev = out[seen[f.name]]
                        if prev.dtype != f.dtype:
                            prev.dtype = "string"
                    else:
                        seen[f.name] = len(out)
                        out.append(f)
            if not out and not _union_members(el, path):
                raise UnsupportedFormatError(
                    f"{path!r}: union layer {layer!r} has no members"
                )
            return out
        src = _Src(path, el)
        fm = _field_map(el)
        if fm is None:
            return src.driver.layer_fields(src.path, src.layer, options)
        src_fields = {
            f.name: f
            for f in src.driver.layer_fields(src.path, src.layer, options)
        }
        out = []
        for name, s, ddl in fm:
            inherited = src_fields.get(s)
            out.append(
                Field(name, ddl or (inherited.dtype if inherited else "string"))
            )
        return out

    def layer_crs(self, path: str, layer: str, options: dict) -> str | None:
        el = _layer_elem(_parse(path), path, layer)
        srs = el.find("LayerSRS")
        if srs is not None and (srs.text or "").strip():
            return srs.text.strip()
        if el.tag == "OGRVRTUnionLayer":
            mems = _union_members(el, path)
            el = mems[0] if mems else el
            if el.tag == "OGRVRTUnionLayer":
                return None
        src = _Src(path, el)
        return src.driver.layer_crs(src.path, src.layer, options)

    def feature_count(self, path: str, layer: str, options: dict) -> int | None:
        el = _layer_elem(_parse(path), path, layer)
        if el.tag == "OGRVRTUnionLayer":
            total = 0
            for mem in _union_members(el, path):
                src = _Src(path, mem)
                n = src.driver.feature_count(src.path, src.layer, options)
                if n is None:
                    return None
                total += n
            return total
        src = _Src(path, el)
        return src.driver.feature_count(src.path, src.layer, options)

    def split_ranges(
        self, path: str, layer: str, options: dict, target_splits: int
    ) -> list[tuple[int, int]] | None:
        el = _layer_elem(_parse(path), path, layer)
        if el.tag == "OGRVRTUnionLayer":
            return None  # members read sequentially (one global order)
        src = _Src(path, el)
        return src.driver.split_ranges(
            src.path, src.layer, options, target_splits
        )

    def _member_fields(
        self, path: str, el: ET.Element, options: dict
    ) -> list[Field]:
        src = _Src(path, el)
        fm = _field_map(el)
        if fm is None:
            return src.driver.layer_fields(src.path, src.layer, options)
        src_fields = {
            f.name: f
            for f in src.driver.layer_fields(src.path, src.layer, options)
        }
        return [
            Field(n, ddl or (src_fields[s].dtype if s in src_fields else "string"))
            for n, s, ddl in fm
        ]

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        el = _layer_elem(_parse(path), path, layer)
        if el.tag == "OGRVRTUnionLayer":
            # sequential member concatenation; start/end never reach here
            # (split_ranges returns None for union layers)
            for mem in _union_members(el, path):
                yield from self._iter_member(path, mem, options, None, None)
            return
        yield from self._iter_member(path, el, options, start, end)

    def _iter_member(self, path, el, options, start, end) -> Iterator[Feature]:
        src = _Src(path, el)
        fm = _field_map(el)
        mode, g = _geom_mode(el)
        for f in src.driver.iter_features(
            src.path, src.layer, options, start, end
        ):
            props = f.props
            if mode == "direct":
                geom, wkb = f.geom, f.wkb
            elif mode == "xy":
                wkb = None
                try:
                    x = float(props.get(g["x"]))
                    y = float(props.get(g["y"]))
                    geom = ("Point", (x, y))
                except (TypeError, ValueError):
                    geom = None
            else:  # wkt
                from polars_gdal_spark.geometry import wkt_to_geom

                wkb = None
                raw = props.get(g["field"])
                try:
                    geom = wkt_to_geom(raw) if raw else None
                except Exception:  # noqa: BLE001 — malformed cell → null
                    geom = None
            if fm is not None:
                props = {
                    name: _coerce(props.get(s), ddl) for name, s, ddl in fm
                }
            yield Feature(fid=f.fid, geom=geom, props=props, wkb=wkb)


register(VrtDriver())
