"""Geometry codecs: WKB / WKT / GeoJSON.

The engine's geometry convention mirrors the reference: geometry is a
first-class column of encoded bytes/text, not a native type (reference
``GeometryFormat``, ``src/lib.rs:126-139``), default **WKB** in a
``BinaryType`` column named ``geometry`` (``src/lib.rs:390-393``).

No GDAL/shapely exists in this environment, so the codecs are pure
Python over an internal geometry representation::

    (type_name, coordinates)   # coordinates nested like GeoJSON

Supported types: Point, LineString, Polygon, MultiPoint,
MultiLineString, MultiPolygon, GeometryCollection — 2D and Z variants.
"""

from polars_gdal_spark.geometry.geojson import (  # noqa: F401
    geojson_to_geom,
    geom_to_geojson,
)
from polars_gdal_spark.geometry.wkb import (  # noqa: F401
    geom_to_wkb,
    wkb_to_geom,
)
from polars_gdal_spark.geometry.wkt import (  # noqa: F401
    geom_to_wkt,
    wkt_to_geom,
)


def geojson_to_wkb(obj: dict) -> bytes:
    return geom_to_wkb(geojson_to_geom(obj))


def wkb_to_geojson(data: bytes) -> dict:
    return geom_to_geojson(wkb_to_geom(data))


def wkt_to_wkb(text: str) -> bytes:
    return geom_to_wkb(wkt_to_geom(text))


def wkb_to_wkt(data: bytes) -> str:
    return geom_to_wkt(wkb_to_geom(data))


def geometry_type_of_wkb(data: bytes) -> str:
    """Type name of a WKB blob (used by the writer's geom-type sniff,
    reference ``src/lib.rs:529-540``)."""
    return wkb_to_geom(data)[0]


def geom_bounds(geom: tuple) -> tuple[float, float, float, float] | None:
    """(minx, miny, maxx, maxy) envelope of an internal geometry, or
    None for an empty one (no coordinates, so no envelope).

    Used by the reader's ``bbox`` spatial filter (OGR SetSpatialFilter
    analogue) and the spatial-join blocking functions."""
    t, c = geom
    xs: list[float] = []
    ys: list[float] = []

    def walk(node):
        if isinstance(node, tuple) and node and isinstance(node[0], (int, float)):
            xs.append(node[0])
            ys.append(node[1])
        else:
            for sub in node:
                walk(sub)

    if t == "GeometryCollection":
        for sub in c:
            walk(sub[1])
    else:
        walk(c)
    if not xs:
        return None
    return (min(xs), min(ys), max(xs), max(ys))
