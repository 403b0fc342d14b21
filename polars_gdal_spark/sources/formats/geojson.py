"""GeoJSON driver (FeatureCollection / single Feature / bare geometry /
newline-delimited GeoJSON).

Schema is value-sniffed across ALL features (the reference's per-row
union semantics, ``src/lib.rs:409-450``): a property's type comes from
its first non-null value, ragged/missing properties are nullable, and
conflicting value types widen to string. Unlike the reference, list
values are supported (``ArrayType``) — the reference left them
``unimplemented!`` (``unprocessed_series.rs:172``).

A ``.geojsonl`` / ``.ndjson`` file of one feature per line is treated
as the same layer and IS splittable; a single JSON document is not.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from polars_gdal_spark.geometry.geojson import geojson_to_geom
from polars_gdal_spark.geometry.wkb import point_wkb_array
from polars_gdal_spark.sources.datasource import _bool_opt
from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    even_ranges,
    register,
)

LAYER = "features"


def _iter_raw(path: str) -> Iterator[dict]:
    with open(path, "rb") as f:
        head = f.read(1)
        f.seek(0)
        first_line = f.readline()
        # NDJSON probe: first line parses as a complete JSON object and
        # there is a second non-empty line.
        rest = f.readline()
        is_ndjson = False
        if rest.strip():
            try:
                json.loads(first_line)
                is_ndjson = True
            except ValueError:
                is_ndjson = False
        f.seek(0)
        if head == b"\x1e":
            # RFC 8142 GeoJSON text sequence: records are RS-prefixed and
            # may span lines (pretty-printed) — split on the separator.
            for chunk in f.read().split(b"\x1e"):
                chunk = chunk.strip()
                if chunk:
                    yield json.loads(chunk)
            return
        if is_ndjson:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)
            return
        obj = json.load(f)
    if obj.get("type") == "FeatureCollection":
        yield from obj.get("features", [])
    elif obj.get("type") == "Feature":
        yield obj
    else:
        yield {"type": "Feature", "geometry": obj, "properties": {}}


def _sniff_dtype(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "bigint"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        inner = None
        for item in v:
            inner = _sniff_dtype(item)
            if inner:
                break
        if inner in ("bigint", "double", "string", None):
            return f"array<{inner or 'string'}>"
        return "array<string>"
    return "string"


_WIDEN = {
    ("bigint", "double"): "double",
    ("double", "bigint"): "double",
}


def merge_dtypes(a: str | None, b: str | None) -> str | None:
    if a is None:
        return b
    if b is None or a == b:
        return a
    return _WIDEN.get((a, b), "string")


class GeoJsonDriver(FormatDriver):
    name = "GeoJSON"
    extensions = (".json", ".geojson", ".geojsonl", ".ndjson")

    def can_open(self, path: str, head: bytes) -> bool:
        # RFC 8142 text sequences prefix each record with RS (0x1E).
        stripped = head.lstrip(b"\x1e \t\r\n")
        if not stripped.startswith(b"{"):
            return False
        # A Topology document is TopoJSON, an ArcGIS FeatureSet is
        # ESRIJSON (its fields/attributes carry '"type"' keys, so the
        # marker below would otherwise claim it) — both have their own
        # drivers.
        is_esri = (
            b'"features"' in head
            and b'"FeatureCollection"' not in head
            and (
                b'"attributes"' in head
                or b'"objectIdFieldName"' in head
                or b'"geometryType"' in head
            )
        )
        return (
            b'"type"' in head and b'"Topology"' not in head and not is_esri
        )

    def list_layers(self, path: str, options: dict) -> list[str]:
        return [LAYER]

    def layer_crs(self, path: str, layer: str, options: dict) -> str | None:
        return "EPSG:4326"  # RFC 7946: GeoJSON is implicitly WGS84

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        # First-seen property order — the engine's documented improvement
        # over the reference's nondeterministic HashMap order
        # (SURVEY §4.3.1, reference src/lib.rs:474).
        order: list[str] = []
        types: dict[str, str | None] = {}
        for raw in _iter_raw(path):
            for k, v in (raw.get("properties") or {}).items():
                if k not in types:
                    order.append(k)
                    types[k] = None
                types[k] = merge_dtypes(types[k], _sniff_dtype(v))
        # All-null columns stay as nullable string (divergence from the
        # reference's silent drop, SURVEY §4.3.5), unless dropped by option.
        drop_all_null = _bool_opt(options, "dropAllNullColumns")
        fields = []
        for k in order:
            if types[k] is None and drop_all_null:
                continue
            fields.append(Field(k, types[k] or "string"))
        return fields

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        if start is None:
            raws = _iter_raw(path)
        else:  # a split_ranges range of NDJSON: parse only its lines
            data, _ = _ndjson_byte_slice(path, start, end)
            raws = (json.loads(ln) for ln in data.split(b"\n") if ln.strip())
        for i, raw in enumerate(raws, start or 0):
            gj = raw.get("geometry")
            geom = geojson_to_geom(gj) if gj else None
            fid = raw.get("id")
            fid = fid if isinstance(fid, int) else i
            yield Feature(fid=fid, geom=geom, props=raw.get("properties") or {})

    # -- NDJSON parallelism ----------------------------------------------
    # One-feature-per-line files are splittable by feature ordinal: each
    # partition iterates lines (cheap) but JSON-parses only its slice
    # (the ~10× part). A FeatureCollection document is one JSON value and
    # stays unsplittable.

    def _is_ndjson(self, path: str) -> bool:
        with open(path, "rb") as f:
            first = f.readline()
            rest = f.readline()
        if not rest.strip():
            return False
        try:
            json.loads(first)
            return True
        except ValueError:
            return False

    def feature_count(self, path: str, layer: str, options: dict) -> int | None:
        if not self._is_ndjson(path):
            return None
        with open(path, "rb") as f:
            return sum(1 for line in f if line.strip())

    def split_ranges(
        self, path: str, layer: str, options: dict, target_splits: int
    ) -> list[tuple[int, int]] | None:
        n = self.feature_count(path, layer, options)
        if not n:
            return None
        return even_ranges(0, n, target_splits)

    # -- columnar decoder -----------------------------------------------
    # 2D-Point NDJSON parses through pyarrow.json (multithreaded C++),
    # properties land as a struct whose children ARE the output columns,
    # and 21-byte Point WKB is synthesized with numpy — no per-feature
    # Python. The whole file or range is parsed before anything is
    # returned, so every check runs over all of it: anything the
    # explicit schema can't carry (non-Point geometries or 3D points,
    # string ids, list-typed properties, conflicting value types) leaves
    # the file to the reader's feature loop.

    def iter_arrow_batches(
        self,
        path: str,
        layer: str,
        options: dict,
        columns: list[tuple[str, str, str]],
        fid_col: str | None,
        geom_col: str,
        start: int | None = None,
        end: int | None = None,
    ):
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyarrow import json as pajson

        type_map = {
            "string": pa.string(),
            "bigint": pa.int64(),
            "double": pa.float64(),
            "boolean": pa.bool_(),
        }
        if any(t not in type_map for _, _, t in columns):
            return None  # array-typed / exotic props
        if len({src for _, src, _ in columns}) != len(columns):
            return None
        if not self._is_ndjson(path):
            return None

        schema = pa.schema(
            [
                ("id", pa.int64()),
                (
                    "geometry",
                    pa.struct(
                        [
                            ("type", pa.string()),
                            ("coordinates", pa.list_(pa.float64())),
                        ]
                    ),
                ),
                (
                    "properties",
                    pa.struct([(src, type_map[t]) for _, src, t in columns]),
                ),
            ]
        )
        data, base = _ndjson_byte_slice(path, start, end)
        try:
            table = pajson.read_json(
                pa.BufferReader(data),
                parse_options=pajson.ParseOptions(
                    explicit_schema=schema,
                    unexpected_field_behavior="ignore",
                ),
            )
        except (pa.ArrowInvalid, pa.ArrowKeyError):
            return None  # a value the explicit schema can't carry
        geom = table.column("geometry")
        gtype = pc.struct_field(geom, "type")
        ndims = pc.list_value_length(pc.struct_field(geom, "coordinates"))
        if pc.any(pc.not_equal(gtype, "Point")).as_py() or pc.any(
            pc.not_equal(ndims, 2)
        ).as_py():
            return None  # non-Point or non-2D geometry somewhere
        return _ndjson_batches(table, columns, fid_col, geom_col, base)


def _ndjson_byte_slice(
    path: str, start: int | None, end: int | None
) -> tuple[bytes, int]:
    """Bytes covering non-empty-line ordinals [start, end) and the base
    ordinal: parse only the slice; line scanning is the cheap part."""
    with open(path, "rb") as f:
        if start is None:
            return f.read(), 0
        idx = 0
        pos = 0
        off_start = None
        off_end = None
        for line in f:
            if line.strip():
                if idx == start:
                    off_start = pos
                if idx == end:
                    off_end = pos
                    break
                idx += 1
            pos += len(line)
        if off_start is None:
            return b"", start
        f.seek(off_start)
        n = -1 if off_end is None else off_end - off_start
        return f.read(n), start


def _ndjson_batches(table, columns, fid_col, geom_col, ordinal_base):
    """Flatten the parsed (id, geometry, properties) table into the
    reader's batches; numpy-synthesize Point WKB (null geometry → null
    WKB, as in the feature loop)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in table.to_batches():
        n = batch.num_rows
        arrays, names = [], []
        if fid_col:
            ordinals = pa.array(
                np.arange(ordinal_base, ordinal_base + n, dtype=np.int64)
            )
            arrays.append(pc.coalesce(batch.column(0), ordinals))
            names.append(fid_col)
        props = batch.column(2)
        for out_name, src, _t in columns:
            arrays.append(pc.struct_field(props, src))
            names.append(out_name)
        coords = pc.struct_field(batch.column(1), "coordinates")
        valid = coords.is_valid().to_numpy(zero_copy_only=False)
        pts = coords.flatten().to_numpy(zero_copy_only=False).reshape(-1, 2)
        arrays.append(point_wkb_array(pts[:, 0], pts[:, 1], valid))
        names.append(geom_col)
        ordinal_base += n
        yield pa.RecordBatch.from_arrays(arrays, names=names)


register(GeoJsonDriver())


# ----------------------------------------------------------------- writer


def write_feature_collection(
    path: str, features: list[dict], pretty: bool = False
) -> None:
    doc = {"type": "FeatureCollection", "features": features}
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=2 if pretty else None, default=float)
