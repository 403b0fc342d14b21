"""Arrow IPC driver (.arrow / .feather / .ipc).

The reference's own write-path fixture is Arrow IPC with a WKB binary
``geometry`` column + GeoParquet-style ``geo`` metadata
(``test_data/cities.arrow``, ``src/test.rs:123-158``). This driver reads
that shape: attribute columns map by Arrow type, the geometry column
(named ``geometry`` or flagged in ``geo`` metadata) is decoded from WKB.

Splittable by record-batch row ranges.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from contextlib import contextmanager

from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    even_ranges,
    register,
)

_ARROW_DDL = {
    "int8": "bigint", "int16": "bigint", "int32": "bigint", "int64": "bigint",
    "uint8": "bigint", "uint16": "bigint", "uint32": "bigint", "uint64": "bigint",
    "float": "double", "double": "double", "halffloat": "double",
    "string": "string", "large_string": "string", "utf8": "string",
    "bool": "boolean",
    "binary": "binary", "large_binary": "binary",
    "date32[day]": "date", "date64[ms]": "date",
}


def _geometry_column(schema) -> str | None:
    meta = schema.metadata or {}
    geo = meta.get(b"geo")
    if geo:
        try:
            return json.loads(geo).get("primary_column", "geometry")
        except ValueError:
            pass
    return "geometry" if "geometry" in schema.names else None


class ArrowIpcDriver(FormatDriver):
    name = "Arrow"
    extensions = (".arrow", ".feather", ".ipc")

    def can_open(self, path: str, head: bytes) -> bool:
        return head.startswith(b"ARROW1") or head[:4] == b"\xff\xff\xff\xff"

    @staticmethod
    @contextmanager
    def _open(path: str):
        """(schema, record batches) of a memory-mapped IPC input: the
        *file* format reads each batch on demand from its footer index,
        zero-copy; the stream format is read in order."""
        import pyarrow as pa
        import pyarrow.ipc

        with pa.memory_map(path) as src:
            try:
                r = pa.ipc.open_file(src)
            except pa.ArrowInvalid:
                r = None
            if r is not None:
                yield r.schema, (r.get_batch(i) for i in range(r.num_record_batches))
            else:
                src.seek(0)
                with pa.ipc.open_stream(src) as stream:
                    yield stream.schema, iter(stream)

    def _rows(self, path: str, start: int = 0, end: int | None = None):
        """Rows ``start..end`` as a table, read from only the record
        batches the range overlaps (the slices keep the mapping alive)."""
        import pyarrow as pa

        with self._open(path) as (schema, batches):
            parts, pos = [], 0
            for batch in batches:
                lo, pos = pos, pos + batch.num_rows
                if end is not None and lo >= end:
                    break
                if pos > start:
                    s = max(start, lo) - lo
                    e = batch.num_rows if end is None else min(end, pos) - lo
                    parts.append(batch.slice(s, e - s))
            return pa.Table.from_batches(parts, schema=schema)

    def list_layers(self, path: str, options: dict) -> list[str]:
        import os

        return [os.path.splitext(os.path.basename(path))[0]]

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        with self._open(path) as (schema, _):
            gcol = _geometry_column(schema)
        out = []
        for f in schema:
            if f.name == gcol:
                continue
            ddl = _ARROW_DDL.get(str(f.type))
            if ddl is None:
                t = str(f.type)
                if t.startswith("list<") or t.startswith("large_list<"):
                    inner = t.split("<", 1)[1].rsplit(">", 1)[0]
                    inner = inner.split(":", 1)[-1].strip()
                    ddl = f"array<{_ARROW_DDL.get(inner, 'string')}>"
                elif t.startswith("timestamp"):
                    ddl = "timestamp_ntz"
                else:
                    ddl = "string"
            out.append(Field(f.name, ddl))
        return out

    def feature_count(self, path: str, layer: str, options: dict) -> int | None:
        with self._open(path) as (_, batches):
            return sum(b.num_rows for b in batches)

    def split_ranges(
        self, path: str, layer: str, options: dict, target_splits: int
    ) -> list[tuple[int, int]] | None:
        n = self.feature_count(path, layer, options)
        if n == 0:
            return None
        return even_ranges(0, n, target_splits)

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        from polars_gdal_spark.geometry.wkb import wkb_is_canonical_le, wkb_to_geom

        start = start or 0
        tbl = self._rows(path, start, end)
        gcol = _geometry_column(tbl.schema)
        cols = [n for n in tbl.schema.names if n != gcol]
        data = tbl.to_pydict()
        geoms = data.get(gcol, [None] * tbl.num_rows) if gcol else [None] * tbl.num_rows
        for i in range(tbl.num_rows):
            g = geoms[i]
            # canonical WKB goes over as is; anything else is decoded
            wkb = bytes(g) if g is not None and wkb_is_canonical_le(g) else None
            yield Feature(
                fid=start + i,
                geom=wkb_to_geom(bytes(g)) if g is not None and wkb is None else None,
                props={c: data[c][i] for c in cols},
                wkb=wkb,
            )


register(ArrowIpcDriver())
