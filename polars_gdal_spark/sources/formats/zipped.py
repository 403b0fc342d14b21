"""Zip-container support (GDAL ``/vsizip/`` analogue).

The reference reads zipped shapefiles by passing bytes + a ``.shp.zip``
filename hint (``src/lib.rs:163-165``, ``src/test.rs:49-51``). Here a
``*.zip`` path is extracted to a content-addressed cache directory
(idempotent — safe when executors race) and dispatch continues with the
primary inner vector file.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from collections.abc import Iterator

from polars_gdal_spark.sources.formats.base import (
    DRIVERS,
    Feature,
    Field,
    FormatDriver,
    register,
)

_PREFERRED = (".shp", ".gpkg", ".sqlite", ".geojson", ".json", ".csv", ".kml", ".gpx")


def _extract(path: str) -> str:
    """Extract once per (path, mtime) into a shared cache dir; return the
    inner primary vector file."""
    st = os.stat(path)
    key = hashlib.sha1(
        f"{os.path.abspath(path)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:16]
    dest = os.path.join(tempfile.gettempdir(), f"gdal_zip_{key}")
    done = os.path.join(dest, ".done")
    if not os.path.exists(done):
        tmp = dest + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        with zipfile.ZipFile(path) as z:
            z.extractall(tmp)
        open(os.path.join(tmp, ".done"), "w").close()
        try:
            os.rename(tmp, dest)
        except OSError:  # another worker won the race
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    names = []
    for root, _dirs, files in os.walk(dest):
        names.extend(os.path.join(root, f) for f in files if f != ".done")
    for ext in _PREFERRED:
        for n in sorted(names):
            if n.lower().endswith(ext):
                return n
    if names:
        return sorted(names)[0]
    raise ValueError(f"zip archive {path!r} is empty")


class ZipDriver(FormatDriver):
    name = "ZIP"
    extensions = (".zip",)

    def can_open(self, path: str, head: bytes) -> bool:
        return head.startswith(b"PK\x03\x04")

    def _inner(self, path: str):
        from polars_gdal_spark.sources.formats.base import find_driver

        inner_path = _extract(path)
        # avoid self-recursion on nested zips
        allowed = [d.name for d in DRIVERS if d.name != self.name]
        return find_driver(inner_path, allowed), inner_path

    def list_layers(self, path: str, options: dict) -> list[str]:
        d, p = self._inner(path)
        return d.list_layers(p, options)

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        d, p = self._inner(path)
        return d.layer_fields(p, layer, options)

    def layer_crs(self, path: str, layer: str, options: dict) -> str | None:
        d, p = self._inner(path)
        return d.layer_crs(p, layer, options)

    def feature_count(self, path: str, layer: str, options: dict) -> int | None:
        d, p = self._inner(path)
        return d.feature_count(p, layer, options)

    def split_ranges(
        self, path: str, layer: str, options: dict, target_splits: int
    ) -> list[tuple[int, int]] | None:
        d, p = self._inner(path)
        return d.split_ranges(p, layer, options, target_splits)

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        d, p = self._inner(path)
        return d.iter_features(p, layer, options, start, end)


register(ZipDriver())
