"""CSV driver with coordinate-column geometry synthesis.

Mirrors GDAL's CSV driver behavior the reference exercises
(``README.md:46-54``, ``src/test.rs:26-35``): open options
``X_POSSIBLE_NAMES`` / ``Y_POSSIBLE_NAMES`` (glob-ish patterns like
``Lon*``) pick coordinate columns and synthesize Point geometry;
``WKT`` geometry columns are honored via ``GEOM_POSSIBLE_NAMES``.
Without options, all columns read as strings (exactly GDAL's default),
unless ``AUTODETECT_TYPE=YES`` (another real GDAL open option).

Splittable: feature ranges map to line ranges (header skipped).

No columnar decoder: the reader's feature loop reads CSV. A pyarrow.csv
decoder was faster on a whole small file but slower summed over a large
file's splits (each split re-reads the skipped lines), and it had to
guess on the first batch whether it could serve the rest of the file.
"""

from __future__ import annotations

import csv
import fnmatch
import io
import os
from collections.abc import Iterator

from polars_gdal_spark.geometry.wkt import wkt_to_geom
from polars_gdal_spark.sources.formats.base import (
    Feature,
    Field,
    FormatDriver,
    even_ranges,
    register,
)

LAYER = "layer"


def _match_names(header: list[str], patterns: str | None) -> str | None:
    if not patterns:
        return None
    for pat in patterns.split(","):
        for col in header:
            if fnmatch.fnmatch(col.lower(), pat.strip().lower()):
                return col
    return None


def _sniff(v: str) -> str:
    try:
        int(v)
        return "bigint"
    except ValueError:
        pass
    try:
        float(v)
        return "double"
    except ValueError:
        return "string"


class CsvDriver(FormatDriver):
    name = "CSV"
    extensions = (".csv", ".tsv")

    def can_open(self, path: str, head: bytes) -> bool:
        if not head:
            return False
        try:
            text = head.decode("utf-8", errors="strict")
        except UnicodeDecodeError:
            return False
        first = text.splitlines()[0] if text.splitlines() else ""
        return ("," in first or "\t" in first) and not first.lstrip().startswith(
            ("{", "[", "<")
        )

    def _open(self, path: str, options: dict):
        delim = "\t" if path.lower().endswith(".tsv") else ","
        f = open(path, "r", encoding="utf-8-sig", newline="")
        return csv.reader(f, delimiter=delim), f

    def _geometry_config(self, header: list[str], options: dict):
        """Resolve (x_col, y_col, wkt_col) from GDAL-style open options."""
        x = _match_names(header, options.get("x_possible_names"))
        y = _match_names(header, options.get("y_possible_names"))
        g = _match_names(header, options.get("geom_possible_names"))
        return x, y, g

    def list_layers(self, path: str, options: dict) -> list[str]:
        return [LAYER]

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        rdr, f = self._open(path, options)
        try:
            header = next(rdr, [])
            x, y, g = self._geometry_config(header, options)
            autodetect = (
                str(options.get("autodetect_type", "no")).lower() in ("yes", "true")
            )
            types: dict[str, str | None] = {c: None for c in header}
            if autodetect:
                for row in rdr:
                    for c, v in zip(header, row):
                        if v == "":
                            continue
                        t = _sniff(v)
                        prev = types[c]
                        if prev is None or prev == t:
                            types[c] = t
                        elif {prev, t} == {"bigint", "double"}:
                            types[c] = "double"
                        else:
                            types[c] = "string"
            fields = []
            for c in header:
                if c in (x, y, g):
                    continue  # consumed by geometry synthesis (GDAL parity)
                fields.append(Field(c, types[c] or "string"))
            return fields
        finally:
            f.close()

    def iter_features(
        self, path: str, layer: str, options: dict, start=None, end=None
    ) -> Iterator[Feature]:
        rdr, f = self._open(path, options)
        try:
            header = next(rdr, [])
            x, y, g = self._geometry_config(header, options)
            idx = {c: i for i, c in enumerate(header)}
            keep = [c for c in header if c not in (x, y, g)]
            # A range read comes only from split_ranges, which verified
            # there are no embedded newlines: rows before `start` are
            # skipped as raw lines, so only this partition's slice pays
            # csv parsing + geometry synthesis.
            for _ in range(start or 0):
                if not f.readline():
                    return
            for fid, row in enumerate(rdr, start or 0):
                if end is not None and fid >= end:
                    return
                geom = None
                if x and y:
                    try:
                        geom = (
                            "Point",
                            (float(row[idx[x]]), float(row[idx[y]])),
                        )
                    except (ValueError, IndexError):
                        geom = None
                elif g:
                    try:
                        geom = wkt_to_geom(row[idx[g]])
                    except Exception:  # noqa: BLE001
                        geom = None
                props = {
                    c: (row[idx[c]] if idx[c] < len(row) else None) for c in keep
                }
                # empty string stays "" (GDAL CSV parity); missing cell → None
                yield Feature(fid=fid, geom=geom, props=props)
        finally:
            f.close()

    # -- row-range parallelism -------------------------------------------
    # CSV is record-per-line (quoted embedded newlines excepted — probe
    # below rejects those files): partitions parse only their row slice,
    # like the NDJSON split in the geojson driver.

    _probe_cache: dict[tuple, int | None] = {}

    def _splittable_count(self, path: str, options: dict) -> int | None:
        """Record count if every record is exactly one physical line.

        Byte-level probe: count ``\\n`` (and lone ``\\r``, which also
        breaks ``readline``-based skipping) and compare against the
        parsed record count from pyarrow's streaming reader — if a quoted
        field contained a newline, physical lines exceed records and the
        file is rejected. Memoized per (path, size, mtime): planning runs
        once per query, and the probe result can't change under an
        unchanged file."""
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
        if key in self._probe_cache:
            return self._probe_cache[key]
        self._probe_cache[key] = n = self._probe(path)
        return n

    def _probe(self, path: str) -> int | None:
        delim = "\t" if path.lower().endswith(".tsv") else ","
        nl = cr = crnl = 0
        last = b""
        with open(path, "rb") as f:
            while True:
                chunk = f.read(1 << 20)
                if not chunk:
                    break
                nl += chunk.count(b"\n")
                cr += chunk.count(b"\r")
                crnl += chunk.count(b"\r\n")
                if last.endswith(b"\r") and chunk.startswith(b"\n"):
                    crnl += 1
                last = chunk[-1:]
        if cr != crnl:
            return None  # lone \r: breaks readline()-based row skipping
        lines = nl + (0 if last in (b"\n", b"") else 1)
        try:
            from pyarrow import csv as pacsv

            n = 0
            with pacsv.open_csv(
                path,
                parse_options=pacsv.ParseOptions(delimiter=delim),
                convert_options=pacsv.ConvertOptions(include_columns=[]),
            ) as rdr:
                for batch in rdr:
                    n += batch.num_rows
        except Exception:  # noqa: BLE001 — ragged/odd file: not splittable
            return None
        return n if lines == n + 1 else None

    def split_ranges(
        self, path: str, layer: str, options: dict, target_splits: int
    ) -> list[tuple[int, int]] | None:
        n = self._splittable_count(path, options)
        if not n:
            return None
        return even_ranges(0, n, target_splits)


register(CsvDriver())


# ----------------------------------------------------------------- writer


def write_csv(path: str, header: list[str], rows: Iterator[list]) -> None:
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        for row in rows:
            w.writerow(row)
