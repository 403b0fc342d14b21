"""The ``gdal`` PySpark DataSource: vector geospatial formats in/out.

Spark-first re-expression of the reference's read/write API surface
(SURVEY §2.A–§2.C): ``spark.read.format("gdal")`` replaces
``df_from_resource`` (reference ``src/lib.rs:294-312``),
``df.write.format("gdal")`` replaces ``gdal_resource_from_df``
(``src/lib.rs:629-642``).

Reader options (parity with ``ReadParams``, ``src/lib.rs:29-88``):

=====================  =====================================================
``layer``              layer name (``src/lib.rs:61-63``)
``layerIndex``         layer index, name wins (``src/lib.rs:65-67``)
``fidColumn``          emit source FID as leading bigint col (``69-70``)
``geometryColumn``     geometry column name, default ``geometry`` (``72-75``)
``geometryFormat``     ``wkb`` (default) | ``wkt`` | ``geojson`` (``77-78``)
``offset``             skip first N features, N >= 0 (``86-88``)
``limit``              truncating limit, >= 0 — max rows *returned*
                       (``80-81``; intentional divergence from the
                       reference's raw-index check, SURVEY §4.3.3)
``maxRows``            erroring limit, >= 0 (``83-84``: FeatureLimitReached)
``drivers``            comma-separated driver allow-list (``41-44``)
``x/y/geom_possible_names``, ``autodetect_type``
                       CSV open options (GDAL parity, README.md:46-54)
``dropAllNullColumns`` reference drops all-null cols (``474-478``); we
                       keep them as null strings unless this is ``true``
``bbox``               ``minx,miny,maxx,maxy`` spatial filter: envelope
                       intersects (OGR ``SetSpatialFilter`` analogue)
``pushdown``           ``true`` evaluates simple attribute filters on the
                       scan's batches (opt-in, see ``GdalPushdownReader``)
``crsMetadata``        ``true`` carries encoding + CRS as geometry-field
                       metadata (batch reads only)
``schemaSampleFiles``  files of a multi-file input whose schemas are
                       unioned, >= 1 (default 16)
``targetPartitions``   upper bound on scan tasks, >= 1 (default 32),
                       shared evenly among the input files
=====================  =====================================================

A malformed integer option raises a ``ValueError`` naming it, and so
does a boolean option (``pushdown``, ``crsMetadata``,
``dropAllNullColumns``; writer ``partitioned``, ``spatialIndex``) whose
value is not ``true`` or ``false`` in any case. ``bbox`` must be 4
finite numbers with ``minx <= maxx`` and ``miny <= maxy``; anything
else raises a ``ValueError`` naming ``bbox`` and the value.

Scale design: ``partitions()`` fans out per input file AND intra-file
via driver ``split_ranges`` (FID ranges from .shx, rowid ranges in
SQLite) — the reference is single-threaded (SURVEY §3); this source
parallelizes the same byte formats. One rule sizes the splits: adjacent
ranges merge until each holds at least ``MIN_SPLIT_FEATURES`` (32768)
features, so a file below that is one task, while
``targetPartitions // files`` caps the ranges of a large one.

Scan design: ``read()`` is one loop that turns every partition into Arrow
batches. A file's batches come from its driver's columnar decoder when
the driver has one and takes the file (2D-Point NDJSON, WKB reads), else
from the feature loop over ``iter_features``, which hands along the
geometry tuples a driver parsed. One post-processor then applies, to
every batch alike, the offset, limit and maxRows counts, the pushed
filters (the OGR ``SetAttributeFilter`` analogue, as ``pyarrow.compute``
on the typed columns), the bbox test and the ``geometryFormat``
encoding, so rows drop before crossing the Python→JVM Arrow boundary.
"""

from __future__ import annotations

import glob as _glob
import itertools
import json
import math
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from polars_gdal_spark.errors import (
    CannotFindGeometryColumnError,
    FeatureLimitReachedError,
    GeometryColumnWrongTypeError,
    UnsupportedFormatError,
)

GEOMETRY_FORMATS = ("wkb", "wkt", "geojson")

#: Fewest features a split of one file holds (the last split of a file
#: may hold fewer): below this a task's fixed cost outweighs its share
#: of the decode (split-count sweep in ROADMAP.md, direction 4).
MIN_SPLIT_FEATURES = 32768

#: Features per Arrow batch of the reader's feature loop.
BATCH_FEATURES = 4096


def _parse_ddl_type(ddl: str):
    """DDL type string → DataType without a SparkSession (the planning
    worker has none)."""
    from pyspark.sql import types as T

    atomic = {
        "bigint": T.LongType(),
        "int": T.IntegerType(),
        "smallint": T.ShortType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "string": T.StringType(),
        "boolean": T.BooleanType(),
        "binary": T.BinaryType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(),
    }
    d = ddl.strip().lower()
    if d in atomic:
        return atomic[d]
    if d.startswith("array<") and d.endswith(">"):
        return T.ArrayType(_parse_ddl_type(d[6:-1]))
    raise ValueError(f"unsupported DDL type {ddl!r}")


def _opt(options: dict, name: str, default=None):
    # DataSource options arrive lower-cased (CaseInsensitiveDict semantics).
    return options.get(name.lower(), default)


def _int_opt(options: dict, name: str, default: int | None, minimum: int):
    """Integer option ``name`` (``default`` when unset); a value that is
    not an integer or is below ``minimum`` raises a ``ValueError`` that
    names the option."""
    raw = _opt(options, name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except (TypeError, ValueError):
        value = None
    if value is not None and value >= minimum:
        return value
    raise ValueError(f"{name} must be an integer >= {minimum}, got {raw!r}")


def _bool_opt(options: dict, name: str, default: bool = False) -> bool:
    """Boolean option ``name`` (``default`` when unset); a value other
    than ``true`` or ``false`` (any case) raises a ``ValueError`` that
    names the option."""
    raw = _opt(options, name)
    if raw is None:
        return default
    value = str(raw).strip().lower()
    if value in ("true", "false"):
        return value == "true"
    raise ValueError(f"{name} must be true or false, got {raw!r}")


def _parse_bbox(raw: str | None) -> tuple[float, ...] | None:
    """The ``bbox`` option ``minx,miny,maxx,maxy`` → a float 4-tuple,
    None when unset. Anything but 4 finite numbers with min <= max on
    each axis raises a ``ValueError`` that names ``bbox`` and the value."""
    if not raw:
        return None
    try:
        box = tuple(float(v) for v in raw.split(","))
    except ValueError:
        box = ()
    if (
        len(box) == 4
        and all(math.isfinite(v) for v in box)
        and box[0] <= box[2]
        and box[1] <= box[3]
    ):
        return box
    raise ValueError(
        "bbox must be 4 finite numbers 'minx,miny,maxx,maxy' with "
        f"minx <= maxx and miny <= maxy, got {raw!r}"
    )


def _merge_small_ranges(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Merge adjacent ``split_ranges`` ranges until each holds at least
    ``MIN_SPLIT_FEATURES`` features; the last may hold fewer. A range's
    width is its feature count (for SQLite rowid ranges, an upper bound)."""
    out: list[tuple[int, int]] = []
    for s, e in ranges:
        if out and out[-1][1] - out[-1][0] < MIN_SPLIT_FEATURES:
            out[-1] = (out[-1][0], e)
        else:
            out.append((s, e))
    return out


def _localize(path: str) -> str:
    """Remote and compressed resources: download / decompress once per
    machine into a content-addressed cache.

    * HTTPS (the reference's HTTPS-via-GDAL path, ``src/test.rs:86-94``)
      downloads to a per-machine cache.
    * ``.gz`` (GDAL's transparent ``/vsigzip/`` behavior) stream-
      decompresses next to the cache with the inner extension restored,
      so driver dispatch sees ``file.geojson`` for ``file.geojson.gz``.
      Composable with HTTPS (download first, then gunzip).

    Called on both driver (schema/partitions) and executors (read), so
    each machine fetches/inflates independently — no shared-filesystem
    assumption. At cluster scale a .gz member is NOT range-splittable
    (DEFLATE has no sync points), matching Spark's own behavior on
    gzipped text: parallelism comes from many files, not splits.
    """
    import hashlib
    import tempfile

    if path.startswith(("http://", "https://")):
        import urllib.request

        key = hashlib.sha1(path.encode()).hexdigest()[:16]
        name = os.path.basename(path.split("?")[0]) or "remote.bin"
        dest = os.path.join(tempfile.gettempdir(), f"gdal_http_{key}_{name}")
        if not os.path.exists(dest):
            tmp = dest + f".tmp{os.getpid()}"
            urllib.request.urlretrieve(path, tmp)  # noqa: S310
            try:
                os.rename(tmp, dest)
            except OSError:
                os.remove(tmp)
        path = dest
    if path.endswith(".gz"):
        import gzip
        import shutil

        try:
            stat = os.stat(path)
            stamp = f"{path}:{stat.st_size}:{stat.st_mtime_ns}"
        except OSError:
            stamp = path
        key = hashlib.sha1(stamp.encode()).hexdigest()[:16]
        inner = os.path.basename(path)[:-3] or "member"
        dest = os.path.join(tempfile.gettempdir(), f"gdal_gz_{key}_{inner}")
        if not os.path.exists(dest):
            tmp = dest + f".tmp{os.getpid()}"
            with gzip.open(path, "rb") as src, open(tmp, "wb") as out:
                shutil.copyfileobj(src, out, 1 << 20)
            try:
                os.rename(tmp, dest)
            except OSError:
                os.remove(tmp)
        path = dest
    return path


def _resolve_paths(path: str) -> list[str]:
    # Newline-separated multi-path (URLs can't contain raw newlines): one
    # load() call carries N sources, each becoming its own scan partition.
    # This keeps partition planning inside the datasource for paged remote
    # reads (WFS) instead of an N-deep union of per-page DataFrames.
    if "\n" in path:
        out = [p for p in (s.strip() for s in path.split("\n")) if p]
        if not out:
            raise UnsupportedFormatError(f"no input files at {path!r}")
        return out
    if path.startswith(("http://", "https://")):
        return [path]
    if os.path.isdir(path):
        out = sorted(
            p
            for p in _glob.glob(os.path.join(path, "*"))
            if os.path.isfile(p) and not p.endswith((".shx", ".dbf", ".prj", ".cpg"))
        )
    elif any(ch in path for ch in "*?["):
        out = sorted(_glob.glob(path))
    else:
        out = [path]
    if not out:
        raise UnsupportedFormatError(f"no input files at {path!r}")
    return out


def _resolve_layer(driver, path: str, options: dict) -> str:
    layers = driver.list_layers(path, options)
    name = _opt(options, "layer")
    if name is not None:
        if name not in layers:
            raise ValueError(f"layer {name!r} not found; available: {layers}")
        return name
    idx = _opt(options, "layerIndex")
    if idx is not None:
        # an unsigned index, as the reference's usize layer_index: a
        # negative one must not silently count from the end
        try:
            i = int(idx)
        except (TypeError, ValueError):
            i = -1
        if not 0 <= i < len(layers):
            raise ValueError(
                f"layerIndex {idx!r} is not an index in 0..{len(layers) - 1} "
                f"of the available layers: {layers}"
            )
        return layers[i]
    return layers[0]  # name → index → 0 (reference src/lib.rs:303-309)


#: GDAL open-flag names the engine understands (ReadParams.open_flags
#: parity, reference src/lib.rs:30-39). READONLY/VECTOR/VERBOSE_ERROR/
#: SHARED/ALL are accepted no-ops (this engine always opens vector data
#: read-only and raises typed errors); UPDATE and RASTER are rejected.
_OPEN_FLAG_NOOPS = {"READONLY", "VECTOR", "VERBOSE_ERROR", "SHARED", "ALL"}


def _check_open_flags(options: dict) -> None:
    raw = _opt(options, "open_flags") or _opt(options, "openFlags")
    if raw is None:
        return
    for tok in str(raw).split("|"):
        tok = tok.strip().upper().removeprefix("GDAL_OF_")
        if not tok:
            continue
        if tok == "UPDATE":
            from polars_gdal_spark.errors import UpdateNotSupportedError

            raise UpdateNotSupportedError(
                "open_flags=UPDATE: this engine opens sources read-only "
                "(reference rejects update on byte input the same way, "
                "src/lib.rs:213-217)"
            )
        if tok == "RASTER":
            raise UnsupportedFormatError(
                "open_flags=RASTER: only vector sources are supported"
            )
        if tok not in _OPEN_FLAG_NOOPS:
            raise ValueError(
                f"unknown open_flags token {tok!r}; known: "
                f"{sorted(_OPEN_FLAG_NOOPS | {'UPDATE', 'RASTER'})}"
            )


def infer_schema(options: dict) -> StructType:
    """Driver-side inference pass (SURVEY §1.4): column order is
    fid?, attributes (first-seen), geometry last (src/lib.rs:466-482)."""
    from polars_gdal_spark.sources.formats import find_driver

    _check_open_flags(options)
    path = _opt(options, "path")
    paths = _resolve_paths(path)
    allowed = _opt(options, "drivers")
    allowed = [d.strip() for d in allowed.split(",")] if allowed else None
    # Multi-file input: union schemas across a bounded sample of files
    # (first-seen column order, numeric widening, conflicts → string) —
    # the per-row schema-drift semantics of the reference
    # (src/lib.rs:409-450) lifted to per-file granularity.
    sample_cap = _int_opt(options, "schemaSampleFiles", 16, 1)
    fields = []
    seen: dict[str, int] = {}
    layer = None
    for p in paths[:sample_cap]:
        p = _localize(p)
        driver = find_driver(p, allowed)
        layer = _resolve_layer(driver, p, options)
        for f in driver.layer_fields(p, layer, options):
            if f.name in seen:
                prev = fields[seen[f.name]]
                if prev.dtype != f.dtype:
                    widened = {
                        frozenset(("bigint", "double")): "double",
                    }.get(frozenset((prev.dtype, f.dtype)), "string")
                    prev.dtype = widened
            else:
                seen[f.name] = len(fields)
                fields.append(f)

    geom_col = _opt(options, "geometryColumn", "geometry")
    fid_col = _opt(options, "fidColumn")
    gfmt = _opt(options, "geometryFormat", "wkb").lower()
    if gfmt not in GEOMETRY_FORMATS:
        raise ValueError(f"geometryFormat must be one of {GEOMETRY_FORMATS}")

    ddl = []
    if fid_col:
        ddl.append((fid_col, "bigint", False))
    for f in fields:
        name = f.name
        # Conflict rename (reference src/lib.rs:453-463): attribute
        # colliding with geometry/fid column becomes {name}_original.
        if name == geom_col or (fid_col and name == fid_col):
            name = f"{name}_original"
        ddl.append((name, f.dtype, True))
    geom_type = "binary" if gfmt == "wkb" else "string"
    ddl.append((geom_col, geom_type, True))

    # Build the StructType programmatically (fromDDL would need a JVM,
    # absent in the planning worker). The geometry field carries CRS
    # metadata when the format stores one — strictly more than the
    # reference keeps (it drops CRS on read, SURVEY §1.2).
    crs = driver.layer_crs(_localize(paths[0]), layer, options)
    st = StructType()
    for name, dtype, _nullable in ddl:
        meta = None
        # Field metadata is OPT-IN (batch-only): Spark's streaming runner
        # asserts the prefetched Arrow batch schema equals the declared
        # schema and Arrow drops field metadata, so readStream on a
        # metadata-carrying schema dies with an internal assertion.
        # polars_gdal_spark.read_gdal() sets this automatically for batch.
        if name == geom_col and _bool_opt(options, "crsMetadata"):
            meta = {"encoding": gfmt}
            if crs:
                meta["crs"] = crs
        st.add(name, _parse_ddl_type(dtype), True, meta)
    return st


@dataclass
class GdalInputPartition(InputPartition):
    path: str
    layer: str
    start: int | None = None  # feature-range split (None = whole layer)
    end: int | None = None
    # Pushed filters travel IN the partition, not on the reader instance:
    # Spark reuses one reader instance across queries on the same
    # DataFrame, so instance state set by pushFilters() in one query
    # would leak into the next query's scan (observed: a filtered write
    # contaminating a later unfiltered count). partitions() snapshots
    # the current query's filters here and resets the instance.
    filters: tuple = ()
    # True only for the sentinel partition emitted when spatial pruning
    # eliminates every input file (the DataSource API requires ≥1
    # partition); read() yields nothing for it.
    empty: bool = False
    # Follow-on (path, layer) pairs read sequentially AFTER `path` by the
    # same task — used when offset/limit/maxRows demand one global row
    # counter over a multi-file input (per-file counters would apply the
    # offset/limit once per file).
    chain: tuple = ()


def _filter_mask(kind: str, column, value):
    """Boolean array of one pushed filter on a typed column: ``kind`` is
    the ``pyarrow.compute`` function, a comparison with ``value`` or a
    null test. A null cell compares to null, i.e. does not pass. On a
    float column NaN compares as in Spark: above every number, and
    equal to itself."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if kind in ("is_null", "is_valid"):
        return getattr(pc, kind)(column)
    if not pa.types.is_floating(column.type):
        return getattr(pc, kind)(column, value)
    nan = pc.is_nan(column)
    if isinstance(value, float) and math.isnan(value):
        number = pc.invert(nan)
        return {
            "equal": nan,
            "greater_equal": nan,
            "greater": pc.and_(nan, number),  # nothing is above NaN
            "less": number,
            "less_equal": pc.or_(nan, number),
        }[kind]
    hit = getattr(pc, kind)(column, value)
    return pc.or_(hit, nan) if kind in ("greater", "greater_equal") else hit


def _evaluable(kind: str, arrow_type, value) -> bool:
    """Whether ``_filter_mask`` can evaluate this filter on a column of
    ``arrow_type``."""
    import pyarrow as pa

    try:
        _filter_mask(kind, pa.array([], arrow_type), value)
    except (pa.ArrowException, TypeError, ValueError):
        return False
    return True


class GdalDataSourceReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = dict(options)
        self.pushed: list[tuple] = []

        self.geom_col = _opt(options, "geometryColumn", "geometry")
        self.fid_col = _opt(options, "fidColumn")
        self.gfmt = _opt(options, "geometryFormat", "wkb").lower()
        self.offset = _int_opt(options, "offset", 0, 0)
        self.limit = _int_opt(options, "limit", None, 0)
        self.max_rows = _int_opt(options, "maxRows", None, 0)
        self.target_partitions = _int_opt(options, "targetPartitions", 32, 1)
        # Spatial filter (OGR SetSpatialFilter analogue — the "spatial
        # filter" pre-processing the reference names at src/lib.rs:316-318):
        # keep features whose geometry envelope intersects the bbox.
        # Like OGR, features with no geometry are excluded while a
        # spatial filter is active.
        self.bbox = _parse_bbox(_opt(options, "bbox"))
        allowed = _opt(options, "drivers")
        self.allowed = (
            [d.strip() for d in allowed.split(",")] if allowed else None
        )
        self.attr_fields = [
            f.name
            for f in schema.fields
            if f.name != self.geom_col and f.name != self.fid_col
        ]
        # (output name, source property, DDL type) of each attribute: an
        # attribute renamed off the geometry/fid column reads its source
        dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
        self.columns = [
            (name, name.removesuffix("_original"), dtypes[name])
            for name in self.attr_fields
        ]

    # -- planning ---------------------------------------------------------
    def partitions(self) -> Sequence[InputPartition]:
        from polars_gdal_spark.sources.formats import find_driver

        paths = _resolve_paths(_opt(self.options, "path"))
        # offset/limit/maxRows are global row semantics → single partition
        # (the reference is single-threaded anyway, SURVEY §3).
        sequential = self.offset or self.limit is not None or self.max_rows is not None
        pushed = tuple(self.pushed)
        self.pushed = []  # consume: this query's filters only
        parts: list[InputPartition] = []
        survivors: list[tuple[str, str]] = []
        target = max(1, self.target_partitions // len(paths))
        for p in paths:
            local = _localize(p)
            driver = find_driver(local, self.allowed)
            layer = _resolve_layer(driver, local, self.options)
            if self.bbox is not None:
                # Spatial partition pruning: drop whole files whose
                # header/index envelope misses the filter box (the
                # spatial analogue of parquet min/max pruning; the
                # per-feature envelope test in read() stays exact).
                bb = driver.layer_bbox(local, layer, self.options)
                if bb is not None:
                    bx0, by0, bx1, by1 = self.bbox
                    if bb[2] < bx0 or bb[0] > bx1 or bb[3] < by0 or bb[1] > by1:
                        continue
            if sequential:
                survivors.append((p, layer))
                continue
            ranges = driver.split_ranges(local, layer, self.options, target)
            ranges = _merge_small_ranges(ranges or [])
            if len(ranges) > 1:
                for s, e in ranges:
                    parts.append(GdalInputPartition(p, layer, s, e, pushed))
            else:
                parts.append(GdalInputPartition(p, layer, filters=pushed))
        if sequential and survivors:
            # One task walks every file in path order so the offset /
            # limit / maxRows counters are global, matching the
            # reference's single-threaded whole-read semantics.
            first_path, first_layer = survivors[0]
            parts.append(
                GdalInputPartition(
                    first_path,
                    first_layer,
                    filters=pushed,
                    chain=tuple(survivors[1:]),
                )
            )
        if not parts:  # every file spatially pruned
            parts.append(GdalInputPartition(paths[0], "", empty=True))
        return parts

    # -- execution --------------------------------------------------------
    def read(self, partition: GdalInputPartition) -> Iterator:
        """Yield the partition as pyarrow RecordBatches of the declared
        schema: one Arrow block per ~4096 features crosses the
        Python↔JVM boundary (SURVEY §1.5's "better: Arrow batches")."""
        yield from self._columnar_batches(partition, self._arrow_schema())

    def _arrow_schema(self):
        """The declared schema in Arrow, by pyspark's own mapping: the one
        Spark checks Python-reader batches against (``date`` → date32,
        ``timestamp_ntz`` → timestamp[us])."""
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(self.schema)

    def _columnar_batches(self, partition: GdalInputPartition, pa_schema) -> Iterator:
        """The one scan loop. Each file's batches come from its driver's
        columnar decoder when that takes the file, else from the feature
        loop; ``_finish`` post-processes all of them alike."""
        if partition.empty:
            return
        files = [(partition.path, partition.layer, partition.start, partition.end)]
        files += [(path, layer, None, None) for path, layer in partition.chain]
        raw = (item for f in files for item in self._file_batches(*f, pa_schema))
        yield from self._finish(raw, partition.filters, pa_schema)

    def _file_batches(self, path, layer, start, end, pa_schema) -> Iterator:
        """``(batch, geoms)`` pairs of one file (or one range of it): the
        columns of ``pa_schema`` with WKB geometry, and the geometry
        tuples the driver parsed (None for a batch without any)."""
        from polars_gdal_spark.sources.formats import find_driver

        local = _localize(path)
        driver = find_driver(local, self.allowed)
        # a decoder's float64 coordinates would print an integer GeoJSON
        # coordinate as 1.0 in text output: only a WKB read asks it
        if self.gfmt == "wkb":
            batches = driver.iter_arrow_batches(
                local, layer, self.options, self.columns, self.fid_col,
                self.geom_col, start, end,
            )
            if batches is not None:
                return ((b, None) for b in batches)
        feats = driver.iter_features(local, layer, self.options, start, end)
        return self._feature_batches(feats, pa_schema)

    def _feature_batches(self, feats, pa_schema) -> Iterator:
        """The feature loop: ``iter_features`` → one Arrow column per
        output field, ``BATCH_FEATURES`` features a batch. A parsed
        geometry tuple travels beside the batch, and is encoded to WKB
        only for WKB output."""
        import pyarrow as pa

        from polars_gdal_spark.geometry.wkb import geom_to_wkb

        coerce = self._coerce
        types = pa_schema.types
        to_wkb = self.gfmt == "wkb"
        feats = iter(feats)
        while chunk := list(itertools.islice(feats, BATCH_FEATURES)):
            arrays = [pa.array([f.fid for f in chunk], types[0])] if self.fid_col else []
            for (_, src, dtype), typ in zip(self.columns, types[len(arrays) :]):
                arrays.append(
                    pa.array([coerce(f.props.get(src), dtype) for f in chunk], typ)
                )
            wkb = [
                geom_to_wkb(f.geom)
                if f.wkb is None and f.geom is not None and to_wkb
                else f.wkb
                for f in chunk
            ]
            arrays.append(pa.array(wkb, pa.binary()))
            batch = pa.RecordBatch.from_arrays(arrays, names=pa_schema.names)
            yield batch, [f.geom for f in chunk]

    def _coerce(self, v, dtype: str):
        if v is None:
            return None
        if dtype == "string" and not isinstance(v, str):
            return json.dumps(v) if isinstance(v, (list, dict)) else str(v)
        if dtype == "double":
            if isinstance(v, int):
                return float(v)
            if isinstance(v, str):  # typed CSV path (autodetect_type)
                try:
                    return float(v)
                except ValueError:
                    return None
        if dtype == "bigint":
            if isinstance(v, bool):
                return int(v)
            if isinstance(v, str):
                try:
                    return int(v)
                except ValueError:
                    return None
        if dtype == "boolean" and isinstance(v, str):
            return v.lower() in ("true", "t", "yes", "1")
        return v

    def _finish(self, batches, filters, pa_schema) -> Iterator:
        """The post-processor of every ``(batch, geoms)`` pair: the offset
        skip (B1, src/lib.rs:361-365), the pushed filters and the bbox
        test, the truncating limit (B2, 366-370) and the erroring maxRows
        (B3) as one row count over the whole stream, then the geometry
        format."""
        import numpy as np
        import pyarrow as pa

        skip = self.offset
        caps = [c for c in (self.limit, self.max_rows) if c is not None]
        room = min(caps) if caps else None
        # one feature past the cap fails the read under maxRows, and ends
        # it under a smaller limit
        fails = room is not None and room == self.max_rows
        for batch, geoms in batches:
            if skip:
                n = min(skip, batch.num_rows)
                batch, skip = batch.slice(n), skip - n
                geoms = geoms and geoms[n:]
            if not batch.num_rows:
                continue
            if room == 0:
                if fails:
                    raise FeatureLimitReachedError(self.max_rows)
                return
            keep, geoms = self._keep(batch, geoms, filters)
            past = False
            if room is not None:
                hits = np.flatnonzero(keep)
                if len(hits) >= room:
                    cut = int(hits[room - 1]) + 1
                    past = cut < batch.num_rows
                    batch, keep = batch.slice(0, cut), keep[:cut]
                    geoms = geoms and geoms[:cut]
                    room = 0
                else:
                    room -= len(hits)
            if not keep.all():
                batch = batch.filter(pa.array(keep))
                geoms = geoms and list(itertools.compress(geoms, keep))
            if batch.num_rows:
                yield self._output(batch, geoms, pa_schema)
            if room == 0 and (past or not fails):
                if fails:
                    raise FeatureLimitReachedError(self.max_rows)
                return

    def _keep(self, batch, geoms, filters):
        """(mask, geoms): the numpy mask of the rows that pass every
        pushed filter and, with a ``bbox``, whose geometry envelope
        intersects it (a null or empty geometry has none: excluded, as
        by OGR's spatial filter); and, when the bbox or a text output
        needs them, the geometry tuples of the kept rows, WKB decoded
        where the batch came without one."""
        import numpy as np

        from polars_gdal_spark.geometry import geom_bounds, wkb_to_geom

        keep = np.ones(batch.num_rows, dtype=bool)
        for kind, col, val in filters:
            hit = _filter_mask(kind, batch.column(col), val).fill_null(False)
            keep &= hit.to_numpy(zero_copy_only=False)
        if self.bbox is None and self.gfmt == "wkb":
            return keep, None
        wkbs = batch.column(batch.num_columns - 1).to_pylist()
        geoms = [
            (g if g is not None or w is None else wkb_to_geom(w)) if k else None
            for g, w, k in zip(geoms or itertools.repeat(None), wkbs, keep)
        ]
        if self.bbox is not None:
            bx0, by0, bx1, by1 = self.bbox
            for i in np.flatnonzero(keep):
                b = None if geoms[i] is None else geom_bounds(geoms[i])
                keep[i] = b is not None and not (
                    b[2] < bx0 or b[0] > bx1 or b[3] < by0 or b[1] > by1
                )
        return keep, geoms

    def _output(self, batch, geoms, pa_schema):
        """``batch`` under the declared schema, its geometry encoded as
        ``geometryFormat`` asks (text formats from ``geoms``)."""
        import pyarrow as pa

        arrays = batch.columns
        if self.gfmt != "wkb":
            from polars_gdal_spark.geometry import geom_to_geojson
            from polars_gdal_spark.geometry.wkt import geom_to_wkt

            if self.gfmt == "wkt":
                encode = geom_to_wkt
            else:
                def encode(geom):
                    return json.dumps(geom_to_geojson(geom))

            arrays[-1] = pa.array(
                [None if g is None else encode(g) for g in geoms], pa.string()
            )
        return pa.RecordBatch.from_arrays(arrays, schema=pa_schema)


class GdalPushdownReader(GdalDataSourceReader):
    """Reader variant used only under ``option("pushdown", "true")``.

    Kept as a SEPARATE class because Spark 4 asserts at plan time when a
    Python reader merely *defines* ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false — the default
    reader must not carry the method, or plain ``load()`` on a vanilla
    session dies before reading a byte.
    """

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """OGR SetAttributeFilter analogue (SURVEY §4.2): simple
        comparisons on attribute columns are evaluated with
        ``pyarrow.compute`` on each batch's typed columns; a filter it
        cannot evaluate on its column's type (an array column, say), and
        everything else, stays with Spark.

        OPT-IN because Spark caches the first-planned Python scan per
        DataFrame and reuses it for later queries with different filters,
        so a pushed filter from query 1 would silently constrain query 2
        (verified against Spark 4.1). Safe for single-use loads
        (read→transform→write); off by default.
        """
        kinds = {
            EqualTo: "equal",
            GreaterThan: "greater",
            GreaterThanOrEqual: "greater_equal",
            LessThan: "less",
            LessThanOrEqual: "less_equal",
            IsNull: "is_null",
            IsNotNull: "is_valid",
        }
        schema = self._arrow_schema()
        self.pushed = []  # overwrite: never accumulate across plannings
        for f in filters:
            kind = kinds.get(type(f))
            col = f.attribute[0] if len(f.attribute) == 1 else None
            val = getattr(f, "value", None)
            if (
                kind
                and col in self.attr_fields
                and _evaluable(kind, schema.field(col).type, val)
            ):
                self.pushed.append((kind, col, val))
            else:
                yield f


# ----------------------------------------------------------------- writer


@dataclass
class GdalCommitMessage(WriterCommitMessage):
    part_path: str
    count: int
    summary: object = None  # the part encoder's, for the stitch


#: write driver of a destination without a ``driver`` option, by extension
#: (GeoJSON for any other)
_SNIFFED_DRIVERS = {
    ".geojson": "GeoJSON", ".json": "GeoJSON", ".csv": "CSV", ".gpkg": "GPKG",
    ".ndjson": "GeoJSONSeq", ".geojsonl": "GeoJSONSeq",
    ".mif": "MapInfo File", ".tab": "MapInfo File",
    ".arrow": "Arrow", ".feather": "Arrow", ".ipc": "Arrow",
    ".dxf": "DXF", ".sql": "PGDump", ".shp": "ESRI Shapefile",
    ".fgb": "FlatGeobuf", ".kml": "KML", ".gpx": "GPX", ".gml": "GML",
}


class GdalDataSourceWriter(DataSourceArrowWriter):
    """Two-phase write, one path for every driver: each write task
    encodes its own batches into a fragment of the final format
    (``sinks.columnar.encode_part``), and ``commit`` stitches the
    fragments in partition order and writes what depends on the whole
    layer — headers, field widths, charsets, numbering (single-writer
    formats like GeoJSON need that one driver-side step — reference
    discussion SURVEY §7.4.3). The format is resolved once, here, so an
    unknown driver fails before any task runs. ``partitioned=true``
    skips the stitch and leaves each task's GeoJSONSeq fragment as one
    NDJSON file of the output directory — the 100 TB escape hatch."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        from polars_gdal_spark.sinks.columnar import SIDECAR_FORMATS, resolve_format

        self.schema = schema
        self.options = dict(options)
        self.path = _opt(options, "path")
        self.overwrite = overwrite
        # `.gz` destination (write side of the reader's /vsigzip/
        # parity): stitch the inner format, then gzip the single
        # artifact. Only single-file outputs can wrap — sidecar formats
        # (Shapefile, MapInfo) and append/partitioned modes cannot.
        self.gzip_out = bool(self.path) and self.path.lower().endswith(".gz")
        inner = (self.path or "")[: -3 if self.gzip_out else None]
        ext = os.path.splitext(inner.lower())[1]
        self.driver_name = _opt(options, "driver", _SNIFFED_DRIVERS.get(ext, "GeoJSON"))
        self.fmt = resolve_format(self.driver_name, inner)
        self.partitioned = _bool_opt(options, "partitioned")
        # GeoPackage is a CONTAINER: mode("append") adds a NEW LAYER to
        # the existing dataset — the reference's layer-level write model
        # (gdal_layer_from_df writes one layer into a dataset,
        # src/lib.rs:499-573).
        self.append = not overwrite and bool(self.path) and os.path.exists(self.path)
        if self.append and self.fmt != "gpkg":
            # Single-file vector formats: the two-phase write would
            # silently REPLACE the resource (reference writers always
            # create, src/lib.rs:629-642) — refuse loudly.
            from polars_gdal_spark.errors import UpdateNotSupportedError

            raise UpdateNotSupportedError(
                f"cannot append to existing resource {self.path!r}: "
                "only GPKG supports mode('append') (a new layer); "
                "other drivers need mode('overwrite') or a fresh path"
            )
        self.geom_col = _opt(options, "geometryColumn", "geometry")
        self.gfmt = _opt(options, "geometryFormat")
        if self.gzip_out:
            if self.partitioned:
                raise ValueError(
                    "partitioned=true cannot combine with a .gz "
                    "destination (parts stay separate files)"
                )
            if self.append:
                raise ValueError("cannot append to a .gz destination")
            if self.fmt in SIDECAR_FORMATS:
                raise ValueError(
                    f"driver {self.driver_name!r} writes sidecar files "
                    "and cannot be wrapped in a single .gz member"
                )

        names = [f.name for f in schema.fields]
        if self.geom_col not in names:
            raise CannotFindGeometryColumnError(self.geom_col)
        # CRS: explicit option wins; else the geometry column's metadata
        # (carried by the reader) round-trips automatically.
        meta = schema[self.geom_col].metadata or {}
        if not _opt(options, "srs") and meta.get("crs"):
            self.options["srs"] = meta["crs"]
        gtype = schema[self.geom_col].dataType.simpleString()
        if self.gfmt is None:
            self.gfmt = "wkb" if gtype == "binary" else "wkt"
        expected = "binary" if self.gfmt == "wkb" else "string"
        if gtype != expected:
            raise GeometryColumnWrongTypeError(self.geom_col, expected, gtype)
        self.attr_cols = [n for n in names if n != self.geom_col]
        self.tmp_dir = self.path + ".parts.tmp"

    def write(self, iterator) -> GdalCommitMessage:
        from pyspark import TaskContext

        from polars_gdal_spark.sinks.columnar import encode_part, fragment_suffix

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        # Attempt-unique part names (FileCommitProtocol's reason to
        # exist): a retried or speculative attempt writes its OWN file,
        # so a still-running zombie attempt can never interleave bytes
        # into the file whose path the committed attempt reported.
        # commit() stitches exactly the committed attempts' paths;
        # failed-attempt leftovers die with the tmp dir in _cleanup().
        attempt = ctx.taskAttemptId()
        os.makedirs(self.tmp_dir, exist_ok=True)
        fmt = "geojsonseq" if self.partitioned else self.fmt
        part = os.path.join(self.tmp_dir, f"part-{pid:05d}-{attempt}") + fragment_suffix(fmt)
        n, summary = encode_part(
            fmt, iterator, part, self.options, self.schema, self.geom_col, self.gfmt,
        )
        if not n:
            os.remove(part)
        return GdalCommitMessage(part if n else None, n, summary)

    def commit(self, messages) -> None:
        from polars_gdal_spark.errors import EmptyDataframeError
        from polars_gdal_spark.sinks.columnar import stitch

        done = sorted(
            (m for m in messages if m is not None and m.part_path is not None),
            key=lambda m: m.part_path,
        )
        parts = [m.part_path for m in done]
        total = sum(m.count for m in messages if m is not None)
        if total == 0:
            self._cleanup()
            # reference rejects writing an empty frame (src/lib.rs:509-511)
            raise EmptyDataframeError("refusing to write an empty DataFrame")
        if self.partitioned:
            os.makedirs(self.path, exist_ok=True)
            for p in parts:
                os.replace(p, os.path.join(self.path, os.path.basename(p)))
            self._cleanup()
            return
        dest = self.path
        if self.gzip_out:
            # stitch to a temporary file, then gzip it to the final path
            dest = self.path[:-3] + f".tmp{os.getpid()}"
            self._gz_artifacts = (dest, self.path + f".tmp{os.getpid()}")
        stitch(
            self.fmt, parts, [m.summary for m in done], dest, self.options,
            self.schema, self.geom_col, append=self.append,
        )
        if self.gzip_out:
            import gzip as _gzip
            import shutil as _shutil

            # Compress to a temp name and rename onto the final path so a
            # mid-compress failure never leaves a corrupt partial .gz at
            # the destination; abort()/_cleanup() know both temp names.
            gz_tmp = self.path + f".tmp{os.getpid()}"
            try:
                with open(dest, "rb") as src, _gzip.open(
                    gz_tmp, "wb"
                ) as out:
                    _shutil.copyfileobj(src, out, 1 << 20)
                os.replace(gz_tmp, self.path)
            except BaseException:
                if os.path.exists(gz_tmp):
                    os.remove(gz_tmp)
                raise
            finally:
                if os.path.exists(dest):
                    os.remove(dest)
        # Committed parts were consumed (stitched or moved) — the tmp dir
        # now holds only failed-attempt leftovers; drop it in every mode
        # so zombie-attempt files never linger.
        self._cleanup()

    def abort(self, messages) -> None:
        self._cleanup()

    def _cleanup(self, keep_parts: bool = False) -> None:
        import shutil

        for p in getattr(self, "_gz_artifacts", ()):
            if os.path.exists(p):
                try:
                    os.remove(p)
                except OSError:
                    pass
        if not keep_parts and os.path.isdir(self.tmp_dir):
            shutil.rmtree(self.tmp_dir, ignore_errors=True)


class GdalDataSource(DataSource):
    """`format("gdal")` — see module docstring for options."""

    @classmethod
    def name(cls) -> str:
        return "gdal"

    def schema(self):
        return infer_schema(self.options)

    def reader(self, schema: StructType) -> GdalDataSourceReader:
        if _bool_opt(self.options, "pushdown"):
            return GdalPushdownReader(schema, self.options)
        return GdalDataSourceReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> GdalDataSourceWriter:
        return GdalDataSourceWriter(schema, self.options, overwrite)

    def streamReader(self, schema: StructType):
        """File-arrival micro-batch streaming over a directory of vector
        files (engine extension; the reference is batch-only, SURVEY §2.K).
        Full stream-reader API: the driver only lists filenames; each
        file's feature decode is an executor-side input partition."""
        from polars_gdal_spark.streaming import GdalStreamReader

        return GdalStreamReader(schema, self.options)
