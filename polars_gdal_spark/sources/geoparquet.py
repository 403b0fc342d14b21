"""GeoParquet read/write: parquet with the ``geo`` footer convention.

GeoParquet (OGC ``opengeospatial/geoparquet``, spec v1.1.0 — public) is
plain parquet plus one file-level key-value metadata entry ``geo`` whose
JSON names the geometry column(s), their encoding (WKB), geometry types,
and CRS (PROJJSON; absent/null = OGC:CRS84). It is the format a 2026
geospatial Spark user actually exchanges; the reference's own write
fixture carries the same convention (``cities.arrow``,
``src/test.rs:123-144``; SURVEY §1.2 maps it to Spark column metadata).

Spark's built-in parquet writer cannot attach file-level key-value
metadata, so this module implements ``format("geoparquet")`` as a Python
DataSource:

* **read** — schema comes from the parquet footer (pyarrow), the
  ``geo`` JSON is parsed on the driver and carried into the geometry
  ``StructField.metadata`` (``crs``, ``encoding``, ``geo`` raw JSON), so
  ``df.write.format("gdal")`` round-trips the CRS automatically. One
  input partition per parquet row group — the same split unit Spark's
  native scan uses, so 100 TB of parts parallelizes identically.
* **write** — each task streams its Arrow batches straight into its own
  ``part-*.parquet`` through ``pyarrow.parquet.ParquetWriter`` with the
  ``geo`` entry in every footer (self-describing parts; readers that
  look only at one footer — GDAL, DuckDB spatial, geopandas — see the
  metadata no matter which part they open first). No driver-side
  assembly: ``commit`` just moves the completed parts into the target
  directory, so the write path is embarrassingly parallel.

Options follow the ``gdal`` source's rules: ``bbox`` must be 4 finite
numbers ``minx,miny,maxx,maxy`` with ``minx <= maxx`` and
``miny <= maxy``, and the boolean options (reader ``pushdown``, writer
``covering``) take ``true`` or ``false`` in any case. Anything else
raises a ``ValueError`` that names the option and its value.

The payload stays a WKB ``BinaryType`` column named ``geometry`` —
identical bytes to the ``gdal`` source (reference ``src/lib.rs:390-393``)
— so every operator in this package composes with GeoParquet IO.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from polars_gdal_spark.sources.datasource import _bool_opt, _parse_bbox

GEO_KEY = b"geo"
SPEC_VERSION = "1.1.0"

# ISO WKB geometry type code -> GeoParquet geometry_types entry
_WKB_TYPE_NAMES = {
    1: "Point",
    2: "LineString",
    3: "Polygon",
    4: "MultiPoint",
    5: "MultiLineString",
    6: "MultiPolygon",
    7: "GeometryCollection",
}


def _type_name(code: int) -> str | None:
    base = code % 1000
    name = _WKB_TYPE_NAMES.get(base)
    if name is None:
        return None
    if code >= 3000:
        return f"{name} ZM"
    if code >= 2000:
        return f"{name} M"
    if code >= 1000:
        return f"{name} Z"
    return name


def _resolve_files(path: str) -> list[str]:
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not files:
            raise FileNotFoundError(f"no .parquet parts under {path!r}")
        return files
    if not os.path.exists(path):
        raise FileNotFoundError(path)
    return [path]


def _crs_to_projjson(crs: str | None):
    """Engine CRS string -> GeoParquet ``crs`` member. Lossless cases:
    OGC:CRS84 / EPSG:4326 map to null (the spec default); other
    ``AUTH:code`` strings become a PROJJSON identifier object (the
    spec's ``id`` member is the interoperable core; a full PROJJSON
    definition would need a proj database this sandbox doesn't ship);
    WKT strings are carried under ``wkt`` for round-trip."""
    if crs is None:
        return None
    s = str(crs).strip()
    if s.upper() in ("OGC:CRS84", "EPSG:4326", "CRS84", "4326", ""):
        return None
    if ":" in s and s.split(":")[-1].isdigit():
        auth, code = s.rsplit(":", 1)
        return {"id": {"authority": auth.upper() or "EPSG", "code": int(code)}}
    if s.isdigit():
        return {"id": {"authority": "EPSG", "code": int(s)}}
    return {"wkt": s}


def _projjson_to_crs(obj) -> str:
    if obj is None:
        return "OGC:CRS84"
    if isinstance(obj, dict):
        ident = obj.get("id")
        if isinstance(ident, dict) and "code" in ident:
            return f"{ident.get('authority', 'EPSG')}:{ident['code']}"
        if "wkt" in obj:
            return str(obj["wkt"])
    return "OGC:CRS84"


def _geo_meta_json(
    geom_col: str,
    crs: str | None,
    geometry_types: Sequence[str],
    bbox: Sequence[float] | None = None,
    covering_col: str | None = None,
) -> bytes:
    col: dict = {
        "encoding": "WKB",
        "geometry_types": sorted(geometry_types),
        "crs": _crs_to_projjson(crs),
    }
    if bbox is not None:
        col["bbox"] = list(bbox)
    if covering_col is not None:
        col["covering"] = {
            "bbox": {
                k: [covering_col, k] for k in ("xmin", "ymin", "xmax", "ymax")
            }
        }
    return json.dumps(
        {
            "version": SPEC_VERSION,
            "primary_column": geom_col,
            "columns": {geom_col: col},
        }
    ).encode()


def read_geo_footer(path: str) -> dict | None:
    """Parse the ``geo`` footer entry of a parquet file, merging across
    the parts of a directory: each part's footer lists only the
    geometry types IT observed (parts are written independently — no
    cross-task coordination on the write path), so the dataset-level
    view is the union. CRS/encoding come from the first part (parts of
    one write always agree). None when absent (plain parquet). Footer
    reads are metadata-only (no data pages), so this is one small read
    per part, once, at planning time."""
    import pyarrow.parquet as pq

    merged: dict | None = None
    for f in _resolve_files(path):
        kv = pq.ParquetFile(f).metadata.metadata or {}
        raw = kv.get(GEO_KEY)
        if not raw:
            continue
        geo = json.loads(raw.decode())
        if merged is None:
            merged = geo
            continue
        for name, col in geo.get("columns", {}).items():
            mcol = merged.setdefault("columns", {}).setdefault(name, col)
            mcol["geometry_types"] = sorted(
                set(mcol.get("geometry_types", []))
                | set(col.get("geometry_types", []))
            )
    return merged


@dataclass
class _RowGroupPartition(InputPartition):
    file: str
    row_group: int


class GeoParquetReader(DataSourceReader):
    """Row-group-partitioned scan with GeoParquet 1.1 ``covering``
    pruning: when the file declares a per-row bbox covering column
    (spec §covering — ``columns.<geom>.covering.bbox`` maps corner
    names to struct field paths) and the query passes a ``bbox``
    option, row groups whose parquet column statistics (min xmin /
    max xmax / …) miss the filter window are dropped at PLANNING time
    (metadata-only, no data pages touched) — the GeoParquet analogue of
    parquet min/max predicate pushdown. Surviving groups still get an
    exact per-row covering-intersects filter at scan time."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options.get("path")
        self.files = _resolve_files(self.path)
        self.bbox = _parse_bbox(options.get("bbox"))
        # covering paths: corner name -> "structcol.field" parquet path
        self.covering: dict[str, str] | None = None
        # exact-filter fallback geometry column (bbox w/o covering)
        self._bbox_geom_col: str | None = None
        if self.bbox is not None:
            geo = read_geo_footer(self.path) or {}
            primary = geo.get("primary_column", "geometry")
            cov = (
                geo.get("columns", {})
                .get(primary, {})
                .get("covering", {})
                .get("bbox")
            )
            if isinstance(cov, dict) and all(
                k in cov for k in ("xmin", "ymin", "xmax", "ymax")
            ):
                self.covering = {
                    k: ".".join(cov[k]) for k in ("xmin", "ymin", "xmax", "ymax")
                }
            else:
                # No covering declared: bbox must STILL filter (the GDAL
                # reference applies a spatial filter unconditionally —
                # silently returning the full dataset would make filter
                # semantics depend on how the file was written). Fall
                # back to an exact per-row WKB-envelope filter at scan
                # time; no row-group pruning (there are no bbox stats),
                # so this is correct-but-unpruned — write a covering
                # (spec §covering) to get planning-time pruning back.
                names = {f.name for f in self.schema.fields}
                if primary in names:
                    self._bbox_geom_col = primary
                else:
                    from polars_gdal_spark.errors import (
                        CannotFindGeometryColumnError,
                    )

                    raise CannotFindGeometryColumnError(
                        f"bbox option given but {self.path!r} declares no "
                        f"GeoParquet covering and has no geometry column "
                        f"{primary!r} to filter exactly"
                    )

    def _rg_intersects(self, md, rg: int) -> bool:
        """Row-group stats vs filter bbox; keep on any missing stat."""
        qx0, qy0, qx1, qy1 = self.bbox
        grp = md.row_group(rg)
        stats: dict[str, tuple] = {}
        for ci in range(grp.num_columns):
            col = grp.column(ci)
            if col.path_in_schema in self.covering.values():
                st = col.statistics
                if st is None or not st.has_min_max:
                    return True
                stats[col.path_in_schema] = (st.min, st.max)
        try:
            # group intersects query iff min(xmin) <= qx1, max(xmax) >= qx0 …
            return (
                stats[self.covering["xmin"]][0] <= qx1
                and stats[self.covering["xmax"]][1] >= qx0
                and stats[self.covering["ymin"]][0] <= qy1
                and stats[self.covering["ymax"]][1] >= qy0
            )
        except KeyError:
            return True  # covering columns absent from this part

    def partitions(self) -> Sequence[InputPartition]:
        import pyarrow.parquet as pq

        prune = self.bbox is not None and self.covering is not None
        parts = []
        for f in self.files:
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                if prune and not self._rg_intersects(md, rg):
                    continue
                parts.append(_RowGroupPartition(file=f, row_group=rg))
        # empty file set already raised; zero surviving row groups still
        # needs one partition so the scan yields an empty result
        return parts or [_RowGroupPartition(file=self.files[0], row_group=-1)]

    def read(self, partition: _RowGroupPartition) -> Iterator:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.file)
        names = [f.name for f in self.schema.fields]
        if partition.row_group < 0:
            return
        batches = pf.iter_batches(
            row_groups=[partition.row_group], columns=names
        )
        if self.bbox is None:
            yield from batches
            return
        if self.covering is not None:
            for batch in batches:
                yield self._covering_filter(batch)
            return
        for batch in batches:
            yield self._wkb_envelope_filter(batch)

    def _covering_filter(self, batch):
        """Exact per-row covering-intersects filter for the bbox option."""
        import pyarrow.compute as pc

        qx0, qy0, qx1, qy1 = self.bbox

        def corner(key):
            col, field = self.covering[key].split(".", 1)
            return pc.struct_field(batch.column(col), field)

        keep = pc.and_(
            pc.and_(
                pc.less_equal(corner("xmin"), qx1),
                pc.greater_equal(corner("xmax"), qx0),
            ),
            pc.and_(
                pc.less_equal(corner("ymin"), qy1),
                pc.greater_equal(corner("ymax"), qy0),
            ),
        )
        return batch.filter(keep)

    def _wkb_envelope_filter(self, batch):
        """Exact envelope-intersects filter decoded from the WKB itself —
        the bbox fallback for files without a GeoParquet covering. Null
        geometries are excluded, matching the gdal reader's ``bbox``
        semantics; empty geometries are excluded too (they have no
        envelope, GDAL's ``OGRLayer::FilterGeometry`` rule); undecodable
        WKB raises (loud, never silent rows)."""
        import pyarrow as pa

        from polars_gdal_spark.geometry import geom_bounds
        from polars_gdal_spark.geometry.wkb import wkb_to_geom

        qx0, qy0, qx1, qy1 = self.bbox
        keep = []
        for v in batch.column(self._bbox_geom_col):
            raw = v.as_py()
            bb = None if raw is None else geom_bounds(wkb_to_geom(bytes(raw)))
            if bb is None:
                keep.append(False)
                continue
            x0, y0, x1, y1 = bb
            keep.append(
                x0 <= qx1 and x1 >= qx0 and y0 <= qy1 and y1 >= qy0
            )
        return batch.filter(pa.array(keep, type=pa.bool_()))


class GeoParquetPushdownReader(GeoParquetReader):
    """Reader variant used only under ``option("pushdown", "true")`` —
    a SEPARATE class for the same reason as ``GdalPushdownReader``
    (Spark 4 asserts at plan time if the default reader merely defines
    ``pushFilters`` while the pushdown conf is off), and OPT-IN for the
    same reason (Spark caches the first-planned Python scan per
    DataFrame, so a pushed filter from query 1 would constrain query 2).

    Supported comparison filters translate to a pyarrow dataset
    expression used twice: ``split_by_row_group(filter)`` prunes row
    groups by parquet column STATISTICS at planning time (the min/max
    pushdown a native scan gets), and the scan applies the same
    expression exactly, so supported filters are fully consumed (not
    returned as residual). Unsupported filters stay with Spark.
    Composes with the GeoParquet ``covering`` bbox pruning."""

    _COMPARES = None  # populated lazily (import cost at worker fork)

    def pushFilters(self, filters):
        import pyarrow.compute as pc
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        ops = {
            EqualTo: lambda f, v: f == v,
            GreaterThan: lambda f, v: f > v,
            GreaterThanOrEqual: lambda f, v: f >= v,
            LessThan: lambda f, v: f < v,
            LessThanOrEqual: lambda f, v: f <= v,
        }
        exprs = []
        for flt in filters:
            op = ops.get(type(flt))
            if op is None or len(flt.attribute) != 1:
                yield flt  # Spark keeps evaluating this one
                continue
            exprs.append(op(pc.field(flt.attribute[0]), flt.value))
        if exprs:
            e = exprs[0]
            for x in exprs[1:]:
                e = e & x
            self._ds_filter = e

    def partitions(self) -> Sequence[InputPartition]:
        flt = getattr(self, "_ds_filter", None)
        if flt is None:
            return super().partitions()
        import pyarrow.dataset as pads
        import pyarrow.fs as pafs

        bbox_prune = self.bbox is not None and self.covering is not None
        parts = []
        fmt = pads.ParquetFileFormat()
        fs = pafs.LocalFileSystem()
        for f in self.files:
            frag = fmt.make_fragment(f, filesystem=fs)
            md = None
            if bbox_prune:
                import pyarrow.parquet as pq

                md = pq.ParquetFile(f).metadata  # one footer parse per file
            for sub in frag.split_by_row_group(flt, schema=frag.physical_schema):
                rg = sub.row_groups[0].id
                if md is not None and not self._rg_intersects(md, rg):
                    continue
                parts.append(_RowGroupPartition(file=f, row_group=rg))
        return parts or [_RowGroupPartition(file=self.files[0], row_group=-1)]

    def read(self, partition: _RowGroupPartition) -> Iterator:
        flt = getattr(self, "_ds_filter", None)
        if flt is None or partition.row_group < 0:
            yield from super().read(partition)
            return
        import pyarrow.dataset as pads
        import pyarrow.fs as pafs

        fmt = pads.ParquetFileFormat()
        frag = fmt.make_fragment(
            partition.file,
            filesystem=pafs.LocalFileSystem(),
            row_groups=[partition.row_group],
        )
        names = [f.name for f in self.schema.fields]
        table = frag.to_table(filter=flt, columns=names)
        for batch in table.to_batches():
            if self.bbox is not None and self.covering is not None:
                batch = self._covering_filter(batch)
            if batch.num_rows:
                yield batch


@dataclass
class _GeoParquetCommit(WriterCommitMessage):
    part_path: str | None
    count: int


class GeoParquetWriter(DataSourceArrowWriter):
    """Each task writes its own self-describing ``part-*.parquet`` (geo
    footer included); commit moves the completed parts into place."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self.schema = schema
        self.path = options.get("path")
        self.overwrite = overwrite
        self.geom_col = options.get("geometrycolumn", "geometry")
        names = [f.name for f in schema.fields]
        if self.geom_col not in names:
            raise ValueError(
                f"geometry column {self.geom_col!r} not in schema {names}"
            )
        gtype = schema[self.geom_col].dataType.simpleString()
        if gtype != "binary":
            raise ValueError(
                "GeoParquet writes WKB geometry: column "
                f"{self.geom_col!r} must be binary, got {gtype}"
            )
        meta = schema[self.geom_col].metadata or {}
        self.crs = options.get("crs", options.get("srs")) or meta.get("crs")
        # GeoParquet 1.1 optional `covering`: emit a per-row bbox struct
        # column + declare it, enabling row-group pruning in any
        # spec-aware reader (including this package's own bbox scan)
        self.covering = _bool_opt(options, "covering")
        if self.covering and "bbox" in names:
            raise ValueError(
                "covering=true writes a 'bbox' struct column, but the "
                "schema already has a 'bbox' column"
            )
        if os.path.exists(self.path) and not overwrite:
            raise ValueError(
                f"{self.path!r} exists; use mode('overwrite')"
            )
        self.tmp_dir = self.path.rstrip("/") + ".parts.tmp"

    def write(self, iterator) -> _GeoParquetCommit:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(self.tmp_dir, exist_ok=True)
        # Attempt-unique name: a retried/speculative attempt writes its
        # own file, so a zombie attempt can't interleave bytes into the
        # part the committed attempt reported (see GdalDataSourceWriter).
        part = os.path.join(
            self.tmp_dir, f"part-{pid:05d}-{ctx.taskAttemptId()}.parquet"
        )
        spill = part + ".arrow"
        # Parquet footers are written at close FROM the schema passed at
        # construction (pyarrow<18 has no post-hoc metadata API), but
        # the observed geometry_types aren't known until the last batch.
        # So: single pass streaming batches into a local Arrow IPC spill
        # (near-memcpy, no encode) while accumulating the types, then
        # one sequential re-read encodes the actual parquet with the
        # complete geo footer. The extra cost is one local-disk pass of
        # raw batches per task — the parquet encode dominates it.
        n = 0
        gtypes: set[str] = set()
        ipc = sink = None
        bbox_t = pa.struct(
            [(k, pa.float64()) for k in ("xmin", "ymin", "xmax", "ymax")]
        )

        def with_bbox(b: pa.RecordBatch) -> pa.RecordBatch:
            # per-row envelope from the WKB payload (opt-in slow path:
            # a Python WKB walk per row; the parquet encode it feeds
            # still dominates). Null or empty geometry -> null bbox.
            from polars_gdal_spark.geometry import geom_bounds, wkb_to_geom

            vals = []
            for v in b.column(self.geom_col):
                raw = v.as_py()
                bb = None if raw is None else geom_bounds(wkb_to_geom(bytes(raw)))
                vals.append(
                    None if bb is None
                    else dict(zip(("xmin", "ymin", "xmax", "ymax"), bb))
                )
            return pa.RecordBatch.from_arrays(
                list(b.columns) + [pa.array(vals, type=bbox_t)],
                schema=b.schema.append(pa.field("bbox", bbox_t)),
            )

        for batch in iterator:
            if self.covering:
                batch = with_bbox(batch)
            if ipc is None:
                sink = pa.OSFile(spill, "wb")
                ipc = pa.ipc.new_stream(sink, batch.schema)
            ipc.write_batch(batch)
            n += batch.num_rows
            # observed geometry types, vectorized: WKB bytes 1..5 hold
            # the LE type code; unique() keeps the Python loop at
            # O(distinct), not O(rows)
            col = batch.column(self.geom_col)
            codes = pc.unique(
                pc.binary_slice(col.cast(pa.binary()), 1, 5)
            ).to_pylist()
            for raw in codes:
                if raw is not None and len(raw) == 4:
                    name = _type_name(int.from_bytes(raw, "little"))
                    if name:
                        gtypes.add(name)
        if ipc is None:
            return _GeoParquetCommit(part_path=None, count=0)
        ipc.close()
        sink.close()
        geo = _geo_meta_json(
            self.geom_col,
            self.crs,
            gtypes,
            covering_col="bbox" if self.covering else None,
        )
        with pa.OSFile(spill, "rb") as src:
            reader = pa.ipc.open_stream(src)
            schema = reader.schema.with_metadata({GEO_KEY: geo})
            with pq.ParquetWriter(part, schema) as writer:
                for batch in reader:
                    writer.write_batch(
                        batch.replace_schema_metadata(schema.metadata)
                    )
        os.remove(spill)
        return _GeoParquetCommit(part_path=part, count=n)

    def commit(self, messages) -> None:
        parts = [
            m.part_path for m in messages if m is not None and m.part_path
        ]
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
        elif os.path.exists(self.path):
            os.remove(self.path)
        os.makedirs(self.path, exist_ok=True)
        for p in sorted(parts):
            shutil.move(p, os.path.join(self.path, os.path.basename(p)))
        shutil.rmtree(self.tmp_dir, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self.tmp_dir, ignore_errors=True)


def read_geoparquet(spark, path: str):
    """Helper: GeoParquet via Spark's NATIVE parquet scan (full filter
    pushdown / column pruning / row-group splitting — the fastest read
    path) with the ``geo`` footer attached as geometry-column metadata.
    ``format("geoparquet")`` reads through the Python DataSource instead;
    use this helper when scan performance matters more than going through
    one registered format name."""
    df = spark.read.parquet(path)
    geo = read_geo_footer(path)
    if geo:
        primary = geo.get("primary_column", "geometry")
        col = geo.get("columns", {}).get(primary, {})
        meta = {"encoding": col.get("encoding", "WKB").lower()}
        crs = col.get("crs")
        if crs is not None:
            meta["crs"] = _projjson_to_crs(crs)
        if primary in df.columns:
            df = df.withMetadata(primary, meta)
    return df


def write_geoparquet(
    df,
    path: str,
    geometry_column: str = "geometry",
    crs: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Helper: distributed GeoParquet write through
    ``format("geoparquet")`` — every part file carries the ``geo``
    footer as it is written (no driver-side footer-rewrite pass, unlike
    a stamp-after-native-write approach: at 100 TB rewriting every part
    through the driver IS the job)."""
    if geometry_column not in df.columns:
        from polars_gdal_spark.errors import CannotFindGeometryColumnError

        raise CannotFindGeometryColumnError(geometry_column)
    from polars_gdal_spark import register_gdal_source

    register_gdal_source(df.sparkSession)
    writer = (
        df.write.format("geoparquet")
        .mode(mode)
        .option("geometrycolumn", geometry_column)
    )
    if crs:
        writer = writer.option("crs", crs)
    writer.save(path)


class GeoParquetDataSource(DataSource):
    """``format("geoparquet")`` — parquet + ``geo`` footer metadata."""

    @classmethod
    def name(cls) -> str:
        return "geoparquet"

    def schema(self) -> StructType:
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_schema

        path = self.options.get("path")
        first = _resolve_files(path)[0]
        arrow_schema = pq.read_schema(first)
        spark_schema = from_arrow_schema(
            arrow_schema, prefer_timestamp_ntz=True
        )
        geo = read_geo_footer(path)
        if not geo:
            return spark_schema
        fields = []
        for f in spark_schema.fields:
            col = geo.get("columns", {}).get(f.name)
            if col is not None:
                f = f.__class__(
                    f.name,
                    f.dataType,
                    f.nullable,
                    {
                        "crs": _projjson_to_crs(col.get("crs")),
                        "encoding": col.get("encoding", "WKB"),
                        "geo": json.dumps(geo),
                    },
                )
            fields.append(f)
        return StructType(fields)

    def reader(self, schema: StructType) -> GeoParquetReader:
        if _bool_opt(self.options, "pushdown"):
            return GeoParquetPushdownReader(schema, self.options)
        return GeoParquetReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> GeoParquetWriter:
        return GeoParquetWriter(schema, self.options, overwrite)
