"""Seeded vector layers for the ``vector_io`` workload.

Two layers are built from the seed with numpy alone: ``points`` and
``polygons`` (7 distinct vertices, one clockwise ring), each with the same
five attributes. Geometry WKB is packed here byte by byte, independently of
the engine's codecs, so the digest checks the engine against an outside
encoding.

The scan inputs are written through the engine's own sinks into eight
formats: ``sinks.assemble`` for the seven ``gdal`` drivers and
``df.write.format("geoparquet")`` for GeoParquet. A manifest records, per
layer and per filtered subset, the feature count and an order-independent
digest of (attributes, WKB). Files and manifest are cached per seed and
size under the benchmark's output directory.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from spec import POINTS, POLYGONS

#: (key, gdal driver name or None for geoparquet, file extension)
FORMATS = (
    ("geojson", "GeoJSON", ".geojson"),
    ("geojsonseq", "GeoJSONSeq", ".geojsonl"),
    ("csv", "CSV", ".csv"),
    ("shp", "ESRI Shapefile", ".shp"),
    ("fgb", "FlatGeobuf", ".fgb"),
    ("gpkg", "GPKG", ".gpkg"),
    ("arrow", "Arrow", ".arrow"),
    ("geoparquet", None, ".parquet"),
)
FORMAT_KEYS = tuple(f[0] for f in FORMATS)
DRIVER = {k: d for k, d, _ in FORMATS}
EXT = {k: e for k, _, e in FORMATS}
LAYERS = ("points", "polygons")
#: GDAL open options a reader of each format needs for these files
READ_OPTIONS = {"csv": {"geom_possible_names": "geometry"}}

#: attribute name -> Spark type; names fit dBase's 10 characters
ATTRS = (("rid", "bigint"), ("cat", "string"), ("val", "double"),
         ("qty", "bigint"), ("name", "string"))
CATS = ("road", "river", "park", "school", "shop", "farm", "lake", "rail",
        "port", "mine", "fort", "mill")
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

#: pushed attribute filter and bbox window of the filtered scans
QTY_BELOW = 250
BBOX = (-60.0, -30.0, 60.0, 30.0)
POLY_VERTICES = 7
#: bump when the files or the manifest change, so old caches are not reused
CACHE_VERSION = 2


def layer_sizes(scale: float) -> dict[str, int]:
    """Feature counts per layer at a size scale (1.0 = the benchmark's)."""
    return {"points": max(16, int(POINTS * scale)),
            "polygons": max(16, int(POLYGONS * scale))}


def _attributes(rng: np.random.Generator, n: int) -> dict[str, list]:
    lens = rng.integers(4, 11, n)
    chars = LETTERS[rng.integers(0, 26, (n, 10))]
    return {
        "rid": np.arange(n, dtype=np.int64),
        "cat": np.array(CATS)[rng.integers(0, len(CATS), n)].tolist(),
        # three decimals: every text and dBase encoding round-trips them
        "val": np.round(rng.uniform(-1000.0, 1000.0, n), 3),
        "qty": rng.integers(0, 1000, n).astype(np.int64),
        "name": ["".join(row[:k]) for row, k in zip(chars, lens)],
    }


def _records_to_bytes(rec: np.ndarray) -> list[bytes]:
    size, raw = rec.dtype.itemsize, rec.tobytes()
    return [raw[i * size:(i + 1) * size] for i in range(len(rec))]


def _point_wkb(x: np.ndarray, y: np.ndarray) -> list[bytes]:
    rec = np.zeros(len(x), dtype=[("bo", "u1"), ("t", "<u4"),
                                  ("x", "<f8"), ("y", "<f8")])
    rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, x, y
    return _records_to_bytes(rec)


def _polygon_wkb(xs: np.ndarray, ys: np.ndarray) -> list[bytes]:
    """ISO WKB polygons, one closed ring per row of ``xs``/``ys``."""
    n, k = xs.shape
    rec = np.zeros(n, dtype=[("bo", "u1"), ("t", "<u4"), ("nr", "<u4"),
                             ("np", "<u4"), ("xy", "<f8", (k, 2))])
    rec["bo"], rec["t"], rec["nr"], rec["np"] = 1, 3, 1, k
    rec["xy"][:, :, 0], rec["xy"][:, :, 1] = xs, ys
    return _records_to_bytes(rec)


def make_layers(seed: int, scale: float = 1.0) -> dict[str, dict]:
    """Both layers: {layer: {"table": pa.Table, "env": (n, 4) envelopes}}."""
    rng = np.random.default_rng(seed)
    sizes = layer_sizes(scale)
    n = sizes["points"]
    x = np.round(rng.uniform(-180.0, 180.0, n), 6)
    y = np.round(rng.uniform(-85.0, 85.0, n), 6)
    points = _table(_attributes(rng, n), _point_wkb(x, y))

    n = sizes["polygons"]
    cx = rng.uniform(-175.0, 175.0, n)[:, None]
    cy = rng.uniform(-80.0, 80.0, n)[:, None]
    # one vertex per angular sector keeps every gap below pi, so the star
    # polygon holds its centre and descending angles trace it clockwise:
    # the orientation every writer, shapefile included, keeps as is
    sector = 2 * np.pi / POLY_VERTICES
    ang = -(np.arange(POLY_VERTICES)
            + rng.uniform(0.05, 0.95, (n, POLY_VERTICES))) * sector
    rad = rng.uniform(0.2, 2.0, (n, POLY_VERTICES))
    px = np.round(cx + rad * np.cos(ang), 6)
    py = np.round(cy + rad * np.sin(ang), 6)
    px = np.concatenate([px, px[:, :1]], axis=1)
    py = np.concatenate([py, py[:, :1]], axis=1)
    polygons = _table(_attributes(rng, n), _polygon_wkb(px, py))
    return {
        "points": {"table": points, "env": np.stack([x, y, x, y], axis=1)},
        "polygons": {"table": polygons, "env": np.stack(
            [px.min(1), py.min(1), px.max(1), py.max(1)], axis=1)},
    }


def _table(cols: dict, wkb: list[bytes]) -> pa.Table:
    types = {"bigint": pa.int64(), "double": pa.float64(), "string": pa.string()}
    arrays = [pa.array(cols[a], type=types[t]) for a, t in ATTRS]
    arrays.append(pa.array(wkb, type=pa.binary()))
    return pa.table(arrays, names=[a for a, _ in ATTRS] + ["geometry"])


def spark_schema():
    from pyspark.sql.types import StructType

    from polars_gdal_spark.sources.datasource import _parse_ddl_type

    st = StructType()
    for a, t in ATTRS:
        st.add(a, _parse_ddl_type(t), True)
    st.add("geometry", _parse_ddl_type("binary"), True)
    return st


def _digest_expr():
    """Order-independent digest of canonical (attributes, WKB): each
    attribute is cast to its declared type, so a text format that reads
    numbers back as strings digests equal when the values are equal."""
    from pyspark.sql import functions as F

    cols = [F.col(a).cast(t) for a, t in ATTRS] + [F.col("geometry")]
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def digest(df) -> dict:
    """{"count", "digest"} of a DataFrame holding one layer."""
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)).alias("n"), _digest_expr().alias("h")).first()
    return {"count": int(row["n"]), "digest": str(row["h"])}


def canonical(table: pa.Table) -> pa.Table:
    """A read-back table cast to the layers' schema; text formats return
    numbers as strings, which must parse back to the same values."""
    return table.select([a for a, _ in ATTRS] + ["geometry"]).cast(
        _table({a: [] for a, _ in ATTRS}, []).schema)


def digest_tables(spark, tables: dict[str, pa.Table]) -> dict[str, dict]:
    """{"count", "digest"} of each in-memory table, in one Spark job."""
    from pyspark.sql import functions as F

    parts = [t.append_column("subset", pa.array([k] * t.num_rows, pa.string()))
             for k, t in tables.items()]
    df = spark.createDataFrame(pa.concat_tables(parts))
    rows = df.groupBy("subset").agg(F.count(F.lit(1)).alias("n"),
                                    _digest_expr().alias("h")).collect()
    out = {k: {"count": 0, "digest": "None"} for k in tables}
    out.update({r["subset"]: {"count": int(r["n"]), "digest": str(r["h"])}
                for r in rows})
    return out


def subsets(layers: dict[str, dict]) -> dict[str, pa.Table]:
    """The checked subsets: each layer, its bbox window, its qty filter."""
    out = {}
    for layer, d in layers.items():
        t, env = d["table"], d["env"]
        keep = ~((env[:, 2] < BBOX[0]) | (env[:, 0] > BBOX[2])
                 | (env[:, 3] < BBOX[1]) | (env[:, 1] > BBOX[3]))
        out[layer] = t
        out[layer + ":bbox"] = t.filter(pa.array(keep))
        out[layer + ":filter"] = t.filter(
            pc.less(t["qty"], pa.scalar(QTY_BELOW, pa.int64())))
    return out


def build_manifest(spark, layers: dict[str, dict]) -> dict:
    """Expected count and digest of every checked subset, in one job; the
    ``all`` subsets cover both layers (digests add up, being sums)."""
    man = digest_tables(spark, subsets(layers))
    for suffix in ("", ":bbox", ":filter"):
        got = [man[layer + suffix] for layer in LAYERS]
        man["all" + suffix] = {
            "count": sum(g["count"] for g in got),
            "digest": str(sum(int(g["digest"]) for g in got))}
    return man


def file_path(root: str, layer: str, fmt: str) -> str:
    """One layer's file; GeoParquet keeps both layers in one dataset
    directory, ``root/geoparquet``, as the scan reads them together."""
    if fmt == "geoparquet":
        return os.path.join(root, fmt)
    return os.path.join(root, fmt, layer + EXT[fmt])


def stage_parts(table: pa.Table, parts_dir: str, nparts: int = 1) -> list[str]:
    """Arrow IPC part files like the ones the gdal writer's tasks stage."""
    os.makedirs(parts_dir, exist_ok=True)
    step = -(-table.num_rows // nparts)
    paths = []
    for i in range(nparts):
        part = os.path.join(parts_dir, f"part-{i:05d}.arrow")
        with pa.OSFile(part, "wb") as sink, \
                pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table.slice(i * step, step), max_chunksize=4096)
        paths.append(part)
    return paths


def write_layer(spark, table: pa.Table, path: str, fmt: str, parts_dir: str):
    """Write one layer in one format through the engine's sinks."""
    if fmt == "geoparquet":
        spark.createDataFrame(table).write.format("geoparquet") \
            .mode("overwrite").save(path)
        return
    from polars_gdal_spark.sinks import assemble

    parts = stage_parts(table, parts_dir)
    assemble(DRIVER[fmt], parts, path, {}, spark_schema(), "geometry")
    shutil.rmtree(parts_dir, ignore_errors=True)


def ensure_manifest(spark, cache_root: str, seed: int, scale: float):
    """(root, manifest, layers) for ``seed``; the manifest is built on a
    miss. ``root`` is this seed's cache directory."""
    root = os.path.join(cache_root,
                        f"vector-v{CACHE_VERSION}-seed{seed}-x{scale:g}")
    layers = make_layers(seed, scale)
    path = os.path.join(root, "manifest.json")
    if os.path.exists(path):
        with open(path) as f:
            return root, json.load(f), layers
    os.makedirs(root, exist_ok=True)
    manifest = {"seed": seed, "scale": scale, "sizes": layer_sizes(scale),
                "subsets": build_manifest(spark, layers)}
    _atomic_json(path, manifest)
    return root, manifest, layers


def ensure_files(spark, root: str, layers: dict[str, dict]) -> None:
    """Write both layers in the eight formats under ``root/<format>/``
    once: a file per layer, and for GeoParquet one dataset of both."""
    done = os.path.join(root, "files.done")
    if os.path.exists(done):
        return
    both = pa.concat_tables([layers[l]["table"] for l in LAYERS])
    for fmt in FORMAT_KEYS:
        shutil.rmtree(os.path.join(root, fmt), ignore_errors=True)
        if fmt == "geoparquet":
            write_layer(spark, both, file_path(root, "", fmt), fmt, "")
            continue
        os.makedirs(os.path.join(root, fmt))
        for layer in LAYERS:
            write_layer(spark, layers[layer]["table"],
                        file_path(root, layer, fmt), fmt,
                        os.path.join(root, "_parts"))
    _atomic_json(done, {})


def _atomic_json(path: str, obj) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def prune(cache_root: str, prefix: str, keep: int) -> None:
    """Drop all but the ``keep`` most recent cache dirs named ``prefix*``."""
    if not os.path.isdir(cache_root):
        return
    dirs = [os.path.join(cache_root, d) for d in os.listdir(cache_root)
            if d.startswith(prefix)]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def path_bytes(path: str) -> int:
    """Bytes of a file, of a shapefile with its sidecars, or of a directory."""
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(path) for f in fs)
    if path.endswith(".shp"):
        stem = path[:-4]
        return sum(os.path.getsize(stem + s)
                   for s in (".shp", ".shx", ".dbf", ".prj", ".cpg")
                   if os.path.exists(stem + s))
    return os.path.getsize(path)
