"""Measurements taken from outside the engine.

* ``PeakRss`` samples the resident memory of this process and all its
  descendants (JVM, Python workers) from ``/proc``.
* ``read_in_process`` drives a DataSource the way a Spark task would, in
  this process and on one thread, and times each call into it.
* ``codec_times`` and ``assemble_times`` time the geometry codecs and the
  driver-side sink commit on the workload's own data.
* ``canary`` is a fixed-work Spark job whose time depends on host load only.
"""

from __future__ import annotations

import os
import platform
import statistics
import threading
import time

import pyarrow as pa

import vector_data as V


def process_start_epoch() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Background sampler of the process tree's summed resident memory."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_bytes / 2**20

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.tree_rss())
            self._stop.wait(self.interval)

    def _scan(self) -> tuple[dict[int, list[int]], dict[int, int]]:
        """(parent pid -> child pids, pid -> resident bytes) from /proc."""
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended between listdir and open
                continue
            pid = int(name)
            children.setdefault(int(rest[1]), []).append(pid)
            rss[pid] = int(rest[21]) * self._page
        return children, rss

    def descendants(self) -> list[int]:
        children, _ = self._scan()
        out, todo = [], list(children.get(os.getpid(), ()))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def tree_rss(self) -> int:
        children, rss = self._scan()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pa.__version__,
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
    }


def canary(spark) -> float:
    """Seconds of one fixed-work job: generated rows, one shuffle, no input.

    The same shape as ``bench.py``'s ``_canary_once``, sized for a run."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    n = (spark.range(0, 1_000_000, 1, 4)
         .groupBy((F.col("id") % 100_000).alias("k")).count().count())
    if n != 100_000:
        raise RuntimeError(f"canary computed {n} groups, expected 100000")
    return time.perf_counter() - t0


# ------------------------------------------------------------- reader path


def reader_options(fmt: str, path: str, kind: str = "full") -> dict:
    """DataSource options of one scan; keys lower-case as Spark passes them."""
    opts = {"path": path}
    opts.update({k.lower(): v for k, v in V.READ_OPTIONS.get(fmt, {}).items()})
    if kind == "bbox":
        opts["bbox"] = ",".join(repr(v) for v in V.BBOX)
    elif kind == "filter":
        opts["pushdown"] = "true"
    return opts


def read_in_process(fmt: str, path: str, kind: str = "full"):
    """Read every partition of one scan in this process.

    Returns (table, stats) where stats holds ``schema_s``,
    ``partitions_s``, ``splits``, ``decode_s``, ``rows`` and ``fast_rows``
    (rows that came from the columnar ``iter_arrow_batches`` path)."""
    from pyspark.sql.datasource import LessThan

    from polars_gdal_spark.sources.datasource import GdalDataSource
    from polars_gdal_spark.sources.geoparquet import GeoParquetDataSource

    gdal = fmt != "geoparquet"
    ds = (GdalDataSource if gdal else GeoParquetDataSource)(
        reader_options(fmt, path, kind))
    t0 = time.perf_counter()
    schema = ds.schema()
    t1 = time.perf_counter()
    reader = ds.reader(schema)
    if kind == "filter":
        list(reader.pushFilters([LessThan(("qty",), V.QTY_BELOW)]))
    t2 = time.perf_counter()
    parts = reader.partitions()
    t3 = time.perf_counter()
    pa_schema = reader._arrow_schema() if gdal else None
    batches, decode_s, fast_rows = [], 0.0, 0
    for part in parts:
        fast = not gdal or reader._columnar_batches(part, pa_schema) is not None
        s = time.perf_counter()
        got = list(reader.read(part))
        decode_s += time.perf_counter() - s
        rows = sum(b.num_rows for b in got)
        fast_rows += rows if fast else 0
        batches.extend(b for b in got if b.num_rows)
    table = (pa.Table.from_batches(batches) if batches
             else pa.table({"rid": pa.array([], pa.int64())}))
    stats = {"schema_s": t1 - t0, "partitions_s": t3 - t2,
             "splits": len(parts), "decode_s": decode_s,
             "rows": table.num_rows, "fast_rows": fast_rows}
    return table, stats


# ------------------------------------------------------- codecs and sinks


def _median_time(fn, repeats: int = 3) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def codec_times(layers: dict) -> dict:
    """Seconds per codec and geometry kind over the layers' geometries."""
    from polars_gdal_spark import geometry as G

    out = {}
    for layer, kind in (("points", "point"), ("polygons", "polygon")):
        wkbs = layers[layer]["table"]["geometry"].to_pylist()
        geoms = [G.wkb_to_geom(b) for b in wkbs]
        out[f"geometry.wkb_decode_s.{kind}"] = _median_time(
            lambda: [G.wkb_to_geom(b) for b in wkbs])
        out[f"geometry.wkb_encode_s.{kind}"] = _median_time(
            lambda: [G.geom_to_wkb(g) for g in geoms])
        out[f"geometry.wkt_encode_s.{kind}"] = _median_time(
            lambda: [G.geom_to_wkt(g) for g in geoms])
        out[f"geometry.geojson_encode_s.{kind}"] = _median_time(
            lambda: [G.geom_to_geojson(g) for g in geoms])
    return out


def assemble_time(fmt: str, table: pa.Table, dest: str, nparts: int) -> float:
    """Seconds of ``sinks.assemble`` writing ``table`` as ``fmt`` to
    ``dest``, from IPC parts staged the way ``nparts`` write tasks would."""
    import shutil

    from polars_gdal_spark.sinks import assemble

    parts_dir = dest + ".parts"
    parts = V.stage_parts(table, parts_dir, nparts)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    try:
        t0 = time.perf_counter()
        assemble(V.DRIVER[fmt], parts, dest, {}, V.spark_schema(), "geometry")
        return time.perf_counter() - t0
    finally:
        shutil.rmtree(parts_dir, ignore_errors=True)
