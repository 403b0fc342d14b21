"""The two workloads: what one pass runs, and how each output is checked.

Every workload exposes the same small surface to ``run.py``:

* ``prepare(spark)`` builds or loads the seeded inputs (untimed);
* ``ops`` is the fixed list of ops of one pass;
* ``warm_up(spark)`` runs untimed work that warms the session's Python
  workers and JIT, checks what it produces, and returns (ops run, reasons);
* ``run_op(spark, op)`` is the timed body of an op; a scan checks its own
  output there, as its digest is what the op computes;
* ``after_pass(spark)`` checks what a timed pass left behind (untimed);
* ``features(op)`` and ``out_bytes_per_feature()`` feed the headline;
* ``layer_probes(spark, walls)`` makes the in-process layer calls of a
  traced run.

A check returns ``None`` when the output matches, else a one-line reason.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
from dataclasses import dataclass

import pyarrow as pa

import probes
import spec
import vector_data as V


@dataclass
class Op:
    name: str
    fmt: str = ""
    layer: str = ""
    kind: str = "full"  # full | bbox | filter

    @property
    def subset(self) -> str:
        return self.layer if self.kind == "full" else f"{self.layer}:{self.kind}"


@dataclass
class Context:
    seed: int
    scale: float
    cache: str  # per-seed inputs, kept across runs
    work: str  # this run's scratch outputs
    corrupt: bool = False


def _compare(name: str, got: dict, want: dict) -> str | None:
    if got == want:
        return None
    return f"{name}: got {got}, expected {want}"


class VectorScan:
    """Scan ops: each scans one format's files of both layers together,
    through the format's Spark source, down to the (count, digest)
    aggregate: every column of every row crosses into the JVM, as with the
    noop sink, and the op's output is checked against the manifest."""

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def prepare(self, spark) -> None:
        self.root, self.manifest, self.layers = V.ensure_manifest(
            spark, self.ctx.cache, self.ctx.seed, self.ctx.scale)
        V.ensure_files(spark, self.root, self.layers)
        V.prune(self.ctx.cache, "vector-", keep=2)
        self.paths = {f: os.path.join(self.root, f) for f in V.FORMAT_KEYS}
        self.ops = [Op(f"scan.{f}", f, "all") for f in V.FORMAT_KEYS]
        # the filtered scans take the row path (a full GeoJSONSeq scan
        # takes the columnar one) on a format that splits large files
        self.ops += [Op("scan_bbox.csv", "csv", "all", "bbox"),
                     Op("scan_filter.csv", "csv", "all", "filter")]
        if self.ctx.corrupt:
            self.paths["geojson"] = self._corrupted_copy()

    def _corrupted_copy(self) -> str:
        """A copy of the GeoJSON files with one attribute value changed."""
        dst = os.path.join(self.ctx.work, "corrupt", "geojson")
        shutil.copytree(self.paths["geojson"], dst)
        path = V.file_path(os.path.dirname(dst), "points", "geojson")
        with open(path) as f:
            text = f.read()
        with open(path, "w") as f:
            f.write(text.replace('"qty": ', '"qty": 1', 1))
        return dst

    def load(self, spark, op: Op, **options):
        from pyspark.sql import functions as F

        path = self.paths[op.fmt]
        reader = spark.read.format("geoparquet" if op.fmt == "geoparquet"
                                   else "gdal")
        options.update(probes.reader_options(op.fmt, path, op.kind))
        for k, v in options.items():
            if k != "path":
                reader = reader.option(k, v)
        df = reader.load(path)
        if op.kind == "filter":
            df = df.filter(F.col("qty") < V.QTY_BELOW)
        return df

    def run_op(self, spark, op: Op) -> str | None:
        return _compare(op.name, V.digest(self.load(spark, op)),
                        self.manifest["subsets"][op.subset])

    def warm_up(self, spark) -> tuple[int, list[str]]:
        """A shapefile scan in one task per core, which starts a Python
        worker on every core, then every filtered scan once: their first
        run pays one-off costs that would otherwise land in the timed pass."""
        op = Op("warm.shp", "shp", "all")
        cores = str(spark.sparkContext.defaultParallelism)
        df = self.load(spark, op, targetPartitions=cores)
        reasons = [_compare(op.name, V.digest(df), self.manifest["subsets"]["all"])]
        filtered = [o for o in self.ops if o.kind != "full"]
        reasons += [self.run_op(spark, o) for o in filtered]
        return 1 + len(filtered), [r for r in reasons if r]

    def after_pass(self, spark) -> list[str]:
        return []

    def features(self, op: Op) -> int:
        return self.manifest["subsets"][op.subset]["count"]

    def out_bytes_per_feature(self) -> float:
        total = sum(V.path_bytes(p) for p in self.paths.values())
        return total / sum(self.manifest["sizes"].values())

    def layer_probes(self, spark, walls: dict[str, float]) -> dict:
        out = {}
        for fmt in V.FORMAT_KEYS:
            acc = {"schema_s": 0.0, "partitions_s": 0.0, "splits": 0,
                   "decode_s": 0.0, "rows": 0, "fast_rows": 0}
            for op in (o for o in self.ops if o.fmt == fmt):
                _, st = probes.read_in_process(fmt, self.paths[fmt], op.kind)
                for k in acc:
                    acc[k] += st[k]
            nbytes = V.path_bytes(self.paths[fmt])
            if fmt == "geoparquet":
                pre = "sources.geoparquet."
                for k in ("schema_s", "partitions_s", "splits", "decode_s"):
                    out[pre + k] = acc[k]
                out[pre + "bytes_in"] = nbytes
                continue
            for k in ("schema_s", "partitions_s", "splits"):
                out[f"sources.datasource.{k}.{fmt}"] = acc[k]
            out[f"sources.datasource.fast_path_frac.{fmt}"] = (
                acc["fast_rows"] / acc["rows"] if acc["rows"] else 0.0)
            out[f"sources.formats.decode_s.{fmt}"] = acc["decode_s"]
            out[f"sources.formats.bytes_in.{fmt}"] = nbytes
        return out


class VectorWrite:
    """Write ops: each writes the checkpointed features to one format, both
    layers in one file, except ESRI Shapefile, which holds one geometry
    type per file and so gets one op per layer."""

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def prepare(self, spark) -> None:
        _, self.manifest, self.layers = V.ensure_manifest(
            spark, self.ctx.cache, self.ctx.seed, self.ctx.scale)
        V.prune(self.ctx.cache, "vector-", keep=2)
        self.tables = {l: self.layers[l]["table"] for l in V.LAYERS}
        self.tables["all"] = pa.concat_tables(list(self.tables.values()))
        self.frames = {k: spark.createDataFrame(t).localCheckpoint(eager=True)
                       for k, t in self.tables.items()}
        self.root = os.path.join(self.ctx.work, "written")
        for fmt in V.FORMAT_KEYS:
            os.makedirs(os.path.join(self.root, fmt), exist_ok=True)
        self.ops = [Op(f"write.{f}", f, "all") for f in V.FORMAT_KEYS
                    if f != "shp"]
        self.ops += [Op(f"write.shp.{l}", "shp", l) for l in V.LAYERS]

    def path(self, op: Op) -> str:
        return os.path.join(self.root, op.fmt, op.layer + V.EXT[op.fmt])

    def run_op(self, spark, op: Op) -> str | None:
        df = self.frames[op.layer]
        if op.fmt == "geoparquet":
            w = df.write.format("geoparquet")
        else:
            w = df.write.format("gdal").option("driver", V.DRIVER[op.fmt])
        w.mode("overwrite").save(self.path(op))
        return None

    def verify(self, spark, ops: list[Op]) -> list[str]:
        """Read the written files back in process and digest them."""
        reasons, tables = [], {}
        for op in ops:
            try:
                table, _ = probes.read_in_process(op.fmt, self.path(op))
                tables[op.name] = V.canonical(table)
            except Exception as e:  # noqa: BLE001 - unreadable output fails its check
                reasons.append(f"{op.name}: read back failed: {e!r}")
        got = V.digest_tables(spark, tables) if tables else {}
        for op in ops:
            if op.name in got:
                reason = _compare(op.name, got[op.name],
                                  self.manifest["subsets"][op.subset])
                if reason:
                    reasons.append(reason)
        return reasons

    def warm_up(self, spark) -> tuple[int, list[str]]:
        self.run_op(spark, self.ops[0])
        return 1, self.verify(spark, self.ops[:1])

    def after_pass(self, spark) -> list[str]:
        if self.ctx.corrupt:
            self._corrupt_one()
        return self.verify(spark, self.ops)

    def _corrupt_one(self) -> None:
        path = self.path(Op("", "geojsonseq", "all"))
        with open(path) as f:
            text = f.read()
        with open(path, "w") as f:
            f.write(text.replace('"qty": ', '"qty": 1', 1))

    def features(self, op: Op) -> int:
        return self.manifest["subsets"][op.subset]["count"]

    def out_bytes_per_feature(self) -> float:
        total = sum(V.path_bytes(self.path(op)) for op in self.ops)
        return total / sum(self.manifest["sizes"].values())

    def layer_probes(self, spark, walls: dict[str, float]) -> dict:
        out = {}
        work = os.path.join(self.ctx.work, "assemble")
        for fmt in V.FORMAT_KEYS:
            ops = [o for o in self.ops if o.fmt == fmt]
            if V.DRIVER[fmt] is not None:
                out[f"sinks.assemble_s.{fmt}"] = sum(
                    probes.assemble_time(
                        fmt, self.tables[o.subset],
                        os.path.join(work, fmt, o.subset + V.EXT[fmt]),
                        self.frames[o.subset].rdd.getNumPartitions())
                    for o in ops)
            out[f"sinks.parts_s.{fmt}"] = (
                sum(walls.get(o.name, 0.0) for o in ops)
                - out.get(f"sinks.assemble_s.{fmt}", 0.0))
            out[f"sinks.bytes_out.{fmt}"] = sum(V.path_bytes(self.path(o))
                                                for o in ops)
        return out


class VectorIO:
    """The ``vector_io`` workload: one pass runs every scan op, then every
    write op, on the same seeded layers. Both halves share the geometry
    codecs; the per-op detail and the per-layer metrics keep them apart."""

    name = "vector_io"
    data_before_setup = False

    def __init__(self, ctx: Context):
        self.scan, self.write = VectorScan(ctx), VectorWrite(ctx)

    def prepare(self, spark) -> None:
        self.scan.prepare(spark)
        self.write.prepare(spark)
        self.owner = {op.name: part for part in (self.scan, self.write)
                      for op in part.ops}
        self.ops = self.scan.ops + self.write.ops

    # the session a traced run restarts into needs fresh checkpoints
    def reprepare(self, spark) -> None:
        self.write.prepare(spark)

    def run_op(self, spark, op: Op) -> str | None:
        return self.owner[op.name].run_op(spark, op)

    def warm_up(self, spark) -> tuple[int, list[str]]:
        n_scan, scan_reasons = self.scan.warm_up(spark)
        n_write, write_reasons = self.write.warm_up(spark)
        return n_scan + n_write, scan_reasons + write_reasons

    def after_pass(self, spark) -> list[str]:
        return self.write.after_pass(spark)

    def features(self, op: Op) -> int:
        return self.owner[op.name].features(op)

    def out_bytes_per_feature(self) -> float:
        return self.write.out_bytes_per_feature()

    def layer_probes(self, spark, walls: dict[str, float]) -> dict:
        out = probes.codec_times(self.scan.layers)
        out.update(self.scan.layer_probes(spark, walls))
        out.update(self.write.layer_probes(spark, walls))
        return out


class Registry:
    """The registry workload: a slice of the query registry on seeded
    ``tools/gen_sf`` tables, checked against the DuckDB oracle."""

    name = "registry_sf001"
    data_before_setup = True

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.sf = spec.REGISTRY_SF * ctx.scale
        self.sf_dir = os.path.join(ctx.cache, f"registry-seed{ctx.seed}-sf{self.sf:g}")
        self.ops = [Op(q) for q in spec.REGISTRY_QUERIES]
        self.rows: dict[str, int] = {}
        self.arrow_bytes: dict[str, int] = {}

    def generate(self) -> None:
        done = os.path.join(self.sf_dir, "tables.done")
        if not os.path.exists(done):
            from tools.gen_sf import generate

            shutil.rmtree(self.sf_dir, ignore_errors=True)
            # gen_sf reports progress on stdout, which carries only results
            with contextlib.redirect_stdout(sys.stderr):
                generate(self.sf, self.sf_dir, self.ctx.seed)
            open(done, "w").close()
        V.prune(self.ctx.cache, "registry-", keep=2)

    def setup_tables(self, spark) -> None:
        from polars_gdal_spark.queries import load_tables

        load_tables(spark, self.sf_dir)

    def prepare(self, spark) -> None:
        import duckdb
        import pyarrow.parquet as pq

        from polars_gdal_spark.queries import QUERIES, TABLE_NAMES

        self.specs = QUERIES
        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.input_rows = sum(
            pq.read_metadata(f"{self.sf_dir}/{t}.parquet").num_rows
            for t in TABLE_NAMES)
        saved = list(sys.path)
        try:  # check_oracle puts its own repo path first; keep ours
            from tools.check_oracle import normalize
        finally:
            sys.path[:] = saved
        self.normalize = normalize

    def _frame(self, spark, op: Op):
        return self.specs[op.name].func(spark, self.sf_dir)

    def run_op(self, spark, op: Op) -> str | None:
        df = self._frame(spark, op)
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            getattr(df, "unpersist_sources", lambda: None)()
        return None

    def warm_up(self, spark) -> tuple[int, list[str]]:
        """One untimed pass that collects every result and checks it."""
        reasons = [self.check_op(spark, op) for op in self.ops]
        return len(self.ops), [r for r in reasons if r]

    def check_op(self, spark, op: Op) -> str | None:
        """Collect the result and compare it cell by cell with DuckDB, by
        the rule of ``tools/check_oracle.normalize``."""
        df = self._frame(spark, op)
        try:
            table = df.toArrow()
        finally:
            getattr(df, "unpersist_sources", lambda: None)()
        self.rows[op.name] = table.num_rows
        self.arrow_bytes[op.name] = table.nbytes
        got = table.to_pandas()
        if self.ctx.corrupt and op is self.ops[0]:
            got = got.iloc[:-1]
        want = self.con.execute(self.specs[op.name].oracle).fetchdf()
        scols, ocols = sorted(got.columns), sorted(want.columns)
        if scols != ocols:
            return f"{op.name}: columns {scols} vs {ocols}"
        if len(got) != len(want):
            return f"{op.name}: rows {len(got)} vs {len(want)}"
        if (self.normalize(got.to_dict("records"), scols)
                != self.normalize(want.to_dict("records"), ocols)):
            return f"{op.name}: cell values differ from the DuckDB oracle"
        return None

    def after_pass(self, spark) -> list[str]:
        return []

    def features(self, op: Op) -> int:
        """The input rows a query has to hand: every table's rows. Result
        row counts follow the seed, input counts only the scale factor."""
        return self.input_rows

    def out_bytes_per_feature(self) -> float:
        """Arrow bytes per result row, averaged over the queries."""
        widths = [self.arrow_bytes[q] / n for q, n in self.rows.items() if n]
        return statistics.mean(widths) if widths else 0.0

    def layer_probes(self, spark, walls: dict[str, float]) -> dict:
        return {f"query.{op.name}_s": walls.get(op.name, 0.0) for op in self.ops}


WORKLOADS = {w.name: w for w in (VectorIO, Registry)}


def median_walls(samples: list[dict]) -> dict[str, float]:
    """Median wall seconds per op name over the ok samples."""
    by_op: dict[str, list[float]] = {}
    for s in samples:
        if s["ok"]:
            by_op.setdefault(s["op"], []).append(s["wall_s"])
    return {k: statistics.median(v) for k, v in by_op.items()}
