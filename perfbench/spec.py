"""Names, units and meaning of everything the benchmark reports.

This module is the single source for ``BENCHMARK.json``: run
``python3 perfbench/spec.py`` to print the file it must equal (the
self-test checks that it does). The JSON contract allows only name, unit
and direction per metric, so which end-to-end metric and workload each
per-layer metric should move lives here, in ``LAYER_MOVES``, and is
copied into every detail record.
"""

from __future__ import annotations

import json

RUN_SECONDS = 12

#: vector layer sizes at scale 1.0 (features)
POINTS = 4000
POLYGONS = 2000
#: registry tables: tools/gen_sf.generate at this scale factor
REGISTRY_SF = 0.01
REGISTRY_QUERIES = (
    "q1_pricing_summary",
    "q18_large_volume_customers",
    "sim_lsh_bucketed",
    "dedup_embedding_cosine",
)

#: gdal formats the per-format layer metrics cover, then geoparquet
GDAL_FORMATS = ("geojson", "geojsonseq", "csv", "shp", "fgb", "gpkg", "arrow")
ALL_FORMATS = GDAL_FORMATS + ("geoparquet",)

WORKLOADS = (
    ("vector_io",
     f"{POINTS} points + {POLYGONS} 7-vertex polygons in 8 formats: a scan per "
     "format, bbox + pushed-filter scans, a write per format read back: "
     "split planning, decode, Arrow, sinks.assemble"),
    ("registry_sf001",
     f"{len(REGISTRY_QUERIES)} registry queries (2 TPC-H, 2 pairwise-cosine "
     f"consumers) on gen_sf sf{REGISTRY_SF}, DuckDB-checked: Catalyst, shuffle, "
     "Arrow/pandas kernels; no gdal"),
)

#: (name, unit, better, bound)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("features_per_s", "1/s", "higher", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("op_tail_s", "s", "lower", 0.25),
    ("out_bytes_per_feature", "B", "lower", 0.1),
    ("peak_rss_mb", "MB", "lower", 0.25),
)

E2E_MEANING = {
    "setup_s": "process start until the session is ready (get_spark, "
               "register_gdal_source, load_tables on the registry); data "
               "generation excluded; one cold start per run",
    "features_per_s": "features read or written (vector_io), or input "
                      "table rows (registry, all tables per query), per "
                      "second of timed op wall",
    "pass_s": "sum of per-op wall times of one pass; median over the run's "
              "timed passes",
    "op_p50_s": "median op wall; an op is one scan, one write or one query, "
                "and its sample is its median over the run's timed passes",
    "op_tail_s": "highest nearest-rank percentile of the same op samples "
                 "with at least 10 samples beyond it (the maximum when there "
                 "are fewer than 11); percentile and count are in the detail",
    "out_bytes_per_feature": "bytes of the files the sinks wrote in the 8 "
                             "formats per feature (vector_io); Arrow result "
                             "bytes per row, averaged over queries (registry)",
    "peak_rss_mb": "peak resident memory of the process tree: driver "
                   "Python, JVM and Python workers, sampled from /proc",
}


def _layer_defs():
    """(name, unit, better, moves, workload) for every per-layer metric."""
    scan = write = "vector_io"
    reg = "registry_sf001"
    allw = "all"
    out = [
        ("session.get_spark_s", "s", "lower", "setup_s", allw),
        ("queries.load_tables_s", "s", "lower", "setup_s", reg),
    ]
    for f in GDAL_FORMATS:
        out += [
            (f"sources.datasource.schema_s.{f}", "s", "lower", "op_p50_s", scan),
            (f"sources.datasource.partitions_s.{f}", "s", "lower",
             "features_per_s", scan),
            (f"sources.datasource.splits.{f}", "count", "higher",
             "features_per_s", scan),
            (f"sources.datasource.fast_path_frac.{f}", "ratio", "higher",
             "features_per_s", scan),
            (f"sources.formats.decode_s.{f}", "s", "lower", "features_per_s", scan),
            (f"sources.formats.bytes_in.{f}", "B", "lower", "features_per_s", scan),
        ]
    out += [
        ("sources.geoparquet.schema_s", "s", "lower", "op_p50_s", scan),
        ("sources.geoparquet.partitions_s", "s", "lower", "features_per_s", scan),
        ("sources.geoparquet.splits", "count", "higher", "features_per_s", scan),
        ("sources.geoparquet.decode_s", "s", "lower", "features_per_s", scan),
        ("sources.geoparquet.bytes_in", "B", "lower", "features_per_s", scan),
    ]
    for codec in ("wkb_decode", "wkb_encode", "wkt_encode", "geojson_encode"):
        for g in ("point", "polygon"):
            out.append((f"geometry.{codec}_s.{g}", "s", "lower",
                        "features_per_s", write))
    for f in GDAL_FORMATS:
        out.append((f"sinks.assemble_s.{f}", "s", "lower", "features_per_s", write))
    for f in ALL_FORMATS:
        out.append((f"sinks.parts_s.{f}", "s", "lower", "features_per_s", write))
    for f in ALL_FORMATS:
        out.append((f"sinks.bytes_out.{f}", "B", "lower",
                    "out_bytes_per_feature", write))
    py = "features_per_s on vector_io; pass_s on registry_sf001"
    shuf = "pass_s and op_tail_s"
    sched = "op_p50_s on registry_sf001; features_per_s on vector_io"
    out += [
        ("spark.executor_run_s", "s", "lower", "pass_s", allw),
        ("spark.executor_cpu_s", "s", "lower", "pass_s", allw),
        ("spark.gc_s", "s", "lower", "pass_s", allw),
        ("spark.core_util", "ratio", "higher", "features_per_s", allw),
        ("spark.python_worker_s", "s", "lower", py, allw),
        ("spark.py_bytes_in", "B", "lower", py, allw),
        ("spark.py_bytes_out", "B", "lower", py, allw),
        ("spark.shuffle_bytes", "B", "lower", shuf, reg),
        ("spark.shuffle_write_s", "s", "lower", shuf, reg),
        ("spark.fetch_wait_s", "s", "lower", shuf, reg),
        ("spark.peak_exec_mem_bytes", "B", "lower", shuf, reg),
        ("spark.spill_bytes", "B", "lower", shuf, reg),
        ("spark.jobs", "count", "lower", sched, allw),
        ("spark.tasks", "count", "lower", sched, allw),
        ("spark.driver_residue_s", "s", "lower", sched, allw),
    ]
    for q in REGISTRY_QUERIES:
        out.append((f"query.{q}_s", "s", "lower", "pass_s, op_p50_s, op_tail_s",
                    reg))
    out.append(("trace.overhead_ratio", "ratio", "lower",
                "traced over untraced headline (pass_s)", allw))
    return out


PER_LAYER = tuple(_layer_defs())
#: per-layer name -> "<end-to-end metric> on <workload>"
LAYER_MOVES = {n: f"{moves} on {wl}" if " on " not in moves else moves
               for n, _, _, moves, wl in PER_LAYER}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b, _, _ in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
