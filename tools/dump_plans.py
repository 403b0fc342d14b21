"""Dump .explain("formatted") for named registry queries to files.

Usage: python tools/dump_plans.py [--no-checkpoint] <repo_root> <sf_dir> <out_dir> <suffix> q1 [q2 ...]

Writes <out_dir>/<query>_<suffix>.txt for each query. Used to produce the
plans/r11/<query>_{before,after}.txt evidence pairs (run once against the
round-10 checkout for "before", once against HEAD for "after").

``--no-checkpoint`` patches DataFrame.localCheckpoint to a no-op while
BUILDING the query, so iterative queries whose returned DataFrame is
checkpoint-backed (graph_pagerank) print their full per-iteration
lineage instead of a single RDD scan. The patch is evidence-generation
only — it never runs in library or bench code — and does not alter the
per-iteration plan shape (checkpointing only truncates lineage between
iterations).
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    args = sys.argv[1:]
    no_checkpoint = "--no-checkpoint" in args
    if no_checkpoint:
        args.remove("--no-checkpoint")
    repo_root, sf_dir, out_dir, suffix = args[:4]
    names = args[4:]
    sys.path.insert(0, repo_root)
    # Spark 4: instances are pyspark.sql.classic.dataframe.DataFrame,
    # which overrides the abstract pyspark.sql.DataFrame — patch the
    # concrete class or the patch never resolves.
    from pyspark.sql.classic.dataframe import DataFrame

    from polars_gdal_spark.queries import QUERIES
    from polars_gdal_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    note = (
        "; localCheckpoint patched to identity so the full iterative "
        "lineage prints"
        if no_checkpoint
        else ""
    )
    orig = DataFrame.localCheckpoint
    if no_checkpoint:
        DataFrame.localCheckpoint = lambda self, eager=True: self  # type: ignore
    try:
        for name in names:
            df = QUERIES[name].func(spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(f"== {name} @ {sf_dir} ({suffix}{note})\n\n")
                f.write(txt)
            print(f"wrote {path} ({len(txt)} chars)")
    finally:
        DataFrame.localCheckpoint = orig  # type: ignore
    spark.stop()


if __name__ == "__main__":
    main()
