"""SparkSession construction with scale-appropriate defaults.

Defaults are tuned for correctness-at-scale, not just local tests:
AQE on (runtime re-planning, skew-join splitting), broadcast threshold
raised so dimension tables (region/nation/customer at bench SF) broadcast,
Arrow enabled for every Python<->JVM exchange, and UTC session timezone so
timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os
import zipimport

from pyspark.sql import SparkSession


def _install_zip_stat_stamp() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's zip
    directory only when the archive changed on disk (idempotent).

    Spark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every Python worker
    invocation: every task and every data-source planner call. On
    CPython 3.11 that makes each cached ``zipimporter`` (pyspark.zip, its
    subpackages, the spark-core jar: 16 importers) re-read its whole zip
    directory, measured at 170-276 ms per call on a 4-core box, against
    0 ms with an unzipped pyspark. A gdal scan or write makes about
    three such calls in series. Each importer now keeps a
    ``(st_mtime_ns, st_size, st_ino)`` stamp of its archive and calls the
    original method only when the stamp is missing or changed, or the
    stat fails; so an ``addPyFile`` / ``--py-files`` zip that changes is
    still re-read. This module is imported by the package ``__init__``,
    so a worker installs the wrapper the first time it unpickles one of
    the package's data sources or kernels, and keeps it while Spark
    reuses the worker."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_stamped", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stat_stamp", None):
            original(self)
            self._stat_stamp = stamp

    invalidate_caches._stat_stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_stat_stamp()


def get_spark(
    app_name: str = "polars_gdal_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # Python workers (custom DataSource / UDFs) must be able to import
    # this package; local-mode workers inherit PYTHONPATH from the driver.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing targets BYTES, but our hot mid-stages (MinHash
        # band hashing, LSH bucket joins, pair explodes) are CPU-dense
        # over highly compressible long/hash columns: a shuffle that
        # compresses to a few MB still carries minutes of per-core work
        # at scale. The default 1 MB floor let AQE collapse those stages
        # to 3-8 tasks on 32 cores (measured 40% slowdown on
        # dedup_minhash_lsh). 64 KB keeps small-byte/high-CPU shuffles
        # parallel while leaving genuinely large shuffles untouched
        # (their totalSize/parallelism term dominates the floor).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The driver-generated parquet uses TIMESTAMP(NANOS), which the
        # Spark parquet reader rejects by default; read as long and convert
        # (truncating ns -> us, matching DuckDB) in queries.load_tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # enable pushFilters() on Python data sources (the gdal reader's
        # OGR SetAttributeFilter analogue)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
