"""Per-call overhead of a Spark Python worker: importing the package makes
``importlib.invalidate_caches()`` re-read a zip importer's archive only
when the archive changed on disk (``session._install_zip_stat_stamp``).

The in-process tests put a zip of their own on ``sys.path`` and count
``zipimport._read_directory`` calls for it; the Spark-level test counts
the re-reads inside a real worker.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import polars_gdal_spark  # noqa: F401  (installs the wrapper)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``wo_mod_a`` on ``sys.path``, imported once, and a
    list that records every ``_read_directory`` call for that zip."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wo_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    assert importlib.import_module("wo_mod_a").VALUE == "a"

    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("wo_mod_a", "wo_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_zip_is_read_at_most_once(zip_on_path):
    _, reads = zip_on_path
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) <= 1


def test_changed_zip_is_read_again(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    before = len(reads)
    _write_zip(
        archive, {"wo_mod_a": "VALUE = 'a'\n", "wo_mod_b": "VALUE = 'b'\n"}
    )
    importlib.invalidate_caches()
    assert len(reads) == before + 1
    assert importlib.import_module("wo_mod_b").VALUE == "b"


def test_deleted_zip_raises_nothing(zip_on_path):
    archive, _ = zip_on_path
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("wo_mod_b")


def test_worker_does_not_reread_unchanged_zips(spark):
    def probe(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        import polars_gdal_spark  # noqa: F401

        for _ in batches:
            pass
        il.invalidate_caches()
        reads = []
        real = zi._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        zips = sum(
            isinstance(v, zi.zipimporter) for v in s.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {"zips": [zips], "rereads": [len(reads)]}
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "zips long, rereads long")
        .collect()
    )
    assert rows[0]["zips"] >= 1, "the worker imports nothing from a zip"
    assert rows[0]["rereads"] == 0
