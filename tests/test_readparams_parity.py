"""ReadParams parity leftovers (reference src/lib.rs:30-59):
``open_flags`` and ``sibling_files`` options, plus the typed
unsupported-format error naming the supported-format list.
"""

from __future__ import annotations

import os
import shutil

import pytest

from polars_gdal_spark.errors import (
    UnsupportedFormatError,
    UpdateNotSupportedError,
)
from polars_gdal_spark.sources.datasource import _check_open_flags
from tests.conftest import N_STATIONS
from tests.conftest import STATIONS_SHP as STATIONS


def test_open_flags_noops_accepted():
    _check_open_flags({"open_flags": "GDAL_OF_READONLY|GDAL_OF_VERBOSE_ERROR"})
    _check_open_flags({"open_flags": "readonly | vector"})
    _check_open_flags({})


def test_open_flags_update_rejected():
    with pytest.raises(UpdateNotSupportedError):
        _check_open_flags({"open_flags": "UPDATE"})


def test_open_flags_raster_rejected():
    with pytest.raises(UnsupportedFormatError):
        _check_open_flags({"open_flags": "GDAL_OF_RASTER"})


def test_open_flags_unknown_rejected():
    with pytest.raises(ValueError, match="unknown open_flags"):
        _check_open_flags({"open_flags": "FROBNICATE"})


def test_open_flags_through_reader(spark):
    df = (
        spark.read.format("gdal")
        .option("open_flags", "GDAL_OF_READONLY")
        .load(STATIONS)
    )
    assert df.count() == N_STATIONS
    with pytest.raises(Exception) as ei:
        spark.read.format("gdal").option("open_flags", "UPDATE").load(STATIONS)
    assert "read-only" in str(ei.value)


def test_sibling_files_excluding_dbf_drops_attributes(spark, tmp_path):
    for ext in (".shp", ".shx", ".dbf", ".prj"):
        shutil.copy(
            os.path.splitext(STATIONS)[0] + ext, tmp_path / f"stations{ext}"
        )
    p = str(tmp_path / "stations.shp")
    full = spark.read.format("gdal").load(p)
    assert "name" in full.columns
    bare = (
        spark.read.format("gdal")
        .option("sibling_files", "stations.shx")
        .load(p)
    )
    # .dbf not listed → no attribute columns, geometry still reads
    assert "name" not in bare.columns
    assert bare.count() == N_STATIONS


def test_sibling_files_excluding_shx_still_reads(spark, tmp_path):
    for ext in (".shp", ".shx", ".dbf"):
        shutil.copy(
            os.path.splitext(STATIONS)[0] + ext, tmp_path / f"stations{ext}"
        )
    p = str(tmp_path / "stations.shp")
    df = (
        spark.read.format("gdal")
        .option("sibling_files", "stations.dbf")
        .load(p)
    )
    # no .shx → sequential .shp scan; attributes from listed .dbf
    assert df.count() == N_STATIONS
    assert "name" in df.columns


def test_unsupported_format_error_names_formats(tmp_path):
    from polars_gdal_spark.sources.formats import find_driver

    p = str(tmp_path / "mystery.xyz")
    with open(p, "wb") as f:
        f.write(b"\x00\x01\x02\x03 definitely not a vector format")
    with pytest.raises(UnsupportedFormatError, match="supported formats"):
        find_driver(p)
