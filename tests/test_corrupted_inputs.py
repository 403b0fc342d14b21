"""Corrupted/truncated input robustness: every malformed file must fail
FAST and CLEAN at schema-inference time — a typed error naming the file,
never a hang, a stack of garbage rows, or a partial silent result.
(Reference behavior: GDAL open errors surface as GdalError immediately,
``src/lib.rs:294-312``.)"""

from __future__ import annotations

import pytest
from pyspark.errors.exceptions.captured import AnalysisException

from tests.conftest import DATA_DIR

CITIES = f"{DATA_DIR}/cities.geojson"


def _truncate(path, out, frac):
    data = open(path, "rb").read()
    out.write_bytes(data[: max(8, int(len(data) * frac))])


@pytest.mark.parametrize("driver,ext", [
    ("GPKG", "gpkg"),
    ("FlatGeobuf", "fgb"),
    ("ESRI Shapefile", "shp"),
])
@pytest.mark.parametrize("frac", [0.5, 0.05])
def test_truncated_binary_fails_clean(spark, tmp_path, driver, ext, frac):
    src = spark.read.format("gdal").load(CITIES).limit(20)
    whole = tmp_path / f"whole.{ext}"
    src.write.format("gdal").mode("overwrite").option(
        "driver", driver
    ).save(str(whole))
    broken = tmp_path / f"broken.{ext}"
    _truncate(whole, broken, frac)
    # schema-time failures surface as AnalysisException, scan-time ones
    # as the executor's wrapped PythonException — either is fine, what
    # matters is a loud, file-naming error instead of partial rows
    with pytest.raises(Exception, match="broken") as ei:
        spark.read.format("gdal").load(str(broken)).count()
    assert "truncated" in str(ei.value) or "driver" in str(ei.value)


def test_garbage_bytes_unsupported_format(spark, tmp_path):
    junk = tmp_path / "junk.gpkg"
    junk.write_bytes(b"\x00\x01garbage" * 10)
    with pytest.raises(AnalysisException) as ei:
        spark.read.format("gdal").load(str(junk)).count()
    msg = str(ei.value)
    assert "no registered driver" in msg and "junk.gpkg" in msg


def test_truncated_geojson_fails_clean(spark, tmp_path):
    broken = tmp_path / "trunc.geojson"
    broken.write_text(open(CITIES).read()[:200])
    with pytest.raises(AnalysisException):
        spark.read.format("gdal").load(str(broken)).count()


def test_truncated_tab_dat_fails_clean(spark, tmp_path):
    """A truncated .dat sidecar (partial copy of a MapInfo TAB family)
    must error loudly, not yield the records that happen to fit."""
    import shutil

    src = spark.read.format("gdal").load(CITIES).limit(20)
    whole = tmp_path / "w.tab"
    src.write.format("gdal").mode("overwrite").option(
        "driver", "MapInfo File"
    ).save(str(whole))
    d = tmp_path / "case"
    d.mkdir()
    for ext in (".tab", ".dat", ".map", ".id"):
        s = tmp_path / f"w{ext}"
        if s.exists():
            shutil.copy(s, d / f"w{ext}")
    target = d / "w.dat"
    data = target.read_bytes()
    target.write_bytes(data[: len(data) // 2])
    with pytest.raises(Exception, match="truncated"):
        spark.read.format("gdal").load(str(d / "w.tab")).count()


@pytest.mark.parametrize("cut", [1, 2, 3, 5, 9, 17, 33])
def test_fgb_mid_record_truncation_typed(spark, tmp_path, cut):
    """A FlatGeobuf cut MID-RECORD (not at a record boundary) must raise
    the same typed, file-naming UnsupportedFormatError as boundary
    truncation — never a raw struct.error/IndexError from the decoder."""
    from polars_gdal_spark.errors import UnsupportedFormatError
    from polars_gdal_spark.sources.formats.flatgeobuf import FlatGeobufDriver

    src = spark.read.format("gdal").load(CITIES).limit(20)
    whole = tmp_path / "whole.fgb"
    src.write.format("gdal").mode("overwrite").option(
        "driver", "FlatGeobuf"
    ).save(str(whole))
    data = whole.read_bytes()
    broken = tmp_path / "broken.fgb"
    broken.write_bytes(data[: len(data) - cut])
    drv = FlatGeobufDriver()
    with pytest.raises(UnsupportedFormatError, match="truncated FlatGeobuf"):
        list(drv.iter_features(str(broken), "", {}))
