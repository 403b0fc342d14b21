"""CSV reads (sources/formats/csv_xy.py) through the reader's one scan
loop: a split full read equals the single-task maxRows read of the same
file, a WKT geometry column reads, and the split probe rejects embedded
newlines and lone ``\\r`` (a lone ``\\r`` inside a quoted field would
desynchronize the raw-line skip used by ranged reads).
"""

from __future__ import annotations

import csv
import os

import pytest

from polars_gdal_spark.sources.formats.csv_xy import CsvDriver


def _write_big_csv(path: str, n: int = 10000) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["name", "lon", "lat", "pop", "note"])
        for i in range(n):
            w.writerow(
                [
                    f"place{i}",
                    (i * 37 % 3600) / 10.0 - 180.0,
                    (i * 53 % 1700) / 10.0 - 85.0,
                    i * 3,
                    "" if i % 7 == 0 else f"n{i}",
                ]
            )


@pytest.fixture()
def big_csv(tmp_path):
    p = os.path.join(tmp_path, "big.csv")
    _write_big_csv(p)
    return p


def test_fast_path_equals_row_path(spark, big_csv):
    rd = (
        spark.read.format("gdal")
        .option("x_possible_names", "lon")
        .option("y_possible_names", "lat")
        .option("autodetect_type", "yes")
    )
    fast = rd.load(big_csv)
    # maxRows plans one sequential task (global-count semantics)
    slow = rd.option("maxRows", 10**9).load(big_csv)
    a = sorted(map(tuple, fast.collect()))
    b = sorted(map(tuple, slow.collect()))
    assert len(a) == 10000
    assert a == b


def test_fast_path_splits_engage(spark, big_csv):
    drv = CsvDriver()
    ranges = drv.split_ranges(big_csv, "layer", {}, 8)
    assert ranges is not None and len(ranges) > 1
    assert ranges[0][0] == 0 and ranges[-1][1] == 10000


def test_probe_rejects_embedded_newline(tmp_path):
    p = os.path.join(tmp_path, "nl.csv")
    with open(p, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["a", "b"])
        for i in range(9000):
            w.writerow([i, "multi\nline" if i == 5 else "x"])
    assert CsvDriver().split_ranges(p, "layer", {}, 8) is None


def test_probe_rejects_lone_carriage_return(tmp_path):
    p = os.path.join(tmp_path, "cr.csv")
    with open(p, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["a", "b"])
        for i in range(9000):
            w.writerow([i, "bad\rfield" if i == 5 else "x"])
    assert CsvDriver().split_ranges(p, "layer", {}, 8) is None


def test_probe_accepts_crlf_line_endings(tmp_path):
    p = os.path.join(tmp_path, "crlf.csv")
    with open(p, "wb") as f:
        f.write(b"a,b\r\n")
        for i in range(9000):
            f.write(f"{i},x\r\n".encode())
    ranges = CsvDriver().split_ranges(p, "layer", {}, 8)
    assert ranges is not None and ranges[-1][1] == 9000


def test_fast_path_fallback_on_wkt_geometry(spark, tmp_path):
    """A GEOM_POSSIBLE_NAMES (WKT) geometry column reads."""
    p = os.path.join(tmp_path, "wkt.csv")
    with open(p, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["name", "shape"])
        for i in range(9000):
            w.writerow([f"p{i}", f"POINT ({i} {i + 1})"])
    df = (
        spark.read.format("gdal")
        .option("geom_possible_names", "shape")
        .load(p)
    )
    rows = df.orderBy("name").limit(2).collect()
    assert rows[0]["geometry"] is not None
    assert df.count() == 9000
