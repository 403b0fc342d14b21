"""Writer fault tolerance: the two-phase write (executor part files ->
driver assemble) must ignore uncommitted attempt leftovers — the failure
mode Spark's FileCommitProtocol exists for. A failed or still-running
zombie task attempt leaves a stray (possibly truncated) part file in the
tmp dir; only parts named by COMMITTED task messages may reach the
output, and the stray must not survive the write.
"""

from __future__ import annotations

import os

from tests.conftest import DATA_DIR

CITIES = f"{DATA_DIR}/cities.geojson"


def _plant_strays(tmp_parts_dir: str) -> list[str]:
    """Simulate failed attempts: a truncated Arrow part and a garbage
    NDJSON part with plausible attempt-file names."""
    os.makedirs(tmp_parts_dir, exist_ok=True)
    strays = []
    p1 = os.path.join(tmp_parts_dir, "part-00000-99991.arrow")
    with open(p1, "wb") as f:
        f.write(b"\xff\xff\xff\xffARROW1\x00garbage-partial")
    p2 = os.path.join(tmp_parts_dir, "part-00001-99992.ndjson")
    with open(p2, "w") as f:
        f.write('{"type": "Feature", "geometry": null, "properti')  # cut
    strays.extend([p1, p2])
    return strays


def test_assemble_ignores_uncommitted_parts(spark, tmp_path):
    src = spark.read.format("gdal").load(CITIES).limit(30)

    clean = tmp_path / "clean.geojson"
    src.write.format("gdal").mode("overwrite").save(str(clean))

    dirty = tmp_path / "dirty.geojson"
    # stray attempt files exist BEFORE the write's own attempts run
    _plant_strays(str(dirty) + ".parts.tmp")
    src.write.format("gdal").mode("overwrite").save(str(dirty))

    assert dirty.read_bytes() == clean.read_bytes()
    assert not os.path.exists(str(dirty) + ".parts.tmp"), (
        "tmp part dir (with failed-attempt leftovers) must be removed"
    )


def test_partitioned_output_excludes_stray_attempts(spark, tmp_path):
    """partitioned=true moves committed parts into the output directory;
    a stray failed-attempt part must not be moved with them."""
    src = spark.read.format("gdal").load(CITIES).limit(30)
    out = tmp_path / "parts_out"
    _plant_strays(str(out) + ".parts.tmp")
    src.write.format("gdal").mode("overwrite").option(
        "partitioned", "true"
    ).save(str(out))
    names = sorted(os.listdir(out))
    assert names, "partitioned write produced no parts"
    assert "part-00000-99991.arrow" not in names
    assert "part-00001-99992.ndjson" not in names
    # committed parts round-trip: the output dir is readable as NDJSON
    back = spark.read.format("gdal").load(str(out))
    assert back.count() == 30
    assert not os.path.exists(str(out) + ".parts.tmp")


def test_geoparquet_write_ignores_stray_attempts(spark, tmp_path):
    src = spark.read.format("gdal").load(CITIES).limit(30)
    out = tmp_path / "gp_out"
    os.makedirs(str(out) + ".parts.tmp", exist_ok=True)
    stray = os.path.join(str(out) + ".parts.tmp", "part-00000-7777.parquet")
    with open(stray, "wb") as f:
        f.write(b"PAR1 not really parquet")
    src.write.format("geoparquet").mode("overwrite").save(str(out))
    assert "part-00000-7777.parquet" not in os.listdir(out)
    assert spark.read.parquet(str(out)).count() == 30
    assert not os.path.exists(str(out) + ".parts.tmp")
