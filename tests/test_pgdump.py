"""PGDump writer tests: script structure matches GDAL's PGDump layout
and the emitted hex EWKB round-trips byte-exactly through the PostGIS
EWKB normalizer (no database needed — the script IS the product)."""

from __future__ import annotations

import re

from polars_gdal_spark.sources.postgis import ewkb_to_wkb
from tests.conftest import STATIONS_SHP as STATIONS


def _write(df, path, **options):
    w = df.write.format("gdal").mode("overwrite")
    for k, v in options.items():
        w = w.option(k, v)
    w.save(path)


def _copy_rows(sql: str) -> list[list[str]]:
    m = re.search(r"^COPY .* FROM STDIN;\n(.*?)^\\\.\n", sql, re.S | re.M)
    assert m, "COPY block missing"
    return [line.split("\t") for line in m.group(1).splitlines()]


def test_pgdump_copy_roundtrip(spark, tmp_path):
    src = spark.read.format("gdal").load(STATIONS)
    out = str(tmp_path / "stations.sql")
    _write(src, out, driver="PGDump", layer="stations", srs="EPSG:4326")
    sql = open(out).read()

    assert 'CREATE TABLE "public"."stations"' in sql
    assert (
        "SELECT AddGeometryColumn('public','stations',"
        "'wkb_geometry',4326,'POINT',2);" in sql
    )
    assert 'ALTER TABLE "public"."stations" ADD COLUMN "name" VARCHAR;' in sql
    assert sql.strip().endswith("COMMIT;")

    rows = _copy_rows(sql)
    assert len(rows) == src.count()
    # hex EWKB → engine WKB must equal the source geometry bytes
    got = sorted(ewkb_to_wkb(bytes.fromhex(r[0])) for r in rows)
    want = sorted(bytes(r["geometry"]) for r in src.select("geometry").collect())
    assert got == want
    # SRID flag + embedded SRID present on every value
    assert all(r[0].startswith("0101000020E6100000") for r in rows)


def test_pgdump_insert_mode_and_escaping(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "tab\there 'quoted'", True, bytes.fromhex("0101000000000000000000F03F0000000000000040")),
            (2, None, False, bytes.fromhex("01010000000000000000000040000000000000F03F")),
        ],
        "id bigint, note string, flag boolean, geometry binary",
    )
    out = str(tmp_path / "ins.sql")
    _write(df, out, driver="PGDump", layer="t", pgUseCopy="false")
    sql = open(out).read()
    assert "COPY" not in sql
    inserts = [line for line in sql.splitlines() if line.startswith("INSERT")]
    assert len(inserts) == 2
    assert "'tab\there ''quoted'''" in sql  # SQL quoting, literal tab kept
    assert "NULL, FALSE" in sql  # null note, boolean literal
    assert '"id" INT8' in sql and '"flag" BOOLEAN' in sql

    # COPY mode escapes the tab instead
    out2 = str(tmp_path / "cp.sql")
    _write(df, out2, driver="PGDump", layer="t")
    rows = _copy_rows(open(out2).read())
    assert rows[0][2] == "tab\\there 'quoted'"
    assert rows[1][2] == "\\N" and rows[1][3] == "f"


def test_mixed_case_column_keeps_its_values(spark, tmp_path):
    """The column name is laundered to lower case; its values are still
    the column's."""
    df = spark.createDataFrame(
        [("a", bytes.fromhex("0101000000000000000000F03F0000000000000040"))],
        "Name string, geometry binary",
    )
    out = str(tmp_path / "mixed.sql")
    _write(df, out, driver="PGDump")
    sql = open(out).read()
    assert 'ADD COLUMN "name" VARCHAR;' in sql
    assert [r[1] for r in _copy_rows(sql)] == ["a"]
