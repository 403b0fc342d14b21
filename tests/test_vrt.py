"""OGR VRT virtual format: XML layer definitions over other sources —
field select/rename, PointFromColumns and WKT geometry synthesis,
relative source resolution, typed errors for the unsupported subset."""

from __future__ import annotations

import pytest

from polars_gdal_spark.errors import UnsupportedFormatError
from tests.conftest import DATA_DIR

CITIES = f"{DATA_DIR}/cities.geojson"
CITIES_CSV = f"{DATA_DIR}/cities.csv"


def _write(p, body):
    p.write_text(body)
    return str(p)


def test_vrt_direct_passthrough_with_field_selection(spark, tmp_path):
    vrt = _write(tmp_path / "sel.vrt", f"""
<OGRVRTDataSource>
  <OGRVRTLayer name="cities_sel">
    <SrcDataSource>{CITIES}</SrcDataSource>
    <Field name="city" src="name"/>
    <Field name="pop" src="population" type="Integer64"/>
  </OGRVRTLayer>
</OGRVRTDataSource>""")
    df = spark.read.format("gdal").load(vrt)
    assert set(df.columns) == {"city", "pop", "geometry"}
    assert df.count() == 120
    row = df.where("city = 'city_000'").first()
    assert row["pop"] > 0 and row["geometry"] is not None


def test_vrt_point_from_columns_over_csv(spark, tmp_path):
    vrt = _write(tmp_path / "xy.vrt", f"""
<OGRVRTDataSource>
  <OGRVRTLayer name="pts">
    <SrcDataSource>{CITIES_CSV}</SrcDataSource>
    <GeometryField encoding="PointFromColumns" x="lon" y="lat"/>
    <Field name="name" src="name"/>
  </OGRVRTLayer>
</OGRVRTDataSource>""")
    df = (
        spark.read.format("gdal")
        .option("geometryFormat", "wkt")
        .load(vrt)
    )
    assert df.count() == 120
    wkt = df.where("name = 'city_000'").first()["geometry"]
    assert wkt.startswith("POINT (")


def test_vrt_wkt_field(spark, tmp_path):
    src = tmp_path / "w.csv"
    src.write_text(
        'id,shape\n1,"POINT (1 2)"\n2,"LINESTRING (0 0, 3 4)"\n3,\n'
    )
    vrt = _write(tmp_path / "w.vrt", f"""
<OGRVRTDataSource>
  <OGRVRTLayer name="w">
    <SrcDataSource relativeToVRT="1">w.csv</SrcDataSource>
    <GeometryField encoding="WKT" field="shape"/>
    <Field name="id" src="id" type="Integer64"/>
  </OGRVRTLayer>
</OGRVRTDataSource>""")
    rows = {
        r["id"]: r["geometry"]
        for r in spark.read.format("gdal")
        .option("geometryFormat", "wkt")
        .load(vrt)
        .collect()
    }
    assert rows[1] == "POINT (1 2)"
    assert rows[2].startswith("LINESTRING")
    assert rows[3] is None


def test_vrt_relative_to_vrt_resolution(spark, tmp_path):
    import shutil

    shutil.copy(CITIES, tmp_path / "c.geojson")
    vrt = _write(tmp_path / "rel.vrt", """
<OGRVRTDataSource>
  <OGRVRTLayer name="c">
    <SrcDataSource relativeToVRT="1">c.geojson</SrcDataSource>
  </OGRVRTLayer>
</OGRVRTDataSource>""")
    assert spark.read.format("gdal").load(vrt).count() == 120


def test_vrt_layer_selection_and_listing(spark, tmp_path):
    vrt = _write(tmp_path / "two.vrt", f"""
<OGRVRTDataSource>
  <OGRVRTLayer name="a"><SrcDataSource>{CITIES}</SrcDataSource></OGRVRTLayer>
  <OGRVRTLayer name="b">
    <SrcDataSource>{CITIES}</SrcDataSource>
    <Field name="only" src="name"/>
  </OGRVRTLayer>
</OGRVRTDataSource>""")
    df_b = spark.read.format("gdal").option("layer", "b").load(vrt)
    assert set(df_b.columns) == {"only", "geometry"}
    df_a = spark.read.format("gdal").option("layer", "a").load(vrt)
    assert "population" in df_a.columns


def test_vrt_unsupported_elements_raise(spark, tmp_path):
    vrt = _write(tmp_path / "warped.vrt", f"""
<OGRVRTDataSource>
  <OGRVRTWarpedLayer>
    <OGRVRTLayer name="a"><SrcDataSource>{CITIES}</SrcDataSource></OGRVRTLayer>
    <TargetSRS>EPSG:3857</TargetSRS>
  </OGRVRTWarpedLayer>
</OGRVRTDataSource>""")
    with pytest.raises(Exception, match="OGRVRTWarpedLayer"):
        spark.read.format("gdal").load(vrt).count()

    bad = _write(tmp_path / "sql.vrt", f"""
<OGRVRTDataSource>
  <OGRVRTLayer name="s">
    <SrcDataSource>{CITIES}</SrcDataSource>
    <SrcSQL>SELECT 1</SrcSQL>
  </OGRVRTLayer>
</OGRVRTDataSource>""")
    with pytest.raises(Exception, match="SrcSQL"):
        spark.read.format("gdal").load(bad).count()


def test_vrt_crs_override(spark, tmp_path):
    import polars_gdal_spark as pg

    vrt = _write(tmp_path / "srs.vrt", f"""
<OGRVRTDataSource>
  <OGRVRTLayer name="c">
    <SrcDataSource>{CITIES}</SrcDataSource>
    <LayerSRS>EPSG:3857</LayerSRS>
  </OGRVRTLayer>
</OGRVRTDataSource>""")
    df = pg.read_gdal(spark, vrt)
    assert df.schema["geometry"].metadata.get("crs") == "EPSG:3857"


def test_vrt_union_layer_concatenates_with_schema_drift(spark, tmp_path):
    a = tmp_path / "a.csv"
    a.write_text("name,pop\nalpha,10\nbeta,20\n")
    b = tmp_path / "b.csv"
    b.write_text("name,extra\ngamma,x\n")
    vrt = _write(tmp_path / "u.vrt", """
<OGRVRTDataSource>
  <OGRVRTUnionLayer name="all">
    <OGRVRTLayer name="a">
      <SrcDataSource relativeToVRT="1">a.csv</SrcDataSource>
    </OGRVRTLayer>
    <OGRVRTLayer name="b">
      <SrcDataSource relativeToVRT="1">b.csv</SrcDataSource>
    </OGRVRTLayer>
  </OGRVRTUnionLayer>
</OGRVRTDataSource>""")
    df = spark.read.format("gdal").load(vrt)
    rows = {r["name"]: r for r in df.collect()}
    assert set(rows) == {"alpha", "beta", "gamma"}
    assert "pop" in df.columns and "extra" in df.columns
    assert rows["gamma"]["pop"] is None and rows["gamma"]["extra"] == "x"
    assert rows["alpha"]["extra"] is None


def test_vrt_union_member_field_rename(spark, tmp_path):
    a = tmp_path / "m1.csv"
    a.write_text("city,n\nparis,1\n")
    b = tmp_path / "m2.csv"
    b.write_text("town,n\nlyon,2\n")
    vrt = _write(tmp_path / "u2.vrt", """
<OGRVRTDataSource>
  <OGRVRTUnionLayer name="norm">
    <OGRVRTLayer name="m1">
      <SrcDataSource relativeToVRT="1">m1.csv</SrcDataSource>
      <Field name="place" src="city"/>
    </OGRVRTLayer>
    <OGRVRTLayer name="m2">
      <SrcDataSource relativeToVRT="1">m2.csv</SrcDataSource>
      <Field name="place" src="town"/>
    </OGRVRTLayer>
  </OGRVRTUnionLayer>
</OGRVRTDataSource>""")
    got = sorted(
        r["place"] for r in spark.read.format("gdal").load(vrt).collect()
    )
    assert got == ["lyon", "paris"]


def test_vrt_first_layer_default_is_document_order(spark, tmp_path):
    """When no layer is selected, the default must be the FIRST layer in
    document order — even when that is a union layer declared before a
    plain layer (a per-tag findall sweep would pick the plain one)."""
    a = tmp_path / "d1.csv"
    a.write_text("name,v\nfirst,1\n")
    b = tmp_path / "d2.csv"
    b.write_text("name,v\nsecond,2\n")
    vrt = _write(tmp_path / "order.vrt", """
<OGRVRTDataSource>
  <OGRVRTUnionLayer name="both">
    <OGRVRTLayer name="x">
      <SrcDataSource relativeToVRT="1">d1.csv</SrcDataSource>
    </OGRVRTLayer>
    <OGRVRTLayer name="y">
      <SrcDataSource relativeToVRT="1">d2.csv</SrcDataSource>
    </OGRVRTLayer>
  </OGRVRTUnionLayer>
  <OGRVRTLayer name="solo">
    <SrcDataSource relativeToVRT="1">d2.csv</SrcDataSource>
  </OGRVRTLayer>
</OGRVRTDataSource>""")
    got = sorted(
        r["name"] for r in spark.read.format("gdal").load(vrt).collect()
    )
    assert got == ["first", "second"]  # the union, not "solo"


def test_vrt_nested_union_member_raises(spark, tmp_path):
    """A union member that is itself a union must raise a typed error,
    never silently drop that member's rows."""
    import pytest

    from polars_gdal_spark.errors import UnsupportedFormatError

    a = tmp_path / "n1.csv"
    a.write_text("name,v\nrowa,1\n")
    vrt = _write(tmp_path / "nested.vrt", """
<OGRVRTDataSource>
  <OGRVRTUnionLayer name="outer">
    <OGRVRTLayer name="m">
      <SrcDataSource relativeToVRT="1">n1.csv</SrcDataSource>
    </OGRVRTLayer>
    <OGRVRTUnionLayer name="inner">
      <OGRVRTLayer name="m2">
        <SrcDataSource relativeToVRT="1">n1.csv</SrcDataSource>
      </OGRVRTLayer>
    </OGRVRTUnionLayer>
  </OGRVRTUnionLayer>
</OGRVRTDataSource>""")
    from polars_gdal_spark.sources.formats.vrt import VrtDriver

    with pytest.raises(UnsupportedFormatError, match="OGRVRTUnionLayer"):
        list(VrtDriver().iter_features(vrt, "outer", {}))
    # through Spark the typed message still surfaces (wrapped by the
    # task-failure machinery when it fires executor-side)
    with pytest.raises(Exception, match="OGRVRTUnionLayer"):
        spark.read.format("gdal").load(vrt).collect()
