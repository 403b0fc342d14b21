from __future__ import annotations

import os

import pytest

from polars_gdal_spark import register_gdal_source
from polars_gdal_spark.session import get_spark

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(REPO_ROOT, "tests", "data")
REF_DATA = "/root/reference/test_data"
#: points shapefile made by tools/gen_fixtures.py: N_STATIONS stations,
#: station i on line LINES[i % 6] (so N_STATIONS // 6 on the blue line)
STATIONS_SHP = os.path.join(DATA_DIR, "stations.shp")
N_STATIONS = 90
N_BLUE = N_STATIONS // 6
#: cities.geojson/.csv/.ndjson/.arrow (tools/gen_fixtures.py): N_CITIES points
N_CITIES = 120
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    register_gdal_source(s)
    yield s
