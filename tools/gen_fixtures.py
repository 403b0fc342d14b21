"""Generate deterministic geospatial fixtures into tests/data/.

Synthetic city points (seeded) written through the engine's own sink
encoders — NOT copied from the reference; schema mirrors the shape of
the reference's cities.arrow fixture (name + geometry, FIXTURES.md F1).
Also a ``stations`` points shapefile shaped like the reference's
``stations.shp`` (FIXTURES.md F1: name, marker-col, marker-sym, line),
plus two numeric attributes, written by ``write_shapefile``, and a
``cities.arrow`` Arrow IPC file (name + WKB geometry + ``geo`` metadata)
shaped like the reference's write fixture, written by the engine's
Arrow writer. Run once; outputs are committed.
"""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(HERE, "tests", "data")

#: stations: count, and the line of station i is LINES[i % len(LINES)]
N_STATIONS = 90
LINES = (
    ("blue", "#0000ff"), ("orange", "#ff8000"), ("red", "#ff0000"),
    ("silver", "#c0c0c0"), ("green", "#00ff00"), ("yellow", "#ffff00"),
)


def stations() -> None:
    """``stations.shp/.shx/.dbf/.prj/.cpg``: 2D WGS84 points with four
    string attributes (one with a dash in its name) and two numeric
    ones; every name is unique."""
    sys.path.insert(0, HERE)
    from polars_gdal_spark.sinks.shapefile_writer import write_shapefile

    rng = random.Random(7)
    fields = [
        ("name", "string"), ("marker-col", "string"), ("marker-sym", "string"),
        ("line", "string"), ("riders", "bigint"), ("elev", "double"),
    ]
    feats = []
    for i in range(N_STATIONS):
        line, color = LINES[i % len(LINES)]
        lon = round(-77.4 + rng.random() * 0.6, 6)
        lat = round(38.7 + rng.random() * 0.4, 6)
        props = {
            "name": f"Station {i:03d}",
            "marker-col": color,
            "marker-sym": "rail-metro" if i % 3 else "rail",
            "line": line,
            "riders": rng.randrange(500, 40_000),
            "elev": round(rng.random() * 120, 1),
        }
        feats.append((("Point", (lon, lat)), props))
    write_shapefile(os.path.join(OUT, "stations.shp"), fields, feats)


def cities_arrow(feats: list[dict]) -> None:
    """``cities.arrow``: the cities' names and WKB points, written by the
    Arrow part encoder and stitch as a one-task write would."""
    sys.path.insert(0, HERE)
    import pyarrow as pa
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    from polars_gdal_spark.geometry import geom_to_wkb
    from polars_gdal_spark.sinks.columnar import encode_part, stitch

    schema = StructType(
        [StructField("name", StringType()), StructField("geometry", BinaryType())]
    )
    batch = pa.RecordBatch.from_pylist([
        {"name": f["properties"]["name"],
         "geometry": geom_to_wkb(("Point", tuple(f["geometry"]["coordinates"])))}
        for f in feats
    ])
    path = os.path.join(OUT, "cities.arrow")
    _, summary = encode_part("arrow", [batch], path + ".part", {}, schema, "geometry")
    stitch("arrow", [path + ".part"], [summary], path, {}, schema, "geometry")
    os.remove(path + ".part")


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    rng = random.Random(42)
    feats = []
    rows = []
    for i in range(120):
        lon = round(-180 + rng.random() * 360, 6)
        lat = round(-60 + rng.random() * 120, 6)
        name = f"city_{i:03d}"
        pop = rng.randrange(10_000, 5_000_000)
        elev = round(rng.random() * 3000, 1)
        region = f"r{i % 7}"
        feats.append(
            {
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [lon, lat]},
                "properties": {
                    "name": name,
                    "population": pop,
                    "elevation": elev,
                    "region": region,
                },
            }
        )
        rows.append((name, pop, elev, region, lon, lat))

    with open(os.path.join(OUT, "cities.geojson"), "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f, indent=1)

    with open(os.path.join(OUT, "cities.csv"), "w") as f:
        f.write("name,population,elevation,region,lon,lat\n")
        for r in rows:
            f.write(",".join(str(v) for v in r) + "\n")

    # NDJSON variant (splittable GeoJSONSeq)
    with open(os.path.join(OUT, "cities.ndjson"), "w") as f:
        for feat in feats:
            f.write(json.dumps(feat) + "\n")

    cities_arrow(feats)
    stations()
    print(f"wrote {len(feats)} cities and {N_STATIONS} stations -> {OUT}")


if __name__ == "__main__":
    main()
