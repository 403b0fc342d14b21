"""Geometry scalar functions — the engine's only custom scalar functions
(SURVEY §2.J): conversions between the three geometry encodings the
reference supports (``GeometryFormat``, reference ``src/lib.rs:126-139``),
plus coordinate accessors and bounds useful for spatial bucketing.

All are Arrow-batched pandas UDFs (the 10-100× faster Python path).
UDF objects are built lazily on the driver: decorating at module import
would crash executor-side imports (pandas_udf needs an active session).
"""

from __future__ import annotations

import json

import pandas as pd

_UDF_CACHE: dict[str, object] = {}


def _map(series: pd.Series, fn):
    return series.map(lambda v: None if v is None else fn(v))


def _impl_wkb_to_wkt(s: pd.Series) -> pd.Series:
    from polars_gdal_spark.geometry import wkb_to_wkt

    return _map(s, lambda v: wkb_to_wkt(bytes(v)))


def _impl_wkb_to_geojson(s: pd.Series) -> pd.Series:
    from polars_gdal_spark.geometry import wkb_to_geojson

    return _map(s, lambda v: json.dumps(wkb_to_geojson(bytes(v))))


def _impl_wkt_to_wkb(s: pd.Series) -> pd.Series:
    from polars_gdal_spark.geometry import wkt_to_wkb

    return _map(s, wkt_to_wkb)


def _impl_geojson_to_wkb(s: pd.Series) -> pd.Series:
    from polars_gdal_spark.geometry import geojson_to_wkb

    return _map(s, lambda v: geojson_to_wkb(json.loads(v)))


def _impl_geometry_type(s: pd.Series) -> pd.Series:
    from polars_gdal_spark.geometry import geometry_type_of_wkb

    return _map(s, lambda v: geometry_type_of_wkb(bytes(v)))


def _bounds(geom) -> tuple[float, float, float, float]:
    from polars_gdal_spark.geometry import geom_bounds

    bounds = geom_bounds(geom)
    if bounds is None:
        raise ValueError(f"empty {geom[0]} has no bounds")
    return bounds


def _impl_st_bounds(s: pd.Series) -> pd.DataFrame:
    from polars_gdal_spark.geometry import wkb_to_geom

    out = {"minx": [], "miny": [], "maxx": [], "maxy": []}
    for v in s:
        if v is None:
            for k in out:
                out[k].append(None)
        else:
            mnx, mny, mxx, mxy = _bounds(wkb_to_geom(bytes(v)))
            out["minx"].append(mnx)
            out["miny"].append(mny)
            out["maxx"].append(mxx)
            out["maxy"].append(mxy)
    return pd.DataFrame(out)


def _point_xy_vectorized(s: pd.Series):
    """Fast path: if every non-null value is a 21-byte little-endian WKB
    Point, decode all coordinates with one ``np.frombuffer`` instead of
    per-row Python parsing. Returns (xs, ys) float ndarrays, or None when
    the batch has nulls or isn't uniformly simple points (slow path keeps
    exact null semantics)."""
    import numpy as np

    vals = [None if v is None else bytes(v) for v in s]
    if not vals or any(
        v is None or len(v) != 21 or v[:5] != b"\x01\x01\x00\x00\x00"
        for v in vals
    ):
        return None
    buf = np.frombuffer(b"".join(vals), dtype=np.uint8).reshape(-1, 21)
    xy = buf[:, 5:21].copy().view("<f8").reshape(-1, 2)
    return xy[:, 0].copy(), xy[:, 1].copy()


def _impl_st_x(s: pd.Series) -> pd.Series:
    from polars_gdal_spark.geometry import wkb_to_geom

    fast = _point_xy_vectorized(s)
    if fast is not None:
        return pd.Series(fast[0])

    def fn(v):
        t, c = wkb_to_geom(bytes(v))
        return float(c[0]) if t == "Point" else None

    return _map(s, fn)


def _impl_st_y(s: pd.Series) -> pd.Series:
    from polars_gdal_spark.geometry import wkb_to_geom

    fast = _point_xy_vectorized(s)
    if fast is not None:
        return pd.Series(fast[1])

    def fn(v):
        t, c = wkb_to_geom(bytes(v))
        return float(c[1]) if t == "Point" else None

    return _map(s, fn)


def _impl_st_grid_cell(s: pd.Series) -> pd.Series:
    import math

    from polars_gdal_spark.geometry import wkb_to_geom

    def fn(v):
        mnx, mny, mxx, mxy = _bounds(wkb_to_geom(bytes(v)))
        cx, cy = (mnx + mxx) / 2, (mny + mxy) / 2
        return f"{int(math.floor(cx))}:{int(math.floor(cy))}"

    return _map(s, fn)


def _impl_st_covering_cells(s: pd.Series, cell: pd.Series) -> pd.Series:
    import math

    from polars_gdal_spark.geometry import wkb_to_geom

    def fn(v, c):
        if v is None:
            return None
        mnx, mny, mxx, mxy = _bounds(wkb_to_geom(bytes(v)))
        return [
            f"{i}:{j}"
            for i in range(math.floor(mnx / c), math.floor(mxx / c) + 1)
            for j in range(math.floor(mny / c), math.floor(mxy / c) + 1)
        ]

    return pd.Series([fn(v, c) for v, c in zip(s, cell)])


def _rings_of(geom):
    t, c = geom
    if t == "Polygon":
        return c
    if t == "MultiPolygon":
        return [r for poly in c for r in poly]
    raise ValueError(f"st_contains_xy needs Polygon/MultiPolygon, got {t}")


def _poly_edges(wkb: bytes):
    """Parse a polygon WKB once into packed numpy edge arrays
    (x1, y1, x2, y2) over every ring (shells + holes, even-odd)."""
    import numpy as np

    from polars_gdal_spark.geometry import wkb_to_geom

    x1s, y1s, x2s, y2s = [], [], [], []
    for ring in _rings_of(wkb_to_geom(wkb)):
        arr = np.asarray(ring, dtype=np.float64)[:, :2]
        x1s.append(arr[:-1, 0])
        y1s.append(arr[:-1, 1])
        x2s.append(arr[1:, 0])
        y2s.append(arr[1:, 1])
    cat = np.concatenate
    return cat(x1s), cat(y1s), cat(x2s), cat(y2s)


def _impl_st_contains_xy(
    s: pd.Series, xs: pd.Series, ys: pd.Series
) -> pd.Series:
    """Even-odd ray cast over all rings (holes subtract).

    Vectorized per unique polygon: a spatial-join batch repeats few
    polygons across many candidate points, so each distinct WKB is parsed
    once into packed edge arrays and all its points are tested in one
    (points × edges) numpy broadcast — identical IEEE expression to the
    scalar ray cast (``x < x1 + (y-y1)*(x2-x1)/(y2-y1)``), so results are
    bit-for-bit the same as the per-row loop it replaces."""
    import numpy as np

    out = np.empty(len(s), dtype=object)
    vals = s.to_numpy(dtype=object)
    pxs = xs.to_numpy(dtype=object)
    pys = ys.to_numpy(dtype=object)
    groups: dict[bytes, list[int]] = {}
    for i, v in enumerate(vals):
        if v is None or pxs[i] is None or pys[i] is None:
            out[i] = None
        else:
            groups.setdefault(bytes(v), []).append(i)
    for wkb, idx in groups.items():
        x1, y1, x2, y2 = _poly_edges(wkb)
        ii = np.asarray(idx, dtype=np.int64)
        px = np.asarray([pxs[i] for i in idx], dtype=np.float64)[:, None]
        py = np.asarray([pys[i] for i in idx], dtype=np.float64)[:, None]
        straddles = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        crossings = (straddles & (px < xint)).sum(axis=1)
        inside = (crossings % 2).astype(bool)
        for k, i in enumerate(ii):
            out[i] = bool(inside[k])
    return pd.Series(out, dtype="object")


def _polys_of(geom):
    t, c = geom
    if t == "Polygon":
        return [c]
    if t == "MultiPolygon":
        return c
    return []


def _ring_terms(ring):
    """(2*signed_area, 6*cx*area-ish, 6*cy*area-ish) shoelace sums,
    vectorized over the ring's vertex array (one numpy pass per ring
    instead of an interpreted per-vertex loop).

    Integer/half-integer coordinates stay exact in doubles, which is what
    keeps these bit-identical to an arithmetic SQL oracle."""
    import numpy as np

    arr = np.asarray(ring, dtype=np.float64)[:, :2]
    x1, y1 = arr[:-1, 0], arr[:-1, 1]
    x2, y2 = arr[1:, 0], arr[1:, 1]
    cross = x1 * y2 - x2 * y1
    return (
        float(np.add.reduce(cross)),
        float(np.add.reduce((x1 + x2) * cross)),
        float(np.add.reduce((y1 + y2) * cross)),
    )


def _impl_st_area(s: pd.Series) -> pd.Series:
    """Planar area; shell minus holes, like OGR's OGR_GEOM_AREA special
    field (reference surface: OGR SQL dialect, SURVEY §2.D). Non-areal
    geometries → 0.0 (OGR convention)."""
    from polars_gdal_spark.geometry import wkb_to_geom

    def fn(v):
        area = 0.0
        for rings in _polys_of(wkb_to_geom(bytes(v))):
            area += abs(_ring_terms(rings[0])[0]) / 2
            for hole in rings[1:]:
                area -= abs(_ring_terms(hole)[0]) / 2
        return area

    return _map(s, fn)


def _curves_of(geom):
    t, c = geom
    if t == "LineString":
        return [c]
    if t == "MultiLineString":
        return c
    return []


def _segments_length(pts) -> float:
    """Polyline length of one vertex sequence, vectorized (numpy diff +
    hypot over the packed coordinate array; elementwise IEEE identical
    to the per-segment ``math.sqrt`` loop it replaces)."""
    import numpy as np

    arr = np.asarray(pts, dtype=np.float64)[:, :2]
    d = np.diff(arr, axis=0)
    return float(np.add.reduce(np.sqrt(d[:, 0] ** 2 + d[:, 1] ** 2)))


def _impl_st_length(s: pd.Series) -> pd.Series:
    """Curve length (LineString/MultiLineString); 0.0 otherwise —
    matches OGR Geometry.Length() semantics (curves only)."""
    from polars_gdal_spark.geometry import wkb_to_geom

    def fn(v):
        total = 0.0
        for line in _curves_of(wkb_to_geom(bytes(v))):
            total += _segments_length(line)
        return total

    return _map(s, fn)


def _impl_st_perimeter(s: pd.Series) -> pd.Series:
    """Sum of all ring lengths (shells + holes) of areal geometries."""
    from polars_gdal_spark.geometry import wkb_to_geom

    def fn(v):
        total = 0.0
        for rings in _polys_of(wkb_to_geom(bytes(v))):
            for ring in rings:
                total += _segments_length(ring)
        return total

    return _map(s, fn)


def _impl_st_centroid(s: pd.Series) -> pd.DataFrame:
    """Area-weighted centroid (holes subtract) for Polygon/MultiPolygon;
    the point itself for Point; null x/y otherwise."""
    from polars_gdal_spark.geometry import wkb_to_geom

    xs, ys = [], []
    for v in s:
        if v is None:
            xs.append(None)
            ys.append(None)
            continue
        geom = wkb_to_geom(bytes(v))
        t, c = geom
        if t == "Point":
            xs.append(float(c[0]))
            ys.append(float(c[1]))
            continue
        polys = _polys_of(geom)
        if not polys:
            xs.append(None)
            ys.append(None)
            continue
        A2 = CX6 = CY6 = 0.0
        for rings in polys:
            for ridx, ring in enumerate(rings):
                a2, cx6, cy6 = _ring_terms(ring)
                orient = 1.0 if a2 >= 0 else -1.0  # normalize to CCW
                hole = -1.0 if ridx > 0 else 1.0  # holes subtract
                A2 += hole * orient * a2
                CX6 += hole * orient * cx6
                CY6 += hole * orient * cy6
        xs.append(CX6 / (3 * A2) if A2 != 0 else None)
        ys.append(CY6 / (3 * A2) if A2 != 0 else None)
    return pd.DataFrame({"x": xs, "y": ys})


def _impl_hilbert_xy(x: pd.Series, y: pd.Series) -> pd.Series:
    """Hilbert distance of pre-scaled grid cells (int64, 2^16 grid) —
    numpy-vectorized twin of the FlatGeobuf writer's ``_hilbert_d``
    (sources/formats/flatgeobuf.py; equality pinned by pytest). Used by
    :func:`spatial_cluster` to order rows so nearby geometries land in
    the same parquet row groups."""
    import numpy as np

    order = 16
    gx = x.to_numpy(dtype=np.int64, na_value=0).copy()
    gy = y.to_numpy(dtype=np.int64, na_value=0).copy()
    d = np.zeros(len(gx), dtype=np.int64)
    s = 1 << (order - 1)
    while s > 0:
        rx = ((gx & s) > 0).astype(np.int64)
        ry = ((gy & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        m = ry == 0
        refl = m & (rx == 1)
        gx2 = np.where(refl, s - 1 - gx, gx)
        gy2 = np.where(refl, s - 1 - gy, gy)
        nx = np.where(m, gy2, gx2)
        ny = np.where(m, gx2, gy2)
        gx, gy = nx, ny
        s >>= 1
    return pd.Series(d)


def _impl_st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    """Euclidean distance between two Point geometries (null for other
    types — planar point distance, the OGR Distance() fast path).

    Batch fast path: when both sides are uniformly simple WKB points,
    all coordinates decode with one ``np.frombuffer`` each and the
    distance is a single vectorized hypot (elementwise IEEE identical
    to the scalar ``math.sqrt`` expression)."""
    import math

    import numpy as np

    from polars_gdal_spark.geometry import wkb_to_geom

    fa = _point_xy_vectorized(a)
    fb = _point_xy_vectorized(b)
    if fa is not None and fb is not None:
        dx = fa[0] - fb[0]
        dy = fa[1] - fb[1]
        return pd.Series(np.sqrt(dx * dx + dy * dy), dtype="float64")

    def fn(va, vb):
        if va is None or vb is None:
            return None
        ta, ca = wkb_to_geom(bytes(va))
        tb, cb = wkb_to_geom(bytes(vb))
        if ta != "Point" or tb != "Point":
            return None
        dx = ca[0] - cb[0]
        dy = ca[1] - cb[1]
        return math.sqrt(dx * dx + dy * dy)

    return pd.Series([fn(va, vb) for va, vb in zip(a, b)], dtype="float64")


_SPECS = {
    "wkb_to_wkt_col": (_impl_wkb_to_wkt, "string"),
    "wkb_to_geojson_col": (_impl_wkb_to_geojson, "string"),
    "wkt_to_wkb_col": (_impl_wkt_to_wkb, "binary"),
    "geojson_to_wkb_col": (_impl_geojson_to_wkb, "binary"),
    "geometry_type_col": (_impl_geometry_type, "string"),
    "st_bounds": (
        _impl_st_bounds,
        "struct<minx:double,miny:double,maxx:double,maxy:double>",
    ),
    "st_x": (_impl_st_x, "double"),
    "st_y": (_impl_st_y, "double"),
    "st_grid_cell": (_impl_st_grid_cell, "string"),
    "st_covering_cells": (_impl_st_covering_cells, "array<string>"),
    "st_contains_xy": (_impl_st_contains_xy, "boolean"),
    "st_area": (_impl_st_area, "double"),
    "st_length": (_impl_st_length, "double"),
    "st_perimeter": (_impl_st_perimeter, "double"),
    "st_centroid": (_impl_st_centroid, "struct<x:double,y:double>"),
    "st_distance": (_impl_st_distance, "double"),
    "hilbert_xy": (_impl_hilbert_xy, "bigint"),
}


def spatial_cluster(
    df,
    geom_col: str = "geometry",
    n_partitions: int = 8,
    order: int = 16,
):
    """Spatial zone-map clustering for parquet writes: order rows along
    a Hilbert curve of their centroids so each output file/row-group
    covers a small spatial neighborhood, then a bbox read
    (``WHERE cx BETWEEN ... AND cy BETWEEN ...``) prunes most row
    groups at the parquet footer — the 2-D analogue of the 1-D
    ``repartitionByRange`` zone maps (``tests/test_write_layout.py``).

    Adds ``cx``/``cy`` (centroid, the filterable columns carrying the
    min/max statistics) and ``hilbert`` (the cluster key), then
    ``repartitionByRange`` + ``sortWithinPartitions`` on it. The corpus
    envelope comes from one cheap min/max aggregate (four doubles to
    the driver). Rows with null geometry sort last (grid cell 0).

    At 100 TB: the envelope agg is one scan's map-side min/max; the
    range partitioner samples the hilbert key as usual; nothing is
    driver-sized except the four bounds."""
    import pyspark.sql.functions as F

    sx_udf, sy_udf, h_udf = _udf("st_x"), _udf("st_y"), _udf("hilbert_xy")
    bounds = df.select(
        F.min(sx_udf(F.col(geom_col))).alias("x0"),
        F.max(sx_udf(F.col(geom_col))).alias("x1"),
        F.min(sy_udf(F.col(geom_col))).alias("y0"),
        F.max(sy_udf(F.col(geom_col))).alias("y1"),
    ).first()
    if bounds["x0"] is None:
        raise ValueError("spatial_cluster: no non-null geometries")
    sx = (bounds["x1"] - bounds["x0"]) or 1.0
    sy = (bounds["y1"] - bounds["y0"]) or 1.0
    n = (1 << order) - 1
    cx = sx_udf(F.col(geom_col))
    cy = sy_udf(F.col(geom_col))
    gx = F.floor((cx - F.lit(bounds["x0"])) / F.lit(sx) * n).cast("bigint")
    gy = F.floor((cy - F.lit(bounds["y0"])) / F.lit(sy) * n).cast("bigint")
    out = (
        df.withColumn("cx", cx)
        .withColumn("cy", cy)
        .withColumn(
            "hilbert",
            h_udf(F.coalesce(gx, F.lit(0)), F.coalesce(gy, F.lit(0))),
        )
    )
    return out.repartitionByRange(n_partitions, "hilbert").sortWithinPartitions(
        "hilbert"
    )


def spatial_join_points_in_polygons(
    points,
    polygons,
    cell_size: float = 1.0,
    point_geom: str = "geometry",
    poly_geom: str = "geometry",
):
    """Distributed point-in-polygon join (SURVEY §2.E, new capability).

    Scale design: polygons explode to their grid covering cells, points
    key to one cell, the candidate set comes from an **equi-join on the
    cell key** (shuffle on a bounded uniform key — never a cross join),
    and the exact even-odd containment test refines candidates in an
    Arrow-batched UDF. A polygon spanning k cells appears k× in the
    build side; the refine keeps one row per (point, polygon) because a
    point matches in exactly its own cell. At 100 TB, ``cell_size``
    trades replication (small cells) against candidate fan-in (big
    cells); AQE handles residual cell skew (coastal-city effect).
    """
    import pyspark.sql.functions as F

    polys_c = polygons.withColumn(
        "_cell",
        F.explode(
            _udf("st_covering_cells")(
                F.col(poly_geom), F.lit(float(cell_size))
            )
        ),
    )
    pts_c = (
        points.withColumn("_px", _udf("st_x")(F.col(point_geom)))
        .withColumn("_py", _udf("st_y")(F.col(point_geom)))
        .withColumn(
            "_cell",
            F.concat_ws(
                ":",
                F.floor(F.col("_px") / cell_size).cast("long"),
                F.floor(F.col("_py") / cell_size).cast("long"),
            ),
        )
    )
    joined = pts_c.join(polys_c, "_cell")
    return joined.where(
        _udf("st_contains_xy")(
            F.col(poly_geom), F.col("_px"), F.col("_py")
        )
    ).drop("_cell", "_px", "_py")


def _udf(name: str):
    if name not in _UDF_CACHE:
        from pyspark.sql.functions import pandas_udf

        impl, rtype = _SPECS[name]
        _UDF_CACHE[name] = pandas_udf(rtype)(impl)
    return _UDF_CACHE[name]


def __getattr__(name: str):
    """Lazy UDF access: ``geo.wkb_to_wkt_col`` builds the pandas UDF on
    first use (driver side), so executor imports of this module stay
    session-free."""
    if name in _SPECS:
        return _udf(name)
    raise AttributeError(name)


# docstring anchors for the public surface -------------------------------
# wkb_to_wkt_col(col)      WKB binary -> WKT string (src/lib.rs:394-399)
# wkb_to_geojson_col(col)  WKB binary -> GeoJSON string (src/lib.rs:400-405;
#                          the reference's write-side GeoJSON was todo!())
# wkt_to_wkb_col(col)      WKT string -> WKB binary (src/lib.rs:725-731)
# geojson_to_wkb_col(col)  GeoJSON string -> WKB binary
# geometry_type_col(col)   geometry type name (writer sniff, src/lib.rs:529-540)
# st_bounds(col)           bbox struct for spatial bucketing
# st_x/st_y(col)           Point accessors
# st_grid_cell(col)        1-degree grid key (spatial-join blocking)
# st_covering_cells(col, cell)  bbox covering-cell keys (poly build side)
# st_contains_xy(poly, x, y)    exact even-odd containment (refine step)
# spatial_join_points_in_polygons(pts, polys)  distributed PIP join
# st_area(col)             planar area, holes subtract (OGR_GEOM_AREA parity)
# st_length(col)           curve length (OGR Length(): curves only)
# st_perimeter(col)        ring-length sum of areal geometries
# st_centroid(col)         struct<x,y> area-weighted centroid
# st_distance(a, b)        planar point-point distance


def spatial_knn_join(
    pts,
    id_col: str,
    x_col: str,
    y_col: str,
    k: int = 3,
    cell: float | None = None,
    target_per_cell: int = 64,
    on_underfill: str | None = None,
    escalate_cap: int = 1_000_000,
):
    """Grid-blocked k-nearest-neighbour SELF-join over a point set too
    large to broadcast: points collapse to coordinate SITES, sites key
    to grid cells, the candidate side replicates site rows (each
    carrying a bounded k+1-id candidate list) to its 3x3 cell
    neighbourhood — constant-factor replication of the SITE table,
    never of the point set — and the per-point top-k is a rank-limited
    window. No cross join at any scale.

    **Site-collapsed candidates (round 6)**: real point sets repeat
    coordinates (city centroids, snapped GPS, lattice fixtures) — a
    point-level grid join pairs every co-located twin with every other,
    which is O(n²/|sites|) no matter how the grid is sized (measured
    43 s at sf1 on a 1000-site fixture, n·n/1000 pairs). Points
    therefore collapse to coordinate SITES first:

    * per site, a rank-limited window keeps the ``k+1`` smallest ids —
      the only members that can ever appear in ANY result (rank ties
      break by ascending id, so at equal distance only a site's k+1
      smallest ids are reachable); WindowGroupLimit truncates map-side;
    * a DENSE site (count > k) answers its own points locally: the true
      k-NN of a co-located point are k of its distance-0 twins, which
      beat every cross-site candidate — no grid work at all;
    * only points at SPARSE sites (count <= k) probe the grid, against
      the 3x3 cell neighbourhood of the site table (each site
      contributing its k+1-id candidate list).

    Work is O(n) local + O(sparse_points · 9 · target_per_cell · (k+1));
    with all-distinct coordinates every site is sparse with a 1-id list
    and the operator degrades to the classic grid kNN join.

    **Adaptive cell size**: with ``cell=None`` (default) the grid
    tracks SITE density — one bounded aggregate over the site table
    reads (n_sites, extent) and sizes cells to ~``target_per_cell``
    sites each (area-derived, with a 1-D fallback bound for degenerate
    extents). A fixed cell over a fixed domain is the round-4
    fixed-K-LSH disease: occupancy grows with the corpus.

    EXACTNESS CONTRACT: the 3x3 neighbourhood contains every site
    within Euclidean distance ``cell``, so pass 1 returns the true k-NN
    whenever each sparse point's k-th neighbour lies within ``cell``
    (dense points resolve exactly at distance 0 regardless). On
    clustered data an isolated point's k-th neighbour can exceed the
    adaptive cell — ``on_underfill`` makes that margin observable
    instead of silently truncating (round-7 verdict/ADVICE item):

    * ``"escalate"`` (default when ``cell is None``): under-fill is
      detected by COUNT, not by sentinel rows (round 8 — the round-7
      sentinel shape taxed every corpus 2× even with zero under-filled
      points, paying the sentinel union, an extra persist consumer and
      a lazy broadcast-count assert unconditionally): a point is
      complete iff it has a rank-``k`` row, so
      ``|under| = |points| − count(rank == k rows)`` — two cheap
      driver-side counts over the point set and the persisted
      rank-limited result (this makes the builder EAGER in escalate
      mode, like the adaptive-cell aggregate already was). When
      ``|under| == 0`` — every corpus where the density assumption
      holds — the pass-1 result is returned as-is: the exactness
      premium is two counts, nothing else. Otherwise the under-filled
      points (the isolated-outlier tail) are re-answered EXACTLY by a
      bounded second probe: broadcast(under) nested-loop against the
      persisted SITE table (each site again contributing only its
      k+1-id reachable list), never a rescan of the point set. The
      output is the true k-NN for every point, unconditionally. The
      probe's cost contract is ENFORCED: the builder raises
      ``ValueError`` when |under| > ``escalate_cap`` (default 1M) —
      a corpus that violates the density assumption badly enough to
      make the broadcast nested loop expensive fails loudly BEFORE
      the probe runs; switch to an explicit ``cell`` or ``"flag"``
      there.
    * ``"flag"``: pass-1 rows gain a ``complete`` boolean column
      (false when the point found < k); a point with ZERO in-radius
      neighbours emits one ``(id, NULL neighbor, NULL rank, NULL
      dist, complete=false)`` marker row, so no point ever silently
      vanishes.
    * ``"ignore"`` (default when ``cell`` is explicit): the classic
      fixed-radius kNN-join contract — neighbours beyond ``cell`` are
      out of scope by definition, under-filled points return what the
      radius admits.

    The driver's brute-force oracle hash-check verifies the escalated
    plan end-to-end; ``tests/test_stats.py`` pins an isolated-outlier
    fixture where the adaptive cell provably misses the true k-th
    neighbour and escalation repairs it.

    The returned DataFrame exposes ``unpersist_sources()`` — call it
    after the plan is materialized to release the persisted site
    table (library callers looping over many joins would otherwise
    accumulate cached relations; the bench's clearCache hid this).
    """
    import math

    import pyspark.sql.functions as F
    from pyspark import StorageLevel
    from pyspark.sql import Window

    adaptive = cell is None
    if on_underfill is None:
        on_underfill = "escalate" if adaptive else "ignore"
    if on_underfill not in ("ignore", "flag", "escalate"):
        raise ValueError(
            "on_underfill must be 'ignore', 'flag' or 'escalate', got "
            f"{on_underfill!r}"
        )

    # NULL-coordinate rows have no defined location and are excluded
    # up front (review round 8): every pre-r8 path already dropped
    # them implicitly (NULL never equi-joins a site and NULL distances
    # fail the radius filter), but the count-based escalate detection
    # would otherwise count them as permanently under-filled — and the
    # brute probe's NULLS-FIRST distance ordering would then emit k
    # garbage NULL-distance rows per such point.
    base = pts.select(
        F.col(id_col).alias("_id"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).where(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    wsite = Window.partitionBy("_x", "_y").orderBy(F.asc("_id"))
    ranked = base.withColumn("_r", F.row_number().over(wsite))
    # one row per site: truncated member count + the k+1 smallest ids
    # (bounded array — a collect_list over the RAW site would be
    # unbounded at a hot coordinate). _c is counted AFTER the rank
    # filter, i.e. _c = min(count, k+1): stacking a count(*) window on
    # the same partition key would defeat InferWindowGroupLimit (a
    # Filter above a non-rank window doesn't qualify), shuffling every
    # row of a hot coordinate into one untruncated window partition —
    # and min(count, k+1) <= k is equivalent to count <= k, which is
    # the only question the sparse/dense split asks. Persisted: read by
    # the local path, the sparse probe side, the grid build side, and
    # the adaptive-cell aggregate.
    site_top = (
        ranked.where(F.col("_r") <= k + 1)
        .groupBy("_x", "_y")
        .agg(
            F.count("*").alias("_c"),
            F.sort_array(F.collect_list("_id")).alias("_cand"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if cell is None:
        # bounded driver scalar over the SITE table (adaptive_planes
        # idiom): area-derived occupancy with a 1-D fallback for
        # degenerate extents
        stats = site_top.agg(
            F.count("*").alias("n"),
            (F.max("_x") - F.min("_x")).alias("ex"),
            (F.max("_y") - F.min("_y")).alias("ey"),
        ).first()
        n_sites = max(stats["n"] or 0, 1)
        ex = max(stats["ex"] or 0.0, 0.0)
        ey = max(stats["ey"] or 0.0, 0.0)
        cell = max(
            math.sqrt(ex * ey * target_per_cell / n_sites),
            max(ex, ey) * target_per_cell / n_sites,
            1e-9,
        )
    # local candidates: every point vs its own site's k+1 smallest ids
    local = base.join(site_top, ["_x", "_y"]).select(
        "_id",
        "_x",
        "_y",
        F.explode("_cand").alias("_nid"),
        F.col("_x").alias("_nx"),
        F.col("_y").alias("_ny"),
    )
    # cross-site candidates: only sparse-site points probe the grid
    cx = F.floor(F.col("_x") / cell).cast("bigint")
    cy = F.floor(F.col("_y") / cell).cast("bigint")
    sparse = (
        base.join(
            site_top.where(F.col("_c") <= k).select("_x", "_y"),
            ["_x", "_y"],
            "left_semi",
        )
        .select("_id", "_x", "_y", cx.alias("_cx"), cy.alias("_cy"))
    )
    off = F.explode(F.sequence(F.lit(-1), F.lit(1)))
    nbr_sites = (
        site_top.select(
            F.col("_x").alias("_nx"),
            F.col("_y").alias("_ny"),
            "_cand",
            cx.alias("_bcx"),
            cy.alias("_bcy"),
        )
        .withColumn("_dx", off)
        .withColumn("_dy", off)
        .select(
            "_nx", "_ny", "_cand",
            (F.col("_bcx") + F.col("_dx")).alias("_cx"),
            (F.col("_bcy") + F.col("_dy")).alias("_cy"),
        )
    )
    cross = (
        sparse.join(nbr_sites, ["_cx", "_cy"])
        .where((F.col("_nx") != F.col("_x")) | (F.col("_ny") != F.col("_y")))
        .select(
            "_id", "_x", "_y",
            F.explode("_cand").alias("_nid"), "_nx", "_ny",
        )
    )
    d = F.sqrt(
        (F.col("_x") - F.col("_nx")) * (F.col("_x") - F.col("_nx"))
        + (F.col("_y") - F.col("_ny")) * (F.col("_y") - F.col("_ny"))
    )
    w = Window.partitionBy("_id").orderBy(F.asc("_dist"), F.asc("_nid"))
    final_cols = [
        F.col("_id").alias(id_col),
        F.col("_nid").alias("neighbor_id"),
        F.col("_rk").alias("rank"),
        F.col("_dist").alias("dist"),
    ]

    from polars_gdal_spark.functions import attach_unpersist

    _persisted = [site_top]

    def _attach_unpersist(df):
        return attach_unpersist(df, *_persisted)

    cand = (
        local.unionAll(cross)
        .where(F.col("_nid") != F.col("_id"))
        .withColumn("_dist", d)
        .where(F.col("_dist") <= F.lit(cell))
    )
    if on_underfill == "ignore":
        return _attach_unpersist(
            cand.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .select(*final_cols)
        )

    if on_underfill == "escalate":
        # Count-based under-fill detection (round 8): row_number is
        # dense from 1, so a point is complete iff a rank-k row
        # exists — dense-site points always are (k+1 candidate ids
        # minus self >= k distance-0 rows within any radius), and a
        # zero-candidate point is visible as |points| - count(_rk==k)
        # without any sentinel row. out1 is persisted because the
        # completeness count and the returned rows both read it (it
        # is rank-limited, i.e. output-sized <= n*k rows).
        out1 = (
            cand.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        _persisted.append(out1)
        n_points = base.count()
        n_complete = out1.where(F.col("_rk") == k).count()
        n_under = n_points - n_complete
        if n_under == 0:
            return _attach_unpersist(out1.select(*final_cols))
        if n_under > int(escalate_cap):
            for r in _persisted:
                r.unpersist()
            raise ValueError(
                f"spatial_knn_join: escalation would probe {n_under} "
                f"under-filled points (> escalate_cap="
                f"{int(escalate_cap)}); the corpus violates the "
                "adaptive-density assumption — pass an explicit cell "
                "(fixed-radius contract) or on_underfill='flag', or "
                "raise escalate_cap"
            )
        # under-filled points (the isolated-outlier tail) are
        # re-answered exactly by one bounded probe: broadcast(under)
        # x the persisted SITE table (k+1-id reachable lists — the
        # same argument as the grid path: at equal distance only a
        # site's k+1 smallest ids can rank), NOT a rescan of the
        # point set.
        complete_ids = out1.where(F.col("_rk") == k).select("_id")
        # keep: complete points' rows, selected by a count window on
        # the _id partitioning the rank window already established —
        # no join, no extra Exchange (rows are rank-filtered to 1..k,
        # so count == k  <=>  the rank-k row exists)
        keep = (
            out1.withColumn(
                "_nk", F.count("*").over(Window.partitionBy("_id"))
            )
            .where(F.col("_nk") >= k)
        )
        under = base.join(complete_ids, "_id", "left_anti").select(
            "_id", F.col("_x").alias("_px"), F.col("_y").alias("_py")
        )
        brute = (
            site_top.select(
                F.col("_x").alias("_nx"), F.col("_y").alias("_ny"), "_cand"
            )
            .crossJoin(F.broadcast(under))
            .select(
                "_id",
                F.col("_px").alias("_x"),
                F.col("_py").alias("_y"),
                F.explode("_cand").alias("_nid"),
                "_nx",
                "_ny",
            )
            .where(F.col("_nid") != F.col("_id"))
            .withColumn("_dist", d)
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
        )
        return _attach_unpersist(
            keep.select(*final_cols).unionAll(brute.select(*final_cols))
        )

    # flag: every SPARSE point (dense points always return
    # exactly k distance-0 rows) rides an infinite-distance sentinel
    # through the SAME rank window — the sentinel survives the
    # rank <= k filter iff the point found < k in-radius neighbours,
    # turning the silent-truncation case into a per-point signal with
    # no extra shuffle (the completeness max() reuses the _id
    # partitioning the rank window already established).
    sent = sparse.select(
        "_id",
        "_x",
        "_y",
        F.col("_id").alias("_nid"),
        F.col("_x").alias("_nx"),
        F.col("_y").alias("_ny"),
        F.lit(float("inf")).alias("_dist"),
        F.lit(1).alias("_sent"),
    )
    flagged = (
        cand.withColumn("_sent", F.lit(0))
        .unionAll(sent)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .withColumn("_short", F.max("_sent").over(Window.partitionBy("_id")))
    )
    if on_underfill == "flag":
        # keep the sentinel only when it is the point's ONLY row
        # (zero in-radius neighbours) — emitted as a NULL-neighbour
        # marker so the point is visible in the output
        null_if_sent = lambda c: F.when(  # noqa: E731
            F.col("_sent") == 1, F.lit(None)
        ).otherwise(F.col(c))
        return _attach_unpersist(
            flagged.where((F.col("_sent") == 0) | (F.col("_rk") == 1))
            .select(
                F.col("_id").alias(id_col),
                null_if_sent("_nid").alias("neighbor_id"),
                null_if_sent("_rk").cast("int").alias("rank"),
                null_if_sent("_dist").alias("dist"),
                (F.col("_short") == 0).alias("complete"),
            )
        )

