"""Driver protocol + registry.

A *resource* is a local path (str). A *layer* is a named sub-table
(GDAL's Dataset→Layer model, reference ``src/lib.rs:241-247``): GeoJSON
and CSV expose one layer; SQLite containers expose one per table.

Field dtypes use Spark DDL strings: ``bigint double string boolean
array<bigint> array<double> array<string> timestamp_ntz date``.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

from polars_gdal_spark.errors import UnsupportedFormatError


@dataclass
class Field:
    name: str
    dtype: str  # Spark DDL type string
    nullable: bool = True


@dataclass
class Feature:
    """One row from a layer: source FID, geometry, props.

    A driver sets ``wkb`` to canonical ISO WKB (little-endian, Z as
    type+1000 — exactly what ``geom_to_wkb`` would produce) whenever its
    decoder yields those bytes directly, e.g. shapefile records whose
    float64 (x, y) pairs are memcpy'd into the WKB body. Otherwise it
    sets ``geom`` to the internal ``(type, coords)`` tuple. The reader
    alone decides whether it needs the tuple (bbox refine, ``wkt`` or
    ``geojson`` output) and decodes ``wkb`` then. Both None means a null
    geometry."""

    fid: int | None
    geom: tuple | None
    props: dict = field(default_factory=dict)
    wkb: bytes | None = None


class FormatDriver:
    """Abstract driver. Subclasses register via ``register()``.

    A driver is a byte parser: it lists layers, describes their fields
    and yields ``Feature`` objects through one range-aware
    ``iter_features``. Output encoding (``geometryFormat``), attribute
    filters, offset/limit and the exact bbox test belong to the reader;
    a driver may read ``bbox`` only to prune what it decodes (an index
    pushdown), never to choose how it encodes geometry."""

    #: GDAL-style driver short name (used by the `drivers` allow-list
    #: option, reference ReadParams.allowed_drivers src/lib.rs:41-44).
    name: str = ""
    #: filename extensions this driver claims during probing
    extensions: tuple[str, ...] = ()

    def can_open(self, path: str, head: bytes) -> bool:
        """Content-based probe (GDAL driver-probing analogue)."""
        raise NotImplementedError

    def list_layers(self, path: str, options: dict) -> list[str]:
        raise NotImplementedError

    def layer_fields(self, path: str, layer: str, options: dict) -> list[Field]:
        """Declared/inferred attribute fields (geometry NOT included)."""
        raise NotImplementedError

    def iter_features(
        self,
        path: str,
        layer: str,
        options: dict,
        start: int | None = None,
        end: int | None = None,
    ) -> Iterator[Feature]:
        """Yield the layer's features in file order. With ``start`` and
        ``end`` (one pair from ``split_ranges``) yield only that range;
        FIDs stay those of the whole-layer read. A driver whose
        ``split_ranges`` returns None only ever sees both None."""
        raise NotImplementedError

    # -- optional capabilities -------------------------------------------
    def layer_crs(self, path: str, layer: str, options: dict) -> str | None:
        """CRS of the layer (WKT or 'EPSG:n'), if the format stores one.
        Carried as geometry-column metadata — strictly more than the
        reference keeps (it drops CRS on read, SURVEY §1.2)."""
        return None

    def feature_count(self, path: str, layer: str, options: dict) -> int | None:
        """Cheap count if the format stores one (else None)."""
        return None

    def layer_bbox(
        self, path: str, layer: str, options: dict
    ) -> tuple[float, float, float, float] | None:
        """Layer envelope if knowable from headers/indexes WITHOUT a
        feature scan (else None). Drives spatial partition pruning: a
        multi-file read with a ``bbox`` filter skips whole files whose
        envelope misses the box — the spatial analogue of parquet
        min/max partition pruning."""
        return None

    def split_ranges(
        self, path: str, layer: str, options: dict, target_splits: int
    ) -> list[tuple[int, int]] | None:
        """Optional intra-file parallelism: list of (start, end) feature
        index ranges that ``iter_features`` can read independently.
        None → the file is not splittable (e.g. one JSON document)."""
        return None

    def iter_arrow_batches(
        self,
        path: str,
        layer: str,
        options: dict,
        columns: list[tuple[str, str, str]],
        fid_col: str | None,
        geom_col: str,
        start: int | None = None,
        end: int | None = None,
    ):
        """Optional columnar decoder of a whole file or one
        ``split_ranges`` range. ``columns`` is the output attribute spec
        ``[(out_name, source_name, spark_ddl_type), ...]``.

        Return None to leave the file to the reader's feature loop over
        ``iter_features``, or an iterator of ``pyarrow.RecordBatch``
        whose columns are exactly ``[fid_col?] + [out_name...] +
        [geom_col]``: attribute types mirror the Spark schema, the
        geometry is canonical WKB, and the values equal what the feature
        loop would build. Decide before returning: once an iterator is
        returned the driver is committed to the whole file or range, and
        a value it cannot carry is an error, not a fallback. Offset,
        limits, filters, bbox and the output geometry format are the
        reader's; it asks only on WKB reads."""
        return None


def even_ranges(lo: int, hi: int, target_splits: int) -> list[tuple[int, int]]:
    """Cut ``[lo, hi)`` into at most ``target_splits`` contiguous
    ranges of one size (the last may be shorter) — the shared body of
    the drivers' ``split_ranges``."""
    step = max(1, -(-(hi - lo) // max(1, target_splits)))
    return [(s, min(s + step, hi)) for s in range(lo, hi, step)]


DRIVERS: list[FormatDriver] = []


def register(driver: FormatDriver) -> FormatDriver:
    DRIVERS.append(driver)
    return driver


def find_driver(
    path: str, allowed: list[str] | None = None
) -> FormatDriver:
    """Probe registered drivers (extension first, then content sniff),
    honoring the ``drivers`` allow-list (reference ``allowed_drivers``,
    ``src/lib.rs:41-44``)."""
    candidates = [
        d
        for d in DRIVERS
        if allowed is None or d.name.lower() in [a.lower() for a in allowed]
    ]
    try:
        with open(path, "rb") as f:
            head = f.read(4096)
    except OSError as e:
        raise UnsupportedFormatError(f"cannot open {path!r}: {e}") from e
    lowered = path.lower()
    for d in candidates:
        if any(lowered.endswith(ext) for ext in d.extensions) and d.can_open(
            path, head
        ):
            return d
    for d in candidates:
        if d.can_open(path, head):
            return d
    raise UnsupportedFormatError(
        f"no registered driver can open {path!r}"
        + (f" (allow-list: {allowed})" if allowed else "")
        + f"; supported formats: {sorted({d.name for d in DRIVERS})}"
    )
