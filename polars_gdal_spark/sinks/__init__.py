"""Write-side format assembly.

Every ``gdal`` write driver has a part encoder and a stitch step
(``sinks.columnar``): the gdal writer runs the encoder in each write
task and only the stitch in ``commit()`` (reference write path
``src/lib.rs:499-573``). ``assemble`` runs the same two over Arrow IPC
part files, as write tasks would stage them, in process. Completes what
the reference left ``todo!()``: Date/Datetime/List values are written,
not panicked on (SURVEY §4.3.4).
"""

from __future__ import annotations

import os

from polars_gdal_spark.sinks.columnar import (
    encode_part,
    fragment_suffix,
    resolve_format,
    stitch,
)


def assemble(
    driver: str,
    parts: list[str],
    path: str,
    options: dict,
    schema,
    geom_col: str,
    gfmt: str = "wkb",
    append: bool = False,
) -> None:
    """Write the layer at ``path`` from IPC ``parts``: ``stitch`` over
    ``encode_part`` of each part, with the fragments beside the parts —
    the write tasks' and the commit's halves run in series."""
    import pyarrow as pa

    fmt = resolve_format(driver, path)
    if append and fmt != "gpkg":
        raise ValueError(f"append is only supported for GPKG, not {driver!r}")
    frags, summaries, made = [], [], []
    try:
        for p in sorted(parts):
            frag = p + fragment_suffix(fmt)
            made.append(frag)
            with pa.OSFile(p, "rb") as src:
                n, summary = encode_part(
                    fmt, pa.ipc.open_stream(src), frag, options, schema,
                    geom_col, gfmt,
                )
            if n:
                frags.append(frag)
                summaries.append(summary)
        stitch(fmt, frags, summaries, path, options, schema, geom_col, append)
    finally:
        for frag in made:
            if os.path.exists(frag):
                os.remove(frag)
