"""Local stand-in for the driver's correctness gate.

Runs every query in the registry on Spark and its DuckDB oracle on the
same sf dir, then compares row count, column names, and exact cell values
(order-insensitive) — stricter than a hash, so a pass here implies a
hash match.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from polars_gdal_spark.queries import QUERIES, TABLE_NAMES  # noqa: E402
from polars_gdal_spark.session import get_spark  # noqa: E402


def normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = repr(v)
            vals.append((c, str(v) if v is not None else "<NULL>"))
        out.append(tuple(v for _, v in sorted(vals)))
    return sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    failures = []
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        df = None
        try:
            df = spec.func(spark, sf_dir)
            sdf = df.toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        finally:
            # release operator-internal persists the way a looping
            # library consumer would (round-7 ADVICE) — in a finally,
            # so a failing query doesn't leak its already-persisted
            # relations into the remaining ~190 queries of the sweep
            if df is not None:
                getattr(df, "unpersist_sources", lambda: None)()
        if spec.oracle is None:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(spec.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: oracle error: {e}")
            continue
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            failures.append(name)
            print(f"FAIL {name}: columns {scols} vs {ocols}")
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            print(f"FAIL {name}: rows {len(sdf)} vs {len(odf)}")
            continue
        s_rows = normalize(sdf.to_dict("records"), scols)
        o_rows = normalize(odf.to_dict("records"), ocols)
        if s_rows != o_rows:
            failures.append(name)
            ndiff = sum(1 for a, b in zip(s_rows, o_rows) if a != b)
            print(f"FAIL {name}: {ndiff}/{len(s_rows)} rows differ")
            for a, b in zip(s_rows, o_rows):
                if a != b:
                    print(f"  spark : {a}\n  oracle: {b}")
                    break
        else:
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
