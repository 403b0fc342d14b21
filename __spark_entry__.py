"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 (+ the
LLM-pipeline operators), as (spark, sf_dir) -> DataFrame callables.
``oracle_sql()`` — matching DuckDB SQL for every SQL-expressible query.

The real inventory lives in ``polars_gdal_spark.queries``; this module is
a thin adapter so the driver and the library share one registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from polars_gdal_spark.queries import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q3-style shipping priority) on sf0.001."""
    return QUERIES["q3_shipping_priority"].func(spark, "/root/testdata/sf0.001")


def _last_verified_round() -> dict[str, int]:
    """Map query name -> latest driver round with a green (hash_match) row.

    Round 1 showed the driver's CORRECTNESS sweep may stop before the full
    registry (exactly the first 50 dict keys got rows). With every query now
    carrying at least one green row, a static "unverified first" ordering
    would degenerate to registration order and re-verify the same 50
    forever; instead each sweep refreshes the *stalest* verifications.
    """
    import glob
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError, IndexError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match") is True:
                last[name] = max(last.get(name, 0), rnd)
    return last


# Queries whose implementation or parameters changed, mapped to the
# round the change landed in: a green driver row from an EARLIER round
# no longer attests the current code, so such entries sort as
# never-verified until a green row at round >= the change round lands
# — after which they expire automatically (round-7 ADVICE: the old
# hand-maintained set kept pinning already-re-verified queries at the
# head of every sweep, displacing genuinely-stale rows).
CHANGED_IN_ROUND = {
    # (r10 entries expired: all 8 landed green r10 driver rows —
    # CORRECTNESS_r10.json — so they sort by staleness again)
    # (r11 entries expired: all 14 changed queries landed green r11
    # driver rows — CORRECTNESS_r11.json — so they sort by staleness)
    # r12: winnowing fingerprints are ONE Arrow ragged-array kernel
    # (flat batch md5 + strided sliding minima + lexsort distinct)
    # replacing the interpreted transform-around-md5 + zip_with
    # doubling passes, and the in-bucket pair emission is two chained
    # Generates replacing the nested transform struct tower. (doc, fp)
    # multiset exceptAll-identical at sf0.01/sf10 (8.44M rows); oracle
    # cell-exact at sf0.001/0.01/0.1; sf10 full row 9.4 -> 6.6 s
    # (alternating same-JVM A/B).
    "dedup_winnowing": 12,
    # r12 (r11 ADVICE): the JL GEMM kernel validates per-row list
    # lengths + null_count before reshaping (ragged rows whose
    # flattened count divides the batch size silently mis-projected;
    # NULL lists shifted alignment). Fail-loud only — valid inputs
    # produce byte-identical output, pinned by a new pytest.
    "embed_random_projection": 12,
    # r12 (r11 ADVICE): connected_components' local finish derives its
    # output id type from the input edge column (int32 ids no longer
    # come back widened to bigint only when the edge count selects the
    # local path); non-integral ids are gated to the loop path, whose
    # _old NULL sentinel now carries the id's own type instead of a
    # hard-coded bigint cast that crashed string ids. Registry graphs
    # are bigint, so their plans/outputs are unchanged; entries force
    # re-verification of the code change.
    "dedup_components": 12,
    "dedup_near_resolve": 12,
    "dedup_quality_resolve": 12,
    # r12 (VERDICT item 7): co-purchase pair generation emits per-basket
    # combinations via collect_set + chained explodes instead of the
    # dropDuplicates + self-join double shuffle of the 60M-row
    # (order, part) relation. Pair relation exceptAll-identical at sf1;
    # full output exceptAll-identical at sf0.1/sf1; oracle cell-exact
    # at sf0.001/0.01/0.1. sf1 full row 6.7 -> 2.9 s, sf10 14.6 -> 14.0
    # quiet (every alternating round faster; loud rounds 23 -> 14).
    # r13: NULL l_orderkey rows are dropped before the basket groupBy.
    "graph_triangle_participation": 13,
    # r13: pairwise_cosine's size-routed tile + flat paths became one
    # sorted-run Arrow kernel (same pairs, bit-identical cosines).
    "dedup_embedding_cosine": 13,
    "sim_lsh_multitable": 13,
    "sim_lsh_bucketed": 13,
    "sim_pairwise_label_blocked": 13,
    # r14: the GeoPackage driver reads through the one range-aware
    # iter_features and always hands its sliced WKB to the reader.
    "gdal_roundtrip_gpkg": 14,
    # r14: the MapInfo TAB driver's whole-layer and ranged reads are one loop.
    "gdal_roundtrip_tab": 14,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered oldest-verification-first: never-verified queries (round 0)
    lead, then ascending round of last green driver check, ties broken by
    registration order — except ``CHANGED_IN_ROUND`` members whose last
    green row predates their change round, which sort as never-verified.
    A 50-query sweep therefore always refreshes the 50 stalest rows plus
    anything whose code changed since its last green row.
    """
    unknown = set(CHANGED_IN_ROUND) - set(QUERIES)
    if unknown:
        # a typo'd or renamed entry would silently skip the forced
        # re-verification this map exists to guarantee
        raise ValueError(
            f"CHANGED_IN_ROUND names unknown queries: {sorted(unknown)}"
        )
    last = _last_verified_round()
    order = {name: i for i, name in enumerate(QUERIES)}

    def _key(n: str):
        forced = last.get(n, 0) < CHANGED_IN_ROUND.get(n, 0)
        return (0 if forced else last.get(n, 0), order[n])

    names = sorted(QUERIES, key=_key)
    return {name: QUERIES[name].func for name in names}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each SQL-expressible query."""
    return {
        name: spec.oracle
        for name, spec in QUERIES.items()
        if spec.oracle is not None
    }
